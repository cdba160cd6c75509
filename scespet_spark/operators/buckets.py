"""Multi-input buckets: N streams bound into one aggregation state with
open/complete lifecycle and atomic same-cycle rendezvous.

Reference semantics (NOT copied — re-expressed set-oriented):
  * ``bindTo``/``bind`` attach N typed input streams to one mutable
    bucket (MacroTerm.scala:273-281,371-374; VectTerm.scala:501-517,
    581-585).
  * Simultaneous events are atomic — a multi-input node fires once per
    graph cycle after all inputs (JoinValueRendezvous,
    SlicedBucket.scala:33-83; SlowGraphWalk.java:82-93).
  * Buckets are re-opened per slice with open()/complete() lifecycle
    (SliceCellLifecycle.scala:13-30).

Spark translation:
  * ``bind`` = tagged union: each input keeps its own value columns,
    other sides' columns are null.  One shuffle-free union; downstream
    grouping shuffles once on (key, bucket).
  * rendezvous = group by (key, cycle_time) *before* aggregating —
    "fires once per cycle after all inputs" becomes one row/group per
    cycle.
  * lifecycle buckets = ``mapInPandas`` over (key, bucket)-partitioned,
    (t, seq)-sorted data: one Python object per bucket, cycles replayed
    in order, the open bucket carried across Arrow batches.  Parallelism
    is the number of (key, bucket) groups — exactly the reference's own
    state granularity — but peak memory is ONE CYCLE, not one group
    (the earlier applyInPandas form materialized each group and paid
    ~3ms of pandas overhead per tiny group: 22s -> ~3s at sf0.01).
    Standard aggs should use the pure-columnar path instead
    (GroupedStream.reduce).
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from ..core.stream import GroupedStream, Stream


def bind(inputs: dict[str, tuple[Stream, Sequence[str]]]) -> Stream:
    """Tagged union of N input streams: output has every side's value
    columns (null when that side didn't fire) plus a ``side`` tag.
    All inputs must share key/t/seq column names (they come from the
    same keyed universe, as in the reference's per-key binds)."""
    first = next(iter(inputs.values()))[0]
    parts = []
    for tag, (s, cols) in inputs.items():
        keep = [*s.keys, s.t, s.seq, *cols]
        parts.append(s.df.select(*keep).withColumn("side", F.lit(tag)))
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p, allowMissingColumns=True)
    return Stream(df, t=first.t, seq=first.seq, keys=tuple(first.keys))


class CycleBucket:
    """Base lifecycle bucket: subclass and override.  ``add_cycle``
    receives ALL rows sharing one cycle time at once (atomic rendezvous,
    like a single calculate() with every input's adder already called)."""

    def open(self) -> None:  # per-slice re-open
        pass

    def add_cycle(self, cycle: pd.DataFrame) -> None:
        raise NotImplementedError

    def value(self) -> dict:
        raise NotImplementedError

    def complete(self) -> None:  # slice close
        pass


def collapse(grouped: GroupedStream, bucket_factory, schema,
             emit: str = "last", cycle_col: str | None = None) -> DataFrame:
    """Run a custom lifecycle bucket over each (key, slice) group
    (reference: collapseWith/collapseK, VectTerm.scala:632-661;
    emission ReduceType.LAST = ``emit='last'``, CUMULATIVE = ``'all'``).

    ``schema`` is the output schema (DDL string or StructType) and must
    contain the stream's key columns, ``t``/``seq``, and every field of
    ``bucket.value()``.  ``cycle_col`` defaults to the event-time column
    (each distinct timestamp is one atomic cycle); cycle values must be
    non-null, non-NaN, and NON-DECREASING within a (key, bucket) group
    in (t, seq) order — boundaries are detected by ADJACENT change in
    the sorted partition, so a recurring non-adjacent cycle value would
    silently split into separate cycles, and NaN != NaN would split
    every row (validated: a decreasing or NaN cycle value raises).

    Execution shape: hash-repartition on (keys, bucket) into
    ``defaultParallelism`` partitions — the same shuffle the previous
    applyInPandas form paid; the explicit count keeps AQE from
    coalescing it to one task, which would run every key's Python fold
    serially — then sort within
    partitions by (keys, bucket, t, seq) and stream the sorted rows
    through ``mapInPandas``.  Bucket/cycle boundaries are found with
    numpy on each Arrow batch; the open bucket object and the final
    (possibly batch-spanning) cycle's rows carry across batches, so
    peak Python memory is one cycle + one bucket object regardless of
    group size."""
    if emit not in ("last", "all"):
        raise ValueError(f"emit must be 'last' or 'all', got {emit!r}")
    s = grouped._with_bucket()
    from ..core.stream import _BUCKET  # internal bucket-id column

    t, seq, keys = s.t, s.seq, list(s.keys)
    cyc = cycle_col or t
    gcols = [*keys, _BUCKET]
    last = emit == "last"

    def run_partition(batches):
        import numpy as np

        bucket = None          # the open bucket object
        gid = None             # (keys..., bucket) identity it belongs to
        key_vals = None        # its output key columns
        last_t = last_seq = None  # its last cycle's (t, seq)
        leftover = None        # rows of a cycle that may continue

        def boundaries(pdf):
            cols = {c: pdf[c].to_numpy()
                    for c in dict.fromkeys([*gcols, cyc, t, seq])}
            n = len(pdf)
            chg = np.zeros(max(n - 1, 0), dtype=bool)
            for c in gcols:
                v = cols[c]
                chg |= v[1:] != v[:-1]
            v = cols[cyc]
            # boundary detection is ADJACENT-change, so the documented
            # contract (non-NaN, non-decreasing per group) must hold or
            # cycles silently split — validate loudly instead
            if v.dtype.kind == "f" and np.isnan(v).any():
                raise ValueError(
                    f"collapse: NaN in cycle column {cyc!r} — NaN != "
                    f"NaN would split every row into its own cycle; "
                    f"cycle values must be non-null and non-NaN")
            if n > 1:
                try:
                    dec = ~chg & np.less(v[1:], v[:-1])
                except TypeError:
                    dec = None  # incomparable dtype: skip the check
                if dec is not None and dec.any():
                    raise ValueError(
                        f"collapse: cycle column {cyc!r} decreases "
                        f"within a (key, bucket) group in (t, seq) "
                        f"order — a recurring cycle value would be "
                        f"silently split; cycle values must be "
                        f"non-decreasing per group")
            chg |= v[1:] != v[:-1]
            return np.concatenate(([0], np.flatnonzero(chg) + 1)), cols

        def do_cycle(pdf, cols, a, b, out):
            nonlocal bucket, gid, key_vals, last_t, last_seq
            g = tuple(cols[c][a] for c in gcols)
            if bucket is not None and g != gid:
                bucket.complete()
                if last:
                    out.append({**key_vals, t: last_t, seq: last_seq,
                                **bucket.value()})
                bucket = None
            if bucket is None:
                bucket = bucket_factory()
                bucket.open()
                gid = g
                key_vals = {k: cols[k][a] for k in keys}
            bucket.add_cycle(pdf.iloc[a:b])
            last_t, last_seq = cols[t][b - 1], cols[seq][b - 1]
            if not last:
                out.append({**key_vals, t: last_t, seq: last_seq,
                            **bucket.value()})

        for pdf in batches:
            if leftover is not None:
                pdf = pd.concat([leftover, pdf], ignore_index=True)
                leftover = None
            if not len(pdf):
                continue
            out = []
            starts, cols = boundaries(pdf)
            for i in range(len(starts) - 1):
                do_cycle(pdf, cols, starts[i], starts[i + 1], out)
            leftover = pdf.iloc[starts[-1]:].reset_index(drop=True)
            if out:
                yield pd.DataFrame(out)
        out = []
        if leftover is not None and len(leftover):
            _, cols = boundaries(leftover)
            do_cycle(leftover, cols, 0, len(leftover), out)
        if bucket is not None:
            bucket.complete()
            if last:
                out.append({**key_vals, t: last_t, seq: last_seq,
                            **bucket.value()})
        if out:
            yield pd.DataFrame(out)

    n = s.df.sparkSession.sparkContext.defaultParallelism
    return (s.df.repartition(n, *gcols)
            .sortWithinPartitions(*gcols, t, seq)
            .mapInPandas(run_partition, schema))
