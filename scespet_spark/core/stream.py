"""Fluent event-stream API compiling to Spark DataFrame plans.

This is the PySpark-native re-expression of the reference's ``Term`` /
``MacroTerm`` (single stream) and ``VectTerm`` (keyed multi-stream)
query surface (reference: src/scespet/core/types.scala:230-369,
src/scespet/core/MacroTerm.scala, src/scespet/core/VectTerm.scala).

Design notes
------------
* A stream is a DataFrame with an event-time column ``t`` and a
  tie-breaking sequence column ``seq`` (see ordering.py).  A *keyed*
  stream ("vector" in the reference) is the same DataFrame with one or
  more key columns — the dynamic, runtime-discovered keyset of the
  reference's ``VectorStream`` (VectorStream.java:12-44) is native to
  ``groupBy`` / ``Window.partitionBy``.
* Plan construction is lazy: every verb returns a new ``Stream`` wrapping
  a transformed DataFrame; Catalyst is the IR (the reference instead
  eagerly wires a push-graph, SlowGraphWalk.java:25).
* Scale: per-key operators partition by key (shuffle once, reuse the
  partitioning); *global* ordered scans are executed with a two-phase
  bucketed prefix aggregation (see ``scan``'s ``buckets`` argument)
  instead of a single-partition window, so they survive 100TB inputs.
"""

from __future__ import annotations

import re
from collections.abc import Iterable, Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec, functions as F

from ..operators._driver import local_frame
from . import ordering

BEFORE = "BEFORE"
AFTER = "AFTER"

# ---------------------------------------------------------------------------
# slice specs (reference: src/scespet/core/SliceTriggerSpec.scala:27-74)
# ---------------------------------------------------------------------------


class Count:
    """Count-based buckets: a bucket closes after ``n`` events.

    Reference: ``n.events`` (SliceTriggerSpec.scala:53-56, NthEvent in
    BucketBuilderImpl.scala:7-21).
    """

    def __init__(self, n: int):
        if n <= 0:
            raise ValueError("Count slice needs n >= 1")
        self.n = n


class Every:
    """Fixed-duration tumbling buckets.

    Reference: Duration slice spec (SliceTriggerSpec.scala:48-52).
    ``duration`` is a Spark interval string like ``"10 minutes"``.
    """

    def __init__(self, duration: str):
        self.duration = duration


class Trigger:
    """Data-driven bucket boundaries with BEFORE/AFTER alignment.

    ``cond`` is a boolean Column evaluated per event of *this* stream
    (the common reference pattern derives the trigger from the stream
    itself, e.g. "slice when price == 10",
    test/programs/TestSingleTerms.scala:163-181).

    Alignment (reference: SliceAlign, src/scespet/util/package.scala:27-42):
    * AFTER  — the boundary event belongs to the *closing* bucket.
    * BEFORE — the boundary event starts the *new* bucket.
    """

    def __init__(self, cond: Column, align: str = AFTER):
        if align not in (BEFORE, AFTER):
            raise ValueError(f"align must be BEFORE or AFTER, got {align}")
        self.cond = cond
        self.align = align


class Termination:
    """Never slice; one bucket per key flushed at end of data.

    Reference: SliceTriggerSpec.TERMINATION (SliceTriggerSpec.scala:28-32).
    """


class Session:
    """Gap-based session buckets: a bucket closes when the next event (of
    the same key) arrives more than ``gap`` after the previous one.

    New capability — absent from the reference (its only time spec is a
    fixed Duration); native to Spark semantics (session_window) and
    expressed here as a lag/running-sum bucket id so both ``scan`` and
    ``reduce`` work.  ``gap`` is a Spark interval string."""

    def __init__(self, gap: str):
        self.gap = gap


class Sliding:
    """Overlapping fixed windows (``duration`` long, advancing every
    ``slide``).  New capability — absent from the reference.  Each event
    belongs to multiple windows: ``reduce`` emits one row per window;
    ``scan`` explodes per-event window membership (``F.window`` with a
    slide generates one row per containing window) and emits the running
    aggregate within EACH window the event belongs to, disambiguated by
    ``win_start``."""

    def __init__(self, duration: str, slide: str):
        self.duration = duration
        self.slide = slide


class TriggerStream:
    """Bucket boundaries driven by a *separate* stream's events.

    Reference: any EventGraphObject / MacroTerm as a slice spec
    (SliceTriggerSpec.scala:57-73).  If both streams are keyed on the
    same columns, each key is sliced by its own trigger events —
    the per-key vector trigger (VectSliceTriggerSpec,
    SliceTriggerSpec.scala:76-118, BucketVectStreamTest.scala:138-158).

    Alignment on timestamp ties (SliceAlign, util/package.scala:27-42):
    AFTER — a data event simultaneous with a trigger joins the *closing*
    bucket; BEFORE — it starts the *new* one.
    """

    def __init__(self, stream: "Stream", align: str = AFTER):
        if align not in (BEFORE, AFTER):
            raise ValueError(f"align must be BEFORE or AFTER, got {align}")
        self.stream = stream
        self.align = align


SliceSpec = Count | Every | Trigger | Termination | TriggerStream | Session | Sliding

_BUCKET = "__bucket"
_GATE = "__gate"
_WIN = "__win"


def _cols(names_or_cols: Iterable[str | Column]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in names_or_cols]


class Stream:
    """A (possibly keyed) event stream over a time-ordered DataFrame."""

    def __init__(self, df: DataFrame, t: str = ordering.T, seq: str = ordering.SEQ,
                 keys: Sequence[str] = ()):
        self.df = df
        self.t = t
        self.seq = seq
        self.keys = tuple(keys)

    # -- construction -------------------------------------------------------

    @classmethod
    def from_parquet(cls, spark, path: str, t: str = ordering.T,
                     seq: str | None = None, keys: Sequence[str] = (),
                     nanos_ts: bool = False) -> "Stream":
        """Register a replayable source (reference: EnvTermBuilder.asStream,
        src/scespet/EnvTermBuilder.scala:47-57; IteratorEvents,
        SimpleEvaluator.scala:33-62).  No sort is materialized — ordering
        is a *convention* consumed lazily by window specs.

        ``nanos_ts=True`` declares that ``t`` is stored as parquet
        TIMESTAMP(NANOS) — under the session's nanosAsLong conf it reads
        as an epoch-nanos long, and is truncated here to a micros
        timestamp exactly as ``load_table`` does for the driver tables
        (INTEGER division; float division corrupts values > 2^53).  It
        cannot be auto-detected: a plain BIGINT event-time column (a
        supported convention) is indistinguishable from the nanos read."""
        from pyspark.sql.types import LongType

        from ..sources.batch import ensure_nanos_conf
        ensure_nanos_conf(spark)  # sessions not built by get_spark
        df = spark.read.parquet(path)
        if nanos_ts:
            if not isinstance(df.schema[t].dataType, LongType):
                raise ValueError(
                    f"nanos_ts=True but column {t!r} read as "
                    f"{df.schema[t].dataType.simpleString()}, not long")
            df = df.withColumn(t, F.timestamp_micros(F.expr(f"`{t}` div 1000")))
        if seq is None:
            seq = "seq"
            df = df.withColumn(seq, F.monotonically_increasing_id())
        return cls(df, t=t, seq=seq, keys=keys)

    def _derive(self, df: DataFrame, keys: Sequence[str] | None = None) -> "Stream":
        return Stream(df, self.t, self.seq, self.keys if keys is None else tuple(keys))

    # -- ordering / window specs -------------------------------------------

    def _order(self) -> list[Column]:
        return ordering.order_cols(self.t, self.seq)

    def _running(self, extra_partition: Sequence[str] = ()) -> WindowSpec:
        parts = list(self.keys) + list(extra_partition)
        w = Window.partitionBy(*parts) if parts else Window.partitionBy()
        return w.orderBy(*self._order()).rowsBetween(Window.unboundedPreceding,
                                                     Window.currentRow)

    # -- projection / filtering (reference: MacroTerm.scala:86-124,
    #    VectTerm.scala:178-277) -------------------------------------------

    def map(self, *cols: Column | str, expose_null: bool = True, **named: Column) -> "Stream":
        """Per-event projection.  ``named`` entries become/replace columns;
        positional entries replace the whole value projection (t/seq/keys
        are always retained).  ``expose_null=False`` drops rows where any
        newly computed column is null (reference: exposeNull flag,
        MacroTerm.scala:86-103)."""
        df = self.df
        new_names: list[str] = []
        if cols:
            keep = [self.t, self.seq, *self.keys]
            projected = _cols(cols)
            df = df.select(*keep, *projected)
            new_names = [c for c in df.columns if c not in keep]
        for name, col in named.items():
            df = df.withColumn(name, col)
            new_names.append(name)
        if not expose_null and new_names:
            cond = None
            for n in new_names:
                c = F.col(n).isNotNull()
                cond = c if cond is None else (cond & c)
            df = df.filter(cond)
        return self._derive(df)

    def filter(self, cond: Column) -> "Stream":
        return self._derive(self.df.filter(cond))

    def filter_type(self, discriminator: str, value: str,
                    fields: Sequence[str] | None = None) -> "Stream":
        """Keep events of one runtime subtype and project its fields.

        Reference: ``filterType[T:ClassTag]`` (types.scala:270-272,
        VectTerm.scala:224-244) — sealed event hierarchies map to a
        discriminator column + per-subtype nullable fields (SURVEY §1.4).
        """
        df = self.df.filter(F.col(discriminator) == F.lit(value))
        if fields is not None:
            df = df.select(self.t, self.seq, *self.keys, *fields)
        return self._derive(df)

    # -- key algebra (reference: MacroTerm.scala:134-138, GroupFunc.scala,
    #    VectTerm.scala / ReKeyedVector.scala / NestedVector.scala) ---------

    def by(self, key: Column | str, name: str = "key") -> "Stream":
        """Demultiplex into a keyed stream (reference: ``by``,
        MacroTerm.scala:134-138).  Dynamic key discovery is native."""
        col = F.col(key) if isinstance(key, str) else key
        df = self.df.withColumn(name, col)
        return self._derive(df, keys=(*self.keys, name))

    def at(self, *key_values) -> "Stream":
        """Select one key's stream (reference: VectTerm.apply,
        VectTerm.scala:63-111)."""
        df = self.df
        for k, v in zip(self.keys, key_values):
            df = df.filter(F.col(k) == F.lit(v))
        return self._derive(df)

    def subset(self, pred: Column) -> "Stream":
        """Keep keys satisfying a predicate (reference: VectTerm.scala:37)."""
        return self._derive(self.df.filter(pred))

    def map_keys(self, new_key: Column, name: str = "key",
                 check_collisions: bool = False) -> "Stream":
        """Re-key K -> Option[K2]; null drops the key; a many-to-one mapping
        is an error in the reference (ReKeyedVector.scala:9-59,
        multi-map error VectorJoin.scala:38-40).  ``check_collisions``
        materializes that assertion (an extra agg — off by default)."""
        df = self.df.withColumn(name, new_key).filter(F.col(name).isNotNull())
        if check_collisions and self.keys:
            old = list(self.keys)
            bad = (df.groupBy(name).agg(F.count_distinct(*_cols(old)).alias("n"))
                   .filter(F.col("n") > 1).limit(1).count())
            if bad:
                raise ValueError(f"map_keys: mapping to '{name}' is not 1:1")
        return self._derive(df, keys=(name,))

    def group_by_second_key(self, key2: Column, name: str = "key2") -> "Stream":
        """Nested grouping (reference: VectTerm.groupby / NestedVector.scala:14-52)
        — flat multi-column grouping replaces nesting."""
        df = self.df.withColumn(name, key2)
        return self._derive(df, keys=(name, *self.keys))

    def value_set(self, expand: Column | None = None, name: str = "value") -> "Stream":
        """Accumulate distinct values, optionally flat-mapping first
        (reference: valueSet/toValueSet, MacroTerm.scala:160-185,
        VectTerm.scala:365-421).  Batch translation keeps the *first*
        occurrence event of each distinct value (set growth events)."""
        df = self.df
        if expand is not None:
            df = df.withColumn(name, F.explode(expand))
        w = (Window.partitionBy(*self.keys, name)
             .orderBy(*self._order()))
        df = (df.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1).drop("__rn"))
        return self._derive(df)

    def key_set(self) -> DataFrame:
        """Distinct keys (reference: toKeySet, VectTerm.scala:355-363)."""
        return self.df.select(*self.keys).dropDuplicates()

    def key_list(self, name: str = "keys") -> "Stream":
        """Stream of the growing key list (reference: keyList,
        VectTerm.scala:43-52): at each event, the sorted set of keys seen
        so far.

        SCALE WARNING — driver of last resort, like plain ``map_vector``:
        the running cross-key set is an inherently sequential global
        ordered window (one partition sorts the whole stream, output is
        O(n*k)).  At scale use ``key_list_at(spine)`` — identical list
        contents at sampled events via a first-seen range-join, no
        global window — or track key *counts* with the decomposable
        ``map_vector(buckets=...)`` path."""
        first_w = Window.partitionBy(*self.keys).orderBy(*self._order())
        df = self.df.withColumn("__first", F.row_number().over(first_w) == 1)
        run = (Window.partitionBy().orderBy(*self._order())
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        key_col = F.col(self.keys[0]) if len(self.keys) == 1 else F.struct(*self.keys)
        df = df.withColumn(
            name,
            F.array_sort(F.collect_set(F.when(F.col("__first"), key_col)).over(run)),
        ).drop("__first")
        return self._derive(df)

    def key_list_at(self, spine: "Stream", name: str = "keys") -> "Stream":
        """Key list SAMPLED at a spine's events — the scale form of
        ``key_list``: the per-event running list is O(rows x keys) and
        inherently serial, but "which keys existed as of time t" needs
        only the per-key FIRST-SEEN table (K rows, a combinable groupBy)
        range-joined against the spine (S rows).  No global window;
        output is S rows.  Keys and spine order by (t, seq) tuples, so
        same-timestamp ties resolve exactly like the running form."""
        if len(self.keys) != 1:
            raise ValueError("key_list_at supports single-key streams")
        k = self.keys[0]
        first = self.df.groupBy(k).agg(
            F.min(F.struct(F.col(self.t), F.col(self.seq))).alias("__fs"))
        sp = spine.df.select(F.col(spine.t).alias(self.t),
                             F.col(spine.seq).alias(self.seq))
        out = (sp.join(F.broadcast(first),
                       F.col("__fs") <= F.struct(F.col(self.t), F.col(self.seq)),
                       "left")
               .groupBy(self.t, self.seq)
               .agg(F.array_sort(F.collect_list(k)).alias(name)))
        return Stream(out, self.t, self.seq, ())

    def key_to_stream(self, factory: "Stream") -> "Stream":
        """Derive a per-key stream from this vector's keyset via a
        factory stream (reference: keyToStream, VectTerm.scala:435-440):
        left-join keys -> streams; keys with no factory events keep a
        null row (the unbound-cell state).  Broadcast the keyset when
        small; Catalyst/AQE picks the strategy otherwise."""
        keys = list(self.keys)
        df = self.key_set().join(factory.df, on=keys, how="left")
        return Stream(df, t=factory.t, seq=factory.seq, keys=tuple(keys))

    def to_stream(self) -> "Stream":
        """Multiplex a keyed stream back to a single stream of (K, X)
        (reference: VectTerm.toStream / VectorToStream.scala:8-76).
        Keyed rows already *are* (K, X) tuples — drop the key marking."""
        return self._derive(self.df, keys=())

    # -- aggregation: scan / reduce (reference: MacroTerm.scala:42-84,
    #    237-240; ReduceType CUMULATIVE vs LAST, types.scala:144-148) -------

    def scan(self, buckets: Column | None = None,
             merge: dict[str, str] | None = None, **aggs: Column) -> "Stream":
        """Running (CUMULATIVE) aggregate emitted on every event
        (reference: ``scan``/``fold_all``).  Pass *unaliased* aggregate
        Columns by output name: ``scan(total=F.sum("value"))``.

        Keyed streams partition by key — fully parallel across keys.
        Pass ``buckets`` (a coarse time-bucket column, e.g.
        ``F.date_trunc('day', F.col('ts'))``) when a single partition's
        sort would not survive the data size: the *global* scan (no keys
        at all) and the *skewed-key* scan (one key holding a huge share
        of the stream) are both computed as within-(key,)bucket running
        window + an exclusive prefix over per-bucket partials joined
        back — shuffles over (K×)B buckets instead of a monolithic
        per-(key)partition sort.  Decomposable aggs only (sum/count-like,
        merge = +) on that path.
        """
        if not aggs:
            raise ValueError("scan needs at least one named aggregate Column")
        if buckets is not None:
            return self._scalable_scan(aggs, buckets, merge)
        w = self._running()
        df = self.df
        for name, a in aggs.items():
            df = df.withColumn(name, a.over(w))
        return self._derive(df)

    #: how a per-bucket total folds into the running prefix, per agg kind:
    #: (prefix aggregate over preceding bucket totals, combine(running, offset))
    _MERGES = {
        "sum": (F.sum, lambda run, off: run + F.coalesce(off, F.lit(0))),
        "max": (F.max, lambda run, off:
                F.when(off.isNull(), run).otherwise(F.greatest(run, off))),
        "min": (F.min, lambda run, off:
                F.when(off.isNull(), run).otherwise(F.least(run, off))),
    }

    def _scalable_scan(self, aggs: dict[str, Column], buckets: Column,
                       merge: dict[str, str] | None = None,
                       cross_key: bool = False) -> "Stream":
        # Two-phase prefix aggregation. Phase 1: per-(key, bucket) running
        # values (parallel across buckets, so a skewed key's rows spread
        # over its B buckets). Phase 2: exclusive prefix of per-bucket
        # totals (K x B rows, one small window per key) joined back —
        # broadcast when keyless (B rows); AQE decides for keyed offsets.
        # ``merge`` names each aggregate's combine semantics ("sum" default,
        # "max"/"min" for extrema); ``cross_key`` computes the running value
        # across ALL keys (mapVector) instead of per key.
        merge = merge or {}
        bad = set(merge.values()) - set(self._MERGES)
        if bad:
            raise ValueError(f"unsupported merge kinds: {bad}")
        unknown = set(merge) - set(aggs)
        if unknown:
            raise ValueError(
                f"merge names unknown aggregates: {sorted(unknown)} "
                f"(aggregates are {sorted(aggs)})")
        # An aggregate without an explicit merge kind folds as "sum"; if
        # its expression is visibly an extremum that silently computes
        # wrong running values (bucket maxima get summed) — refuse.
        for name, a in aggs.items():
            if name in merge:
                continue
            m = re.match(r"Column<'(\w+)\(", str(a))
            if m and m.group(1).lower() in ("max", "min"):
                raise ValueError(
                    f"aggregate {name!r} is {m.group(1)}() but has no "
                    f"merge kind; pass merge={{'{name}': "
                    f"'{m.group(1).lower()}'}}")
        keys = [] if cross_key else list(self.keys)
        df = self.df.withColumn(_BUCKET, buckets)
        names = list(aggs)
        w_in = (Window.partitionBy(*keys, _BUCKET).orderBy(*self._order())
                .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        for name, a in aggs.items():
            df = df.withColumn(name, a.over(w_in))
        # Bucket total = running value at the bucket's LAST row in replay
        # order (max_by on the (t, seq) struct) — NOT F.max of the running
        # column, which diverges whenever the aggregate is non-monotone
        # (e.g. sums over negative deltas/refunds).
        last_row = F.struct(F.col(self.t), F.col(self.seq))
        partials = df.groupBy(*keys, _BUCKET).agg(
            *[F.max_by(F.col(n), last_row).alias(f"__tot_{n}") for n in names])
        w_pref = (Window.partitionBy(*keys).orderBy(_BUCKET)
                  .rowsBetween(Window.unboundedPreceding, -1))
        offsets = partials.select(
            *keys, _BUCKET,
            *[self._MERGES[merge.get(n, "sum")][0](f"__tot_{n}").over(w_pref)
              .alias(f"__off_{n}") for n in names])
        # null-SAFE join keys: a bucket expression evaluating to null
        # (e.g. date_trunc of a null timestamp) groups fine in partials,
        # but plain equi-join equality would silently drop those rows —
        # the plain scan keeps them (nulls sort first), so must we
        offsets = offsets.select(
            *[F.col(k).alias(f"__jk_{k}") for k in keys],
            F.col(_BUCKET).alias("__jb"),
            *[F.col(f"__off_{n}") for n in names])
        if not keys:
            offsets = F.broadcast(offsets)
        cond = [F.col(k).eqNullSafe(F.col(f"__jk_{k}")) for k in keys]
        cond.append(F.col(_BUCKET).eqNullSafe(F.col("__jb")))
        out = df.join(offsets, cond).drop("__jb",
                                          *[f"__jk_{k}" for k in keys])
        for n in names:
            combine = self._MERGES[merge.get(n, "sum")][1]
            out = out.withColumn(n, combine(F.col(n), F.col(f"__off_{n}")))
        out = out.drop(_BUCKET, *[f"__off_{n}" for n in names])
        return self._derive(out)

    def reduce(self, *aggs: Column) -> DataFrame:
        """Final (LAST) aggregate per key, flushed at termination
        (reference: ``reduce``/``reduce_all``, MacroTerm.scala:63-84).
        Batch end *is* the termination event (SimpleEnv.scala:93)."""
        if self.keys:
            return self.df.groupBy(*self.keys).agg(*aggs)
        return self.df.agg(*aggs)

    # -- slicing (reference: group(), MacroTerm.scala:262-265;
    #    engines SliceAfterBucket.scala / SliceBeforeBucket.scala) ----------

    def group(self, spec: SliceSpec) -> "GroupedStream":
        return GroupedStream(self, spec)

    # -- boolean-gated windows (reference: window(), MacroTerm.scala:242-259;
    #    WindowedBucket_*.scala) --------------------------------------------

    def window(self, gate: Column) -> "WindowedStream":
        """Gated windows: aggregate only while ``gate`` is true; a window
        closes on the falling edge.  ``gate`` is evaluated per event of
        this stream; a gate update at the same event-time as a data row
        governs that row — this reproduces both "open includes same-cycle
        data" and "close beats same-cycle data"
        (WindowedBucket_LastValue.scala:10-11, BucketStreamTest.scala:187-204).
        """
        return WindowedStream(self, gate)

    def window_from(self, gate_stream: "Stream", gate_col: str) -> "WindowedStream":
        """Gate driven by a *separate* boolean stream: as-of join the gate
        onto this stream (gate-first on timestamp ties = close beats data),
        then gate as in ``window``."""
        joined = _asof_gate(self, gate_stream, gate_col)
        return WindowedStream(joined, F.col(_GATE))

    # -- temporal joins (reference: MacroTerm.scala:190-230,
    #    VectorJoin.scala:16-133) -------------------------------------------

    def zip_join(self, other: "Stream", left_cols: Sequence[str],
                 right_cols: Sequence[str],
                 key_map: "Column | dict | Sequence | None" = None) -> "Stream":
        """Emit (x.latest, y.latest) whenever *either* side fires
        (reference: ``join``, MacroTerm.scala:190-204).  Keyed streams
        join per key (reference: VectTerm.join / VectorJoin.scala).
        Before a side's first event its columns are null
        (VectorJoin.scala:55-66).

        ``key_map`` joins differently-keyed vectors (reference:
        ``VectTerm.join[Y,K2](other, keyMap)``, VectTerm.scala:454-456):
        a Column expression over this stream's key producing the other
        stream's key, or an explicit K->K2 mapping (dict / pair list).
        The output stays keyed by THIS stream's key; many left cells may
        bind one right cell, but a left cell bound to multiple right
        cells raises, mirroring VectorJoin.scala:38-40."""
        if key_map is not None:
            return _keymap_zip_join(self, other, left_cols, right_cols, key_map)
        return _temporal_join(self, other, left_cols, right_cols, emit="both")

    def take(self, other: "Stream", left_cols: Sequence[str],
             right_cols: Sequence[str],
             key_map: "Column | dict | Sequence | None" = None,
             broadcast_state: bool = False) -> "Stream":
        """Emit (x.latest, y) only when *y* fires — an as-of join
        (reference: ``take``, MacroTerm.scala:209-221).  ``key_map``
        as in ``zip_join`` (reference ``VectTerm.take(other, keyMap)``,
        VectTerm.scala:458-460).

        ``broadcast_state=True`` selects the broadcast-interval physical
        strategy (SURVEY §7's optional optimized as-of join) for the
        common scale shape where THIS stream (the sampled state) is
        small and ``other`` (the trigger/fact stream) is huge: state
        rows become per-key validity intervals, broadcast, and the fact
        stream resolves its as-of value with a map-side join — the
        100 TB side is never shuffled (the union+window form exchanges
        both sides).  Identical emission semantics, plan-tested.
        Incompatible with ``key_map`` (the broadcast strategy has no
        key-mapping form) — combining them raises."""
        if key_map is not None:
            if broadcast_state:
                raise ValueError(
                    "take: broadcast_state=True is not supported with "
                    "key_map (the broadcast-interval strategy has no "
                    "key-mapping form)")
            return _keymap_take_join(self, other, left_cols, right_cols,
                                     key_map)
        if broadcast_state:
            return _broadcast_asof(self, other, left_cols, right_cols)
        return _temporal_join(self, other, left_cols, right_cols, emit="right")

    def sample(self, trigger: "Stream", value_cols: Sequence[str],
               key_map: "Column | dict | Sequence | None" = None,
               broadcast_state: bool = False) -> "Stream":
        """Snapshot this stream's latest value whenever ``trigger`` fires
        (reference: ``sample``, MacroTerm.scala:226-230; keyed form
        VectTerm.scala:468-482).  ``broadcast_state`` as in ``take``
        (and likewise incompatible with ``key_map``)."""
        if key_map is not None:
            if broadcast_state:
                raise ValueError(
                    "sample: broadcast_state=True is not supported with "
                    "key_map (the broadcast-interval strategy has no "
                    "key-mapping form)")
            return _keymap_take_join(self, trigger, value_cols, [],
                                     key_map)
        if broadcast_state:
            return _broadcast_asof(self, trigger, value_cols, [])
        return _temporal_join(self, trigger, value_cols, [], emit="right")

    # -- cross-key snapshot aggregation (reference: mapVector,
    #    VectTerm.scala:145-176) --------------------------------------------

    def map_vector(self, buckets: Column | None = None,
                   merge: dict[str, str] | None = None,
                   **aggs: Column) -> "Stream":
        """Function of the whole current vector at each event: a running
        aggregate *across keys* in event order.

        The plain form is a global ordered window — one partition does all
        the work.  For decomposable aggregates pass ``buckets`` (a coarse
        time-bucket column) and per-agg ``merge`` kinds ("sum" default,
        "max"/"min"): the running value is then computed with the same
        two-phase prefix aggregation as ``scan(buckets=...)`` — parallel
        across buckets, no single-partition sort of the full stream.
        """
        if buckets is not None:
            return self._scalable_scan(aggs, buckets, merge, cross_key=True)
        w = (Window.partitionBy().orderBy(*self._order())
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        df = self.df
        for name, a in aggs.items():
            df = df.withColumn(name, a.over(w))
        return self._derive(df)


# ---------------------------------------------------------------------------
# grouped (sliced) streams
# ---------------------------------------------------------------------------


def _last_pos(s: "Stream") -> Column:
    """Aggregate: the (t, seq) pair of the group's last event, as one
    lexicographic struct max — the pair always names a REAL row, unlike
    independent max(t)/max(seq) (exactly the pitfall _scalable_scan's
    max_by comment documents)."""
    return F.max(F.struct(F.col(s.t).alias("t"),
                          F.col(s.seq).alias("s"))).alias("__pos")


def _split_pos(df: DataFrame, s: "Stream") -> DataFrame:
    return (df.withColumn(s.t, F.col("__pos.t"))
            .withColumn(s.seq, F.col("__pos.s"))
            .drop("__pos"))


class GroupedStream:
    """A stream partitioned into consecutive buckets by a slice spec.

    ``scan`` = CUMULATIVE emission (every event), ``reduce`` = LAST
    emission at bucket close; the final partial bucket flushes at
    termination (reference: SliceAfterBucket.scala:163-166).
    """

    def __init__(self, stream: Stream, spec: SliceSpec):
        self.stream = stream
        self.spec = spec

    def _with_bucket(self) -> Stream:
        s = self.stream
        spec = self.spec
        if isinstance(spec, Count):
            w = Window.partitionBy(*s.keys).orderBy(*s._order())
            b = F.floor((F.row_number().over(w) - F.lit(1)) / F.lit(spec.n))
        elif isinstance(spec, Every):
            b = F.window(F.col(s.t), spec.duration).getField("start")
        elif isinstance(spec, Trigger):
            flag = F.when(spec.cond, F.lit(1)).otherwise(F.lit(0))
            w_inc = (Window.partitionBy(*s.keys).orderBy(*s._order())
                     .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            inc = F.sum(flag).over(w_inc)
            # BEFORE: boundary row starts the new bucket (inclusive count);
            # AFTER: boundary row closes the old bucket (exclusive count).
            b = inc if spec.align == BEFORE else (inc - flag)
        elif isinstance(spec, Termination):
            b = F.lit(0)
        elif isinstance(spec, Session):
            # Boundary semantic pinned to native session_window, verified
            # empirically (test_session_exact_gap_boundary_batch_equals_live):
            # an event arriving exactly ``gap`` after the previous one
            # MERGES into the session (new session only when strictly
            # greater), the same tie rule F.session_window applies.
            w_lag = Window.partitionBy(*s.keys).orderBy(*s._order())
            prev = F.lag(F.col(s.t)).over(w_lag)
            gap_us = F.lit(0).cast("timestamp") + F.expr(f"INTERVAL {spec.gap}")
            new_sess = (prev.isNull() |
                        (F.unix_micros(F.col(s.t)) - F.unix_micros(prev)
                         > F.unix_micros(gap_us)))
            w_run = w_lag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            b = F.sum(new_sess.cast("long")).over(w_run)
        elif isinstance(spec, TriggerStream):
            return self._with_trigger_stream_bucket(spec)
        elif isinstance(spec, Sliding):
            raise TypeError("Sliding buckets are handled inside scan/"
                            "reduce (membership explode), not here")
        else:  # pragma: no cover
            raise TypeError(f"unknown slice spec {spec!r}")
        return s._derive(s.df.withColumn(_BUCKET, b))

    def _with_trigger_stream_bucket(self, spec: TriggerStream) -> Stream:
        """Union-by-time boundary counting: tag trigger rows, order so the
        alignment decides who wins a timestamp tie, running-sum the
        trigger flags, drop the trigger rows.  One shuffle (the per-key
        window sort) — same cost shape as the temporal joins."""
        s = self.stream
        trig = spec.stream
        if trig.keys != s.keys:
            raise ValueError("trigger-stream slicing requires identical key "
                             f"columns ({s.keys} vs {trig.keys})")
        keys = list(s.keys)
        data_cols = [c for c in s.df.columns if c not in {s.t, s.seq, *keys}]
        d = s.df.select(
            F.col(s.t), F.col(s.seq), *keys, *data_cols,
            F.lit(0).alias("__trig"))
        g = trig.df.select(
            F.col(trig.t).alias(s.t), F.col(trig.seq).alias(s.seq), *keys,
            *[F.lit(None).cast(s.df.schema[c].dataType).alias(c)
              for c in data_cols],
            F.lit(1).alias("__trig"))
        u = d.unionByName(g)
        # AFTER: trigger sorts after data at equal t (data joins the
        # closing bucket); BEFORE: trigger first (data starts the new one)
        side = (F.col("__trig").asc() if spec.align == AFTER
                else F.col("__trig").desc())
        w = (Window.partitionBy(*keys)
             .orderBy(F.col(s.t).asc(), side, F.col(s.seq).asc())
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        u = u.withColumn(_BUCKET, F.sum("__trig").over(w) - F.col("__trig"))
        u = u.filter(F.col("__trig") == 0).drop("__trig")
        return s._derive(u)

    def scan(self, **aggs: Column) -> Stream:
        if isinstance(self.spec, Sliding):
            # explode per-event window membership (F.window with a slide
            # generates one row per containing window — a constant
            # duration/slide factor), then an ordinary per-(key, window)
            # running window.  Windows are time-bounded, so partitions
            # stay bounded at any scale.
            s = self.stream
            df = s.df.withColumn(
                _BUCKET, F.window(F.col(s.t), self.spec.duration,
                                  self.spec.slide))
            w = (Window.partitionBy(*s.keys, _BUCKET).orderBy(*s._order())
                 .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            for name, a in aggs.items():
                df = df.withColumn(name, a.over(w))
            df = (df.withColumn("win_start", F.col(_BUCKET).getField("start"))
                  .drop(_BUCKET))
            return s._derive(df)
        s = self._with_bucket()
        w = s._running(extra_partition=[_BUCKET])
        df = s.df
        for name, a in aggs.items():
            df = df.withColumn(name, a.over(w))
        return s._derive(df.drop(_BUCKET))

    def reduce(self, **aggs: Column) -> Stream:
        """One row per bucket, emitted at the bucket's last event time —
        the (t, seq) PAIR of the bucket's last event by (t, seq) order
        (a lexicographic struct max), never independent max(t)/max(seq),
        which could name a row that doesn't exist when seq is not
        monotone with t."""
        if isinstance(self.spec, Sliding):
            s = self.stream
            out = (s.df.groupBy(
                *s.keys,
                F.window(F.col(s.t), self.spec.duration,
                         self.spec.slide).alias(_BUCKET))
                .agg(_last_pos(s), *[a.alias(n) for n, a in aggs.items()])
                .withColumn("win_start", F.col(_BUCKET).getField("start")))
            return s._derive(_split_pos(out, s).drop(_BUCKET))
        s = self._with_bucket()
        out = (s.df.groupBy(*s.keys, _BUCKET)
               .agg(_last_pos(s), *[a.alias(n) for n, a in aggs.items()]))
        return s._derive(_split_pos(out, s).drop(_BUCKET))


# ---------------------------------------------------------------------------
# boolean-gated windows
# ---------------------------------------------------------------------------


class WindowedStream:
    """Sessionization by a boolean gate (reference: window(),
    WindowedBucket_Continuous.scala / WindowedBucket_LastValue.scala).

    Window id = running count of rising edges; events are in-window iff
    the gate is true *at* that event.  ``reduce`` emits only *closed*
    windows (a window still open at termination does not emit —
    semantics fixed by TestSingleTerms.scala:193-212 "reduce while",
    where the trailing Open..512 never emits)."""

    def __init__(self, stream: Stream, gate: Column):
        self.stream = stream
        self.gate = gate

    def _with_window_id(self) -> Stream:
        s = self.stream
        df = s.df.withColumn(_GATE, self.gate)
        w_lag = Window.partitionBy(*s.keys).orderBy(*s._order())
        rising = F.col(_GATE) & ~F.coalesce(F.lag(_GATE).over(w_lag), F.lit(False))
        w_run = w_lag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        df = df.withColumn(_WIN, F.sum(rising.cast("long")).over(w_run))
        return s._derive(df)

    def scan(self, **aggs: Column) -> Stream:
        s = self._with_window_id()
        w = s._running(extra_partition=[_WIN])
        df = s.df
        for name, a in aggs.items():
            df = df.withColumn(name, a.over(w))
        df = df.filter(F.col(_GATE)).drop(_GATE, _WIN)
        return s._derive(df)

    def reduce(self, **aggs: Column) -> Stream:
        s = self._with_window_id()
        # a window is closed iff some row after it (same key) has gate=false,
        # i.e. it is not the final window, or the final gate value is false.
        w_key = Window.partitionBy(*s.keys)
        df = (s.df
              .withColumn("__max_win", F.max(_WIN).over(w_key))
              .withColumn("__last_gate",
                          F.last(_GATE).over(
                              Window.partitionBy(*s.keys).orderBy(*s._order())
                              .rowsBetween(Window.unboundedPreceding,
                                           Window.unboundedFollowing))))
        closed = (F.col(_WIN) < F.col("__max_win")) | ~F.col("__last_gate")
        df = df.filter(F.col(_GATE) & closed)
        out = (df.groupBy(*s.keys, _WIN)
               .agg(_last_pos(s), *[a.alias(n) for n, a in aggs.items()]))
        return s._derive(_split_pos(out, s).drop(_WIN))


# ---------------------------------------------------------------------------
# temporal-join internals
# ---------------------------------------------------------------------------


def _temporal_join(left: Stream, right: Stream, left_cols: Sequence[str],
                   right_cols: Sequence[str], emit: str) -> Stream:
    """Union-by-time + forward-fill implementation of zip/take/sample
    (SURVEY §4 item 1).  Scales: the only shuffle is the window partition
    by key; for unkeyed joins at very large scale, pre-bucket by coarse
    time range first (the fill is per-key in every realistic workload).
    """
    if left.keys != right.keys:
        raise ValueError("temporal join requires identical key columns "
                         f"({left.keys} vs {right.keys})")
    keys = list(left.keys)
    lc = [c for c in left_cols if c not in keys]
    rc = [c for c in right_cols if c not in keys]

    # values travel in single-field marker STRUCTS: the other side's
    # padding is a null struct (skipped by the ignorenulls fill), while a
    # row's own null VALUE is a non-null struct wrapping null — a real
    # update that makes "latest" null, matching the live zip/asof state
    # semantics and the broadcast/interval forms (which carry actual
    # rows and so never confused padding with null updates)
    def _wrap(c, side_df):
        return F.struct(F.col(c).alias("v"))

    def _pad(c, side_df):
        ddl = side_df.schema[c].dataType.simpleString()
        return F.lit(None).cast(f"struct<v: {ddl}>")

    lt = left.df.select(
        F.col(left.t).alias("ts_"), F.col(left.seq).alias("seq_"),
        *keys,
        F.lit(0).alias("__side"),
        *[_wrap(c, left.df).alias(f"__l_{c}") for c in lc],
        *[_pad(c, right.df).alias(f"__r_{c}") for c in rc],
    )
    rt = right.df.select(
        F.col(right.t).alias("ts_"), F.col(right.seq).alias("seq_"),
        *keys,
        F.lit(1).alias("__side"),
        *[_pad(c, left.df).alias(f"__l_{c}") for c in lc],
        *[_wrap(c, right.df).alias(f"__r_{c}") for c in rc],
    )
    u = lt.unionByName(rt)
    w = (Window.partitionBy(*keys)
         .orderBy(F.col("ts_").asc(), F.col("seq_").asc(), F.col("__side").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    for c in lc:
        u = u.withColumn(f"__l_{c}", F.last(f"__l_{c}", ignorenulls=True).over(w))
    if emit == "both":
        for c in rc:
            u = u.withColumn(f"__r_{c}", F.last(f"__r_{c}", ignorenulls=True).over(w))
    else:
        u = u.filter(F.col("__side") == 1)
    sel = [F.col("ts_").alias(left.t), F.col("seq_").alias(left.seq), *keys]
    sel += [F.col(f"__l_{c}").getField("v").alias(c) for c in lc]
    sel += [F.col(f"__r_{c}").getField("v").alias(c) for c in rc]
    out = u.select(*sel)
    return Stream(out, left.t, left.seq, tuple(keys))


def _broadcast_asof(left: Stream, right: Stream, left_cols: Sequence[str],
                    right_cols: Sequence[str]) -> Stream:
    """Broadcast-interval as-of join: ``left`` (small state) becomes
    per-key validity intervals ``[(t, seq), next (t, seq))``; each
    ``right`` row resolves its as-of value via a broadcast left-outer
    join with lexicographic struct containment.  Exactly one interval
    matches per row (intervals partition the timeline), so row count
    and emission semantics equal ``_temporal_join(emit="right")`` —
    including null columns before the first left value and same-(t, seq)
    left rows being visible (struct >= start mirrors the union form's
    (ts, seq, side) order with left side 0).  The right side plans with
    NO Exchange — the property that matters when it is the 100 TB one."""
    if left.keys != right.keys:
        raise ValueError("temporal join requires identical key columns "
                         f"({left.keys} vs {right.keys})")
    keys = list(left.keys)
    lc = [c for c in left_cols if c not in keys]
    rc = [c for c in right_cols if c not in keys]
    iv, containment = _interval_table(left, keys, lc)
    r = right.df.alias("r")
    l = F.broadcast(iv).alias("l")
    rpos = F.struct(F.col(f"r.{right.t}").alias("t"),
                    F.col(f"r.{right.seq}").alias("s"))
    cond = ([F.col(f"r.{k}").eqNullSafe(F.col(f"l.{k}")) for k in keys]
            + containment(rpos))
    joined = r.join(l, cond, "left")
    sel = [F.col(f"r.{right.t}").alias(left.t),
           F.col(f"r.{right.seq}").alias(left.seq),
           *[F.col(f"r.{k}").alias(k) for k in keys]]
    sel += [F.col(f"l.__l_{c}").alias(c) for c in lc]
    sel += [F.col(f"r.{c}").alias(c) for c in rc]
    return Stream(joined.select(*sel), left.t, left.seq, tuple(keys))


def _interval_table(left: Stream, keys: list[str],
                    value_cols: list[str]):
    """Per-key validity intervals of a state stream: one row per left
    event with ``__start = (t, seq)``, ``__end = next (t, seq)`` (null
    for the last), and the value columns as ``__l_*``.  The tie-break
    contract both consumers rely on: joining with ``rpos >= __start``
    makes a left row at the same (t, seq) as a right event VISIBLE,
    mirroring the union form's (ts, seq, side) order with left side 0.
    Returns ``(iv, containment)`` where ``containment(rpos)`` is the
    [start, end) filter list for an alias ``l`` of ``iv``."""
    pos = F.struct(F.col(left.t).alias("t"), F.col(left.seq).alias("s"))
    lw = Window.partitionBy(*keys).orderBy(
        *ordering.order_cols(left.t, left.seq))
    iv = left.df.select(
        *keys,
        pos.alias("__start"),
        F.lead(pos).over(lw).alias("__end"),
        *[F.col(c).alias(f"__l_{c}") for c in value_cols])

    def containment(rpos):
        return [rpos >= F.col("l.__start"),
                F.col("l.__end").isNull() | (rpos < F.col("l.__end"))]

    return iv, containment


def _keymap_bind(left: Stream, right: Stream, key_map):
    """Shared front half of the keymap joins: attach the bound right key
    ``__jk`` to the left stream and derive the guarded left key-universe
    (one row per left key with its bound right key; the multi-map
    assertion of VectorJoin.scala:38-40 rides the keyset plan for the
    Column form, driver-side for the dict form).  Returns
    ``(lk, rk, lmapped, keyset)``."""
    if len(left.keys) != 1 or len(right.keys) != 1:
        raise ValueError("key_map join requires single-key streams "
                         f"({left.keys} vs {right.keys})")
    lk, rk = left.keys[0], right.keys[0]
    if isinstance(key_map, Column):
        lmapped = left.df.withColumn("__jk", key_map)
    else:
        pairs = (list(key_map.items()) if isinstance(key_map, dict)
                 else [tuple(p) for p in key_map])
        from collections import Counter
        dups = [k for k, n in Counter(k for k, _ in pairs).items() if n > 1]
        if dups:
            mapped = sorted({k2 for k, k2 in pairs if k in dups})
            raise ValueError(
                f"key_map binds left key(s) {dups} to multiple right keys "
                f"{mapped} (reference multi-map error, VectorJoin.scala:38-40)")
        spark = left.df.sparkSession
        lk_type = left.df.schema[lk].dataType.simpleString()
        rk_type = right.df.schema[rk].dataType.simpleString()
        mdf = local_frame(spark, pairs, f"{lk} {lk_type}, __jk {rk_type}")
        lmapped = left.df.join(F.broadcast(mdf), lk, "left")
    if lk != rk and lk in right.df.columns:
        raise ValueError(f"right stream already has a column named '{lk}'; "
                         "rename it before a key_map join")
    # the left key-universe with its bound right key: one row per left key
    keyset = (lmapped.select(F.col(lk).alias("__lk"), "__jk")
              .where(F.col("__jk").isNotNull()).distinct())
    if isinstance(key_map, Column):
        # multi-map guard for the row-expression form (the dict form is
        # checked driver-side above): the distinct keyset must bind each
        # left key to exactly ONE right key, else emissions silently
        # duplicate.  In-plan assert so the check rides the same job.
        guard = F.assert_true(
            F.count("*").over(Window.partitionBy("__lk")) == F.lit(1),
            F.concat(F.lit("key_map binds left key '"),
                     F.col("__lk").cast("string"),
                     F.lit("' to multiple right keys (reference "
                           "multi-map error, VectorJoin.scala:38-40)")))
        keyset = keyset.withColumn("__jk",
                                   F.when(guard.isNull(), F.col("__jk")))
    return lk, rk, lmapped, keyset


def _keymap_zip_join(left: Stream, right: Stream, left_cols: Sequence[str],
                     right_cols: Sequence[str], key_map,
                     emit: str = "both") -> Stream:
    """K -> K2 vector join (reference: VectorJoin.scala:16-133): each left
    cell k binds the right cell ``key_map(k)``; either side firing emits
    (x.latest, y.latest) under the LEFT key.

    Set-oriented translation: replicate right events to the left keys
    that bind them (an equi-join of the right stream against the tiny
    left key-universe — broadcastable), then run the standard per-key
    temporal join.  A right event with no live left cell yet (the left
    key's first event is later) emits nothing, but its value IS visible
    to the cell once created — exactly the reference's bind-time
    ``calculate()`` reading the current y value (VectorJoin.scala:50-70).

    The replicate-then-window shape is required only for ``emit="both"``
    (a right event must fire every live cell's running zip state);
    ``take``/``sample`` (emit="right") use the compact
    ``_keymap_take_join`` instead.

    Errors: a left cell binding multiple right cells raises ValueError
    (the multi-map guard, VectorJoin.scala:38-40).  Unmapped left keys
    (null / absent mapping) keep a forever-null right side — the
    unbound-cell state.

    r12 optimization (guide §2.4 — remove the shuffle outright): the
    ``emit="both"`` plan is now the UNION of two compact interval
    joins — right-side emissions from `_keymap_take_join` (identical
    by the pinned take==zip(emit='right') parity) plus left-side
    emissions from a REVERSED as-of: right events become per-bucket
    validity intervals (one window over the RIGHT stream only) and
    each left event resolves its latest bucket value with a left
    equi-join.  The old replicate-right-into-every-cell union +
    per-cell window (which sorted the full fan-out) survives only as
    the ``emit="right"`` reference form the parity test checks the
    compact plans against.  Boundary convention mirrors the union
    form's (ts, seq, side) order with left side 0: a left event at the
    same (t, seq) as a right event does NOT see it (strict
    ``pos > __start``) but DOES still see the previous interval
    (``pos <= __end``)."""
    if emit == "both":
        # the multi-map guard rides the take half's keyset plan
        lk, rk, lmapped, _ks = _keymap_bind(left, right, key_map)
        lc = [c for c in left_cols if c != lk]
        rc = [c for c in right_cols if c != rk]
        rrows = _keymap_take_join(left, right, left_cols, right_cols,
                                  key_map).df
        riv, _ = _interval_table(right, [rk], rc)
        l = lmapped.alias("zl")
        rv = riv.alias("zr")
        lpos = F.struct(F.col(f"zl.{left.t}").alias("t"),
                        F.col(f"zl.{left.seq}").alias("s"))
        cond = [F.col("zl.__jk") == F.col(f"zr.{rk}"),
                lpos > F.col("zr.__start"),
                F.col("zr.__end").isNull() | (lpos <= F.col("zr.__end"))]
        lsel = [F.col(f"zl.{left.t}").alias(left.t),
                F.col(f"zl.{left.seq}").alias(left.seq),
                F.col(f"zl.{lk}").alias(lk)]
        lsel += [F.col(f"zl.{c}").alias(c) for c in lc]
        lsel += [F.col(f"zr.__l_{c}").alias(c) for c in rc]
        lrows = l.join(rv, cond, "left").select(*lsel)
        return Stream(lrows.unionByName(
            rrows.select(*[c for c in lrows.columns])),
            left.t, left.seq, (lk,))
    lk, rk, lmapped, keyset = _keymap_bind(left, right, key_map)
    rx = (right.df.join(keyset, right.df[rk] == keyset["__jk"])
          .drop("__jk").drop(right.df[rk])
          .withColumnRenamed("__lk", lk))
    right2 = Stream(rx, t=right.t, seq=right.seq, keys=(lk,))
    # explicit liveness marker: a cell exists from the key's FIRST left
    # event regardless of value nullness (legitimately-null left values
    # must not suppress emissions), so forward-fill a literal 1 instead
    # of inferring liveness from the value columns
    left2 = left._derive(lmapped.drop("__jk").withColumn("__cell", F.lit(1)))
    out = _temporal_join(left2, right2, [*left_cols, "__cell"], right_cols,
                         emit=emit)
    # right events fire only EXISTING cells: before a left key's first
    # event there is no cell — those rows are bind-time history, not
    # emissions
    return out._derive(out.df.filter(F.col("__cell").isNotNull())
                       .drop("__cell"))


def _keymap_take_join(left: Stream, right: Stream, left_cols: Sequence[str],
                      right_cols: Sequence[str], key_map) -> Stream:
    """Compact keymap take/sample (emit="right"): same emissions as
    ``_keymap_zip_join(emit="right")`` — each right event fires every
    LIVE left cell in its bucket with (x.latest, y) — but the plan never
    replicates right events into a window sort.  The left stream becomes
    per-cell validity intervals ``[(t, seq), next (t, seq))`` (ONE
    window, left rows only), and right events resolve their live cells
    with a single bucket-key equi-join (interval containment as the join
    filter).  The window input is O(left); right rows enter the join one
    row each; the fan-out happens only in the join OUTPUT, which is the
    emission set itself — the minimum possible.

    Semantics pinned to the union+window form: liveness from the cell's
    first event regardless of value nullness; a left state row at the
    same (t, seq) as a right event is visible (struct >= start mirrors
    the (ts, seq, side) order with left side 0); unmapped left keys
    never emit (no right events bind them).  Reference: VectTerm.take/
    sample with keyMap (VectTerm.scala:458-460), multi-map guard
    VectorJoin.scala:38-40."""
    lk, rk, lmapped, keyset = _keymap_bind(left, right, key_map)
    lc = [c for c in left_cols if c != lk]
    rc = [c for c in right_cols if c != rk]
    iv, containment = _interval_table(left, [lk], lc)
    # attach the guarded bound key; inner join drops unmapped cells
    # (they can never receive a right event)
    iv = iv.join(keyset, iv[lk] == keyset["__lk"]).drop("__lk")
    r = right.df.alias("r")
    l = iv.alias("l")
    rpos = F.struct(F.col(f"r.{right.t}").alias("t"),
                    F.col(f"r.{right.seq}").alias("s"))
    cond = [F.col(f"r.{rk}") == F.col("l.__jk")] + containment(rpos)
    joined = r.join(l, cond, "inner")
    sel = [F.col(f"r.{right.t}").alias(left.t),
           F.col(f"r.{right.seq}").alias(left.seq),
           F.col(f"l.{lk}").alias(lk)]
    sel += [F.col(f"l.__l_{c}").alias(c) for c in lc]
    sel += [F.col(f"r.{c}").alias(c) for c in rc]
    return Stream(joined.select(*sel), left.t, left.seq, (lk,))


def _asof_gate(data: Stream, gate_stream: Stream, gate_col: str) -> Stream:
    """Forward-fill a boolean gate stream onto a data stream.  On equal
    timestamps the gate sorts *first* so a same-time close excludes the
    data row (close-beats-data, WindowedBucket_LastValue.scala:10-11) and
    a same-time open includes it."""
    keys = list(data.keys)
    d = data.df.withColumn("__side", F.lit(1)).withColumn(_GATE, F.lit(None).cast("boolean"))
    g = gate_stream.df.select(
        F.col(gate_stream.t).alias(data.t), F.col(gate_stream.seq).alias(data.seq),
        *keys,
        F.lit(0).alias("__side"),
        F.col(gate_col).alias(_GATE),
        *[F.lit(None).cast(d.schema[c].dataType).alias(c)
          for c in d.columns if c not in {data.t, data.seq, "__side", _GATE, *keys}],
    )
    u = d.unionByName(g, allowMissingColumns=False)
    w = (Window.partitionBy(*keys)
         .orderBy(F.col(data.t).asc(), F.col("__side").asc(), F.col(data.seq).asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    u = u.withColumn(_GATE, F.coalesce(F.last(_GATE, ignorenulls=True).over(w), F.lit(False)))
    u = u.filter(F.col("__side") == 1).drop("__side")
    return data._derive(u)
