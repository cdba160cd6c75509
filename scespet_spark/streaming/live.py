"""Structured Streaming ("live") mode.

The reference replays a time-ordered event queue through a push graph
(SimpleEnv.scala:59-103); both historic and realtime sources share one
contract (EventSource.java:3-6).  Here the SAME operator semantics run
as Structured Streaming plans: batch mode (core.stream) is the
deterministic replay used for verification, and this module provides
the live counterparts:

  * file/rate sources with event-time columns,
  * tumbling/sliding windowed aggregation with watermarked late-data
    handling (a new capability — the reference has no late-data concept,
    SURVEY §2.6),
  * streaming deduplication (valueSet/toValueSet in live mode),
  * arbitrary per-key incremental state via applyInPandasWithState —
    the streaming equivalent of the reference's mutable Agg/Reducer
    cells (types.scala:158-185).

Scale notes: every construct here is executor-parallel keyed state.
Streaming runs without AQE, so the state-store partition count is
``spark.sql.shuffle.partitions`` as is (``engine.get_spark`` sets it
to the core count; batch plans start from AQE's separate
``initialPartitionNum``), and each partition costs one task per
micro-batch.  A checkpoint keeps the count it was started with.  At
cluster scale use RocksDB state store and watermarks tight enough to
bound state size.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable, Iterable

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType

from ..operators._driver import local_frame


def read_table_stream(spark: SparkSession, sf_dir: str, table: str,
                      max_files_per_trigger: int = 1) -> DataFrame:
    """Any driver parquet table as a file-streaming source — the live
    ingest path for the pipeline operators (a crawl landing as parquet
    drops IS a file stream).  Schema is the batch read's, inferred once
    per listing (``sources.batch.parquet_schema``);
    TIMESTAMP(NANOS) columns arrive as long under ``nanosAsLong`` and
    are truncated to micros exactly like batch."""
    from ..sources.batch import ensure_nanos_conf, parquet_schema
    ensure_nanos_conf(spark)
    path = f"{sf_dir}/{table}.parquet"
    schema = parquet_schema(spark, path)
    # the streaming file source requires a *directory*; the driver ships
    # single parquet files, so stage a symlink dir (no data copy)
    import os
    import tempfile
    if os.path.isfile(path):
        stage = os.path.join(tempfile.gettempdir(),
                             "scespet_stream_src",
                             path.strip("/").replace("/", "_"))
        os.makedirs(stage, exist_ok=True)
        link = os.path.join(stage, "part-0.parquet")
        if not os.path.exists(link):
            os.symlink(path, link)
        path = stage
    df = (spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", max_files_per_trigger)
          .parquet(path))
    if "ts" in df.columns and isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def read_events_stream(spark: SparkSession, sf_dir: str,
                       max_files_per_trigger: int = 1) -> DataFrame:
    """The driver's ``events`` table as a file-streaming source (the
    live analogue of sources.batch.events_stream)."""
    return read_table_stream(spark, sf_dir, "events", max_files_per_trigger)


def tumbling(df: DataFrame, duration: str, keys: Iterable[str] = (),
             t: str = "ts", watermark: str = "1 day",
             **aggs: Column) -> DataFrame:
    """Watermarked tumbling-window aggregation: the live form of
    ``group(Every(duration)).reduce(...)``.  Late rows beyond
    ``watermark`` are dropped and state for closed windows is purged —
    bounded state at any scale."""
    wm = df.withWatermark(t, watermark)
    return (wm.groupBy(*keys, F.window(F.col(t), duration).alias("win"))
            .agg(*[a.alias(n) for n, a in aggs.items()])
            .withColumn("win_start", F.col("win.start"))
            .drop("win"))


def dedupe(df: DataFrame, cols: Iterable[str], t: str = "ts",
           watermark: str = "1 day") -> DataFrame:
    """Streaming distinct-by-columns (live ``valueSet``/``toValueSet``,
    reference MacroTerm.scala:160-185): one row per distinct value via
    ``dropDuplicatesWithinWatermark`` — dedup state is purged once the
    watermark passes, so a value recurring after that re-emits (the
    price of bounded state at scale; batch ``value_set`` owns exact
    first-occurrence-event semantics).  Within the retention horizon the
    emitted rows are exactly the distinct value set."""
    return (df.withWatermark(t, watermark)
            .dropDuplicatesWithinWatermark(list(cols)))


def first_wins(df: DataFrame, keys: list[str], order_cols: list[str],
               payload_cols: list[str], t: str = "ts",
               idle_ttl: str | None = None) -> DataFrame:
    """Deterministic streaming first-occurrence election: per key, emit
    exactly one row — the ``order_cols``-minimal row of the EARLIEST
    micro-batch in which the key appears — then suppress the key
    forever.  The deterministic-winner counterpart of streaming
    ``dropDuplicates`` (which keeps an arbitrary row within a batch):
    arrival order decides ACROSS drops (the streaming contract), the
    batch tie-break decides WITHIN the winning drop, so a single-drop
    source is row-identical to the batch ``min(order_cols)`` election.

    State per key is one flag in the state store (RocksDB at scale);
    the grouped exchange carries only ``keys + order + payload``
    columns.  ``idle_ttl`` bounds state on unbounded key spaces at the
    documented re-emergence cost; without it state is exact and lives
    forever (the same trade streaming exact dedup makes)."""
    overlap = set(keys) & set(payload_cols)
    if overlap:
        raise ValueError(f"payload_cols duplicate key columns: {overlap}")
    if idle_ttl is not None:
        # EventTimeTimeout needs a watermarked input; apply it here
        # (mirrors keymap_latest) so callers don't have to know that
        df = df.withWatermark(t, idle_ttl)

    def step(st, pdf):
        if st["seen"]:
            return []
        st["seen"] = 1.0
        return pdf.head(1)[list(payload_cols)]

    out_schema = _key_ddl(df, [*payload_cols, *keys])
    return stateful_scan(df, list(keys), {"seen": 0.0}, step,
                         out_schema=out_schema, t=t,
                         order_cols=list(order_cols), idle_ttl=idle_ttl)


def cap_first_k(df: DataFrame, k: int, keys: list[str],
                order_cols: list[str], payload_cols: list[str],
                t: str = "ts", idle_ttl: str | None = None) -> DataFrame:
    """Streaming per-key cap: emit each key's first ``k`` rows (arrival
    order across micro-batches, ``order_cols`` tie-break within a
    batch), then suppress the key forever — the LIVE form of the
    FineWeb per-host domain cap (``pipeline.cap_per_key``): once a host
    has contributed k pages to the mix, later crawl drops of that host
    cost one state lookup and emit nothing.  ``first_wins`` is the
    k=1 special case.

    State per key is ONE counter in the state store — at crawl scale
    the store holds an int per host, not per page — and a single-drop
    source is row-identical to the batch ``row_number() <= k``
    election under the same total order.  ``idle_ttl`` bounds state on
    unbounded key spaces at the documented re-emergence cost."""
    if k < 1:
        raise ValueError(f"need k >= 1, got {k}")
    overlap = set(keys) & set(payload_cols)
    if overlap:
        raise ValueError(f"payload_cols duplicate key columns: {overlap}")
    if idle_ttl is not None:
        df = df.withWatermark(t, idle_ttl)

    def step(st, pdf):
        take = k - int(st["n"])
        if take <= 0:
            return []
        got = pdf.head(take)[list(payload_cols)]
        st["n"] = float(int(st["n"]) + len(got))
        return got

    out_schema = _key_ddl(df, [*payload_cols, *keys])
    return stateful_scan(df, list(keys), {"n": 0.0}, step,
                         out_schema=out_schema, t=t,
                         order_cols=list(order_cols), idle_ttl=idle_ttl)


def _epoch_ms(ts_val, tz: str) -> int:
    """True epoch millis of a timestamp Arrow handed a Python worker.
    Arrow strips the zone and delivers WALL-CLOCK values in
    ``spark.sql.session.timeZone``; casting those straight to int64
    treats them as UTC, so any comparison against
    ``state.getCurrentWatermarkMs()`` (true internal epoch) is off by
    the zone offset — west of UTC, state expires hours EARLY and
    running totals silently reset while the key is still inside the
    watermark horizon.  Localize to the session zone first.

    DST transitions: a wall-clock value in the fall-back hour is
    ambiguous and one in the spring-forward gap is nonexistent — both
    would raise and kill the streaming query.  Resolve ambiguity to the
    DST (earlier) instant and shift nonexistent times forward: the
    result is only used for watermark/TTL comparisons, where a bounded
    one-hour skew merely delays state expiry by at most an hour."""
    ts = pd.Timestamp(ts_val)
    if ts.tzinfo is None:
        ts = ts.tz_localize(tz, ambiguous=True, nonexistent="shift_forward")
    return ts.value // 1_000_000  # tz-aware .value is UTC epoch ns


def _key_ddl(df: DataFrame, keys: Iterable[str]) -> str:
    """Key columns typed from the INPUT schema — hardcoding ``long``
    would crash (Arrow cast) any stream keyed on a string/other column,
    which batch mode supports."""
    keys = list(keys)
    if not keys:
        # an empty key list would render a DDL starting with ", " and
        # die in a cryptic ParseException deep inside
        # applyInPandasWithState — the real mistake is an unkeyed
        # stream reaching a stateful verb
        raise ValueError(
            "live stateful operators need a keyed stream — call "
            ".by(<key>) (state lives per key in the state store)")
    return ", ".join(f"{k} {df.schema[k].dataType.simpleString()}"
                     for k in keys)


def stateful_scan(df: DataFrame, keys: list[str], state_fields: dict,
                  step: Callable, out_schema: str, t: str = "ts",
                  order_cols: list[str] | None = None,
                  state_schema: str | None = None,
                  timeout_ts: Callable | None = None,
                  idle_ttl: str | None = None) -> DataFrame:
    """Arbitrary per-key incremental state — the live equivalent of the
    reference's mutable Agg cells fed one event at a time.

    ``state_fields`` maps state names to initial values; ``step(state,
    pdf)`` folds a sorted pandas batch into the state dict and returns
    output rows — either a list of dicts (per-row steps) or a pandas
    DataFrame (vectorized steps; key columns are attached here).  Uses
    applyInPandasWithState so state lives in the executor state store,
    partitioned by key.

    ``state_schema`` is a DDL string typing the state fields (in
    ``state_fields`` order); omitted, every field is ``double`` (the
    numeric-fold fast path).  Typed schemas are what let zip/as-of state
    carry string or other non-numeric payloads — the reference's events
    are arbitrary case classes (EventSource.java:3-6), not doubles.

    ``timeout_ts`` bounds state at scale: a callable mapping the group
    key tuple to an epoch-millis expiry — once the event-time watermark
    passes it, the group's state is REMOVED from the store (the input
    must carry ``withWatermark``).  Purged groups simply restart from
    the initial state if (impossibly, given the watermark filter) they
    recur.  ``idle_ttl`` (e.g. ``"30 days"``) is the last-activity
    variant for unbounded KEY spaces: each batch re-arms the group's
    expiry to its latest event time + the ttl, so keys idle beyond the
    horizon purge (a re-emerging key restarts from initial state — the
    documented bounded-state trade).  Mutually exclusive with
    ``timeout_ts``; without either, state lives forever (NoTimeout) —
    exact, but unbounded on unbounded key spaces."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import StructType
    import numpy as np
    import pandas as pd

    state_names = list(state_fields)
    schema = StructType.fromDDL(
        state_schema if state_schema is not None
        else ", ".join(f"{n} double" for n in state_names))
    if [f.name for f in schema.fields] != state_names:
        raise ValueError(
            f"state_schema fields {[f.name for f in schema.fields]} must "
            f"match state_fields order {state_names}")

    def _py(v):
        # the state store wants plain Python values; numpy scalars and
        # NaN-for-None in object fields both round-trip wrong otherwise
        if isinstance(v, np.generic):
            return v.item()
        if v is pd.NaT:
            return None
        return v

    if timeout_ts is not None and idle_ttl is not None:
        raise ValueError("timeout_ts and idle_ttl are mutually exclusive")
    ttl_ms = (int(pd.Timedelta(idle_ttl).total_seconds() * 1000)
              if idle_ttl is not None else None)
    timed = timeout_ts is not None or ttl_ms is not None
    # captured at plan-build time: the worker-side values are wall-clock
    # in this zone (see _epoch_ms) and the workers can't read the conf
    tz = df.sparkSession.conf.get("spark.sql.session.timeZone")

    def fn(key, pdfs, state):
        if timed and state.hasTimedOut:
            # watermark passed this group's expiry: purge and emit
            # nothing — the group can no longer receive rows (the
            # watermark filter drops anything this late)
            state.remove()
            return
        if state.exists:
            st = dict(zip(state_names, state.get))
        else:
            st = dict(state_fields)
        # concat the group's Arrow chunks before the one sort: chunk
        # boundaries are arbitrary, so per-chunk sorting would fold
        # out of event order whenever a key spans chunks
        chunks = [p for p in pdfs if len(p)]
        rows = []
        pdf = None
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                order_cols or [t], kind="mergesort")
            rows = step(st, pdf)
        state.update(tuple(_py(st[n]) for n in state_names))
        if timed:
            # expiry must sit beyond the current watermark or Spark
            # rejects it; a group first seen when already expirable gets
            # the minimal legal horizon (one tick past the watermark)
            if timeout_ts is not None:
                expiry = int(timeout_ts(key))
            else:  # idle_ttl: re-arm from this batch's latest event
                last = (_epoch_ms(pdf[t].max(), tz)
                        if pdf is not None else 0)
                expiry = last + ttl_ms
            state.setTimeoutTimestamp(
                max(expiry, state.getCurrentWatermarkMs() + 1))
        key_vals = dict(zip(keys, key))
        if isinstance(rows, pd.DataFrame):
            yield rows.assign(**key_vals)
        elif rows:
            yield pd.DataFrame([{**key_vals, **r} for r in rows])
        # an empty LIST yields nothing: pd.DataFrame([]) has zero
        # columns and fails Arrow conversion against out_schema — a
        # conditional-emission step returning [] must be a clean no-op

    return df.groupBy(*keys).applyInPandasWithState(
        fn, out_schema, schema, "append",
        GroupStateTimeout.EventTimeTimeout if timed
        else GroupStateTimeout.NoTimeout)


def _emit_closed_buckets(st, bid, vals, new_bucket, q):
    """Shared tail of the vectorized slicing steps: group accumulated
    rows by bucket id, merge the carried partial into its bucket, emit
    every bucket below the new open bucket (non-empty ones), and roll
    the open bucket's partial into the carry state."""
    import numpy as np
    if len(bid):
        agg = (pd.DataFrame({"b": bid, "v": vals}).groupby("b", sort=True)
               ["v"].agg(["sum", "size"]).astype("float64"))
    else:
        agg = pd.DataFrame({"sum": [], "size": []}, dtype="float64")
    if st["cnt"] > 0:
        if st["bucket"] in agg.index:
            agg.loc[st["bucket"], "sum"] += st["acc"]
            agg.loc[st["bucket"], "size"] += st["cnt"]
        else:
            carry = pd.DataFrame({"sum": [st["acc"]], "size": [st["cnt"]]},
                                 index=[st["bucket"]])
            agg = pd.concat([carry, agg]).sort_index()
    closed = agg[(agg.index < new_bucket) & (agg["size"] > 0)]
    if new_bucket in agg.index:
        st["acc"] = float(agg.loc[new_bucket, "sum"])
        st["cnt"] = float(agg.loc[new_bucket, "size"])
    else:
        st["acc"] = st["cnt"] = 0.0
    st["bucket"] = float(new_bucket)
    return pd.DataFrame({
        "bucket": closed.index.to_numpy().astype("int64"),
        "total": (closed["sum"] / q if q else closed["sum"]).to_numpy(),
        "n": closed["size"].to_numpy().astype("int64")})


def count_reduce(df: DataFrame, keys: list[str], n: int, value_col: str,
                 t: str = "ts", seq: str = "event_id",
                 quantize: int | None = None) -> DataFrame:
    """Live count-based buckets (``group(Count(n)).reduce``) — no native
    Structured Streaming support (SURVEY §7), so the bucket counter is
    per-key state in the state store.  Emits ``(key, bucket, total, n)``
    the moment a bucket fills; the trailing partial bucket stays open
    (a live stream has no termination event — batch mode is where the
    termination flush exists, SimpleEnv.scala:93).  ``quantize`` as in
    trigger_reduce: exact integer accumulation for decimal columns."""
    if n < 1:
        # the batch Count(n) spec validates this; n=0 here would only
        # surface as NaN/inf bucket ids from a float division-by-zero
        # RuntimeWarning in the executor
        raise ValueError(f"need n >= 1 events per bucket, got {n}")
    q = quantize

    def step(st, pdf):
        # vectorized: row i's bucket id = carried bucket + (carried
        # count + i) // n; buckets below the new open bucket are full
        # and emit, the trailing partial becomes the carry
        import numpy as np
        m = len(pdf)
        v = pdf[value_col].to_numpy(dtype="float64")
        vals = np.round(v * q) if q else v
        bid = st["bucket"] + (st["cnt"] + np.arange(m)) // n
        new_bucket = st["bucket"] + (st["cnt"] + m) // n
        return _emit_closed_buckets(st, bid, vals, new_bucket, q)

    key_ddl = _key_ddl(df, keys)
    return stateful_scan(df, keys,
                         {"cnt": 0.0, "acc": 0.0, "bucket": 0.0}, step,
                         f"{key_ddl}, bucket long, total double, n long",
                         t=t, order_cols=[t, seq])


def trigger_reduce(df: DataFrame, keys: list[str], boundary: Column,
                   value_col: str, align: str = "AFTER",
                   t: str = "ts", seq: str = "event_id",
                   quantize: int | None = None) -> DataFrame:
    """Live data-driven slicing (``group(Trigger(cond)).reduce``) — the
    reference's EventGraphObject slice spec (SliceTriggerSpec.scala:57-73)
    in streaming form.  No native Structured Streaming support, so the
    bucket counter is per-key state; a bucket emits ``(key, bucket,
    total, n)`` the moment its boundary event arrives.

    Alignment matches the batch engine's bucket ids exactly
    (core/stream.py Trigger branch): AFTER — the boundary event joins the
    *closing* bucket (ids = exclusive running flag count); BEFORE — it
    starts the *new* one (inclusive count).  The trailing open bucket
    never emits (a live stream has no termination event; batch mode owns
    the termination flush, SimpleEnv.scala:93).

    ``quantize`` (e.g. 100 for 2-decimal money columns) accumulates in
    exact integer units of 1/quantize — sequential float addition is
    order-dependent, so this is what makes the live total bit-identical
    to a decimal-sum oracle (the batch engine's _dsum convention)."""
    from ..core.stream import AFTER, BEFORE
    if align not in (BEFORE, AFTER):
        raise ValueError(f"align must be '{BEFORE}' or '{AFTER}'")
    tagged = df.withColumn("__b", F.when(boundary, F.lit(1)).otherwise(F.lit(0)))
    q = quantize
    before = align == BEFORE

    def step(st, pdf):
        # vectorized: row's bucket id = carried bucket + cumulative
        # boundary count (inclusive for BEFORE — the boundary starts the
        # new bucket; exclusive for AFTER — it joins the closing one).
        # Buckets below the new open bucket with any rows emit.
        import numpy as np
        v = pdf[value_col].to_numpy(dtype="float64")
        b = pdf["__b"].to_numpy()
        vals = np.round(v * q) if q else v
        cs = np.cumsum(b)
        bid = st["bucket"] + (cs if before else cs - b)
        new_bucket = st["bucket"] + float(cs[-1])
        return _emit_closed_buckets(st, bid, vals, new_bucket, q)

    key_ddl = _key_ddl(df, keys)
    return stateful_scan(tagged, keys,
                         {"cnt": 0.0, "acc": 0.0, "bucket": 0.0}, step,
                         f"{key_ddl}, bucket long, total double, n long",
                         t=t, order_cols=[t, seq])


def trigger_stream_reduce(data: DataFrame, trig: DataFrame, keys: list[str],
                          value_col: str, align: str = "AFTER",
                          t: str = "ts", seq: str = "event_id",
                          quantize: int | None = None) -> DataFrame:
    """Live slicing by a *separate* trigger stream's events — the per-key
    vector trigger (VectSliceTriggerSpec, SliceTriggerSpec.scala:76-118)
    in streaming form.  Data and trigger rows are unioned into one keyed
    stream; each trigger event closes the current bucket.  Bucket ids
    match the batch engine (_with_trigger_stream_bucket): a data row's id
    = number of trigger events before it, where a timestamp tie is
    resolved by alignment (AFTER — data first, joins the closing bucket;
    BEFORE — trigger first, data starts the new one).  ``quantize`` as
    in trigger_reduce: exact integer accumulation for decimal columns."""
    from ..core.stream import AFTER, BEFORE
    if align not in (BEFORE, AFTER):
        raise ValueError(f"align must be '{BEFORE}' or '{AFTER}'")
    d = data.select(*keys, F.col(t), F.col(seq),
                    F.col(value_col).cast("double").alias("__v"),
                    F.lit(1).alias("__trig"))
    g = trig.select(*keys, F.col(t), F.col(seq),
                    F.lit(None).cast("double").alias("__v"),
                    F.lit(0 if align == BEFORE else 2).alias("__trig"))
    # __trig doubles as the tie-break sort key: BEFORE → trigger (0)
    # before data (1); AFTER → data (1) before trigger (2)
    u = d.unionByName(g)
    q = quantize

    def step(st, pdf):
        # vectorized: a data row's bucket id = carried bucket + number
        # of trigger rows sorted before it; every trigger advances the
        # bucket counter (empty buckets skip ids and never emit)
        import numpy as np
        tr = pdf["__trig"].to_numpy()
        v = pdf["__v"].to_numpy(dtype="float64")
        is_trig = tr != 1
        cs = np.cumsum(is_trig)
        new_bucket = st["bucket"] + float(cs[-1])
        data = ~is_trig
        vals = v[data]
        vals = np.round(vals * q) if q else vals
        bid = (st["bucket"] + cs)[data]
        return _emit_closed_buckets(st, bid, vals, new_bucket, q)

    key_ddl = _key_ddl(data, keys)
    return stateful_scan(u, keys,
                         {"cnt": 0.0, "acc": 0.0, "bucket": 0.0}, step,
                         f"{key_ddl}, bucket long, total double, n long",
                         t=t, order_cols=[t, "__trig", seq])


#: bigint payloads must not ride the union as themselves: the padding
#: makes the column nullable, and Spark's Arrow-to-pandas hands a
#: nullable int64 to the state function as float64 — silently rounding
#: values above 2^53 (a 64-bit id corrupts).  They travel as strings
#: (exact both ways) and cast back on output.  Narrower integrals
#: (int and below, max 2^31) are exactly representable in float64, so
#: they keep the cheap numeric passthrough.
_INTEGRAL = ("bigint",)


def _wire(dt) -> str:
    s = dt.simpleString()
    return "string" if s in _INTEGRAL else s


def sliced_scan(df: DataFrame, keys: list[str], spec, value_col: str,
                t: str = "ts", seq: str = "event_id",
                quantize: int | None = None) -> DataFrame:
    """CUMULATIVE emission inside sliced buckets for the stateful slice
    specs — the live form of batch ``group(spec).scan`` for ``Count``,
    ``Trigger``, and ``Session`` (completing the scan/reduce matrix in
    both modes; Every/Sliding scans live in ``sliding_scan``, gated
    windows in ``gated_scan``).

    Every event emits its bucket's running ``(total, n)`` the moment it
    arrives — open buckets included, exactly like batch ``scan``
    (reference CUMULATIVE, SliceAfterBucket.scala:163-166).  State is
    the open bucket's partial plus the spec's boundary carry (5 doubles
    per key).  ``quantize`` as in trigger_reduce."""
    from ..core.stream import BEFORE, Count, Session, Trigger
    q = quantize
    # extract plain scalars from the spec: the step closure must not
    # capture a Column (py4j handles don't pickle to the executors)
    kind = type(spec).__name__
    count_n = spec.n if isinstance(spec, Count) else None
    before = isinstance(spec, Trigger) and spec.align == BEFORE
    if isinstance(spec, Trigger):
        df = df.withColumn("__b", F.when(spec.cond, F.lit(1))
                           .otherwise(F.lit(0)))
    gap_us = (int(pd.Timedelta(spec.gap).total_seconds() * 1_000_000)
              if isinstance(spec, Session) else None)

    def step(st, pdf):
        import numpy as np
        m = len(pdf)
        v = pdf[value_col].to_numpy(dtype="float64")
        vals = np.round(v * q) if q else v
        if kind == "Count":
            bid = st["bucket"] + (st["cnt"] + np.arange(m)) // count_n
            new_open = st["bucket"] + (st["cnt"] + m) // count_n
        elif kind == "Trigger":
            b = pdf["__b"].to_numpy()
            cs = np.cumsum(b)
            bid = st["bucket"] + (cs if before else cs - b)
            # the open bucket after this batch is the full boundary
            # count — under AFTER a trailing boundary row sits in the
            # bucket it CLOSES, so bid[-1] may name an already-closed
            # bucket and must not become the carry
            new_open = st["bucket"] + float(cs[-1])
        else:  # Session: new session when the gap is strictly exceeded
            ts_us = pdf[t].values.astype("datetime64[us]").astype("int64")
            prev = np.concatenate(([int(st["last_t"])], ts_us[:-1]))
            new = (ts_us - prev) > gap_us
            if st["seen"] == 0.0:
                new[0] = False  # first event EVER opens bucket 0
            bid = st["bucket"] + np.cumsum(new.astype("int64"))
            new_open = float(bid[-1])
            st["last_t"] = float(ts_us[-1])
            st["seen"] = 1.0
        run = pd.Series(vals).groupby(bid).cumsum().to_numpy()
        cn = pd.Series(np.ones(m)).groupby(bid).cumsum().to_numpy()
        open_mask = bid == st["bucket"]
        run[open_mask] += st["acc"]
        cn[open_mask] += st["cnt"]
        if bid[-1] == new_open:
            st["acc"], st["cnt"] = float(run[-1]), float(cn[-1])
        else:  # the open bucket has no rows yet
            st["acc"] = st["cnt"] = 0.0
        st["bucket"] = float(new_open)
        return pd.DataFrame({
            t: pdf[t].to_numpy(), seq: pdf[seq].to_numpy().astype("int64"),
            "total": run / q if q else run,
            "n": cn.astype("int64")})

    key_ddl = _key_ddl(df, keys)
    tddl = df.schema[t].dataType.simpleString()
    return stateful_scan(
        df, keys,
        {"bucket": 0.0, "acc": 0.0, "cnt": 0.0, "last_t": 0.0,
         "seen": 0.0}, step,
        f"{key_ddl}, {t} {tddl}, {seq} long, total double, n long",
        t=t, order_cols=[t, seq])


def zip_latest(left: DataFrame, right: DataFrame, keys: list[str],
               left_col: str, right_col: str,
               t: str = "ts", seq: str = "event_id") -> DataFrame:
    """Live zip join (``join``/``zip_join``: emit both latest values when
    either side fires) — per-key last-value state over a tagged union of
    the two streams.  Before a side's first event its column is null
    (VectorJoin.scala:55-66).  In-order delivery within the micro-batch
    is established by the (t, seq) sort; cross-batch order relies on the
    source's arrival order (use watermarked asof for out-of-order feeds).

    Value columns keep their input types (string, long, timestamp, ... —
    the reference's events are arbitrary case classes, EventSource.java:
    3-6 / RealTradeTests.scala:22-23): state fields are typed from the
    input schemas, not cast to double."""
    ltype = left.schema[left_col].dataType
    rtype = right.schema[right_col].dataType
    lw, rw = _wire(ltype), _wire(rtype)
    lt = left.select(*keys, F.col(t), F.col(seq),
                     F.lit(0).alias("__side"),
                     F.col(left_col).cast(lw).alias("__lv"),
                     F.lit(None).cast(rw).alias("__rv"))
    rt = right.select(*keys, F.col(t), F.col(seq),
                      F.lit(1).alias("__side"),
                      F.lit(None).cast(lw).alias("__lv"),
                      F.col(right_col).cast(rw).alias("__rv"))
    u = lt.unionByName(rt)

    def step(st, pdf):
        # vectorized within-batch forward fill (every row emits both
        # latest values); cross-batch state = the carry dict.  Fill by
        # last-position indexing, not value ffill: a side's null value
        # is a real update (latest becomes null), exactly like the
        # sequential fold.  Object arrays carry any payload type.
        import numpy as np
        n = len(pdf)
        side = pdf["__side"].to_numpy()
        pos = np.arange(n, dtype="float64")
        out = {t: pdf[t].to_numpy(), seq: pdf[seq].to_numpy().astype("int64")}
        for s_, src, col, seen, last in ((0, "__lv", left_col, "lseen", "lx"),
                                         (1, "__rv", right_col, "rseen", "rx")):
            v = pdf[src].to_numpy(dtype=object)
            lp = pd.Series(np.where(side == s_, pos, np.nan)).ffill().to_numpy()
            filled = np.full(n, None, dtype=object)
            has = ~np.isnan(lp)
            filled[has] = v[lp[has].astype("int64")]
            if st[seen]:  # rows before this batch's first event: carry
                filled[~has] = st[last]
            out[col] = filled
            hits = np.flatnonzero(side == s_)
            if len(hits):
                st[last], st[seen] = v[hits[-1]], 1.0
        return pd.DataFrame(out)

    key_ddl = _key_ddl(left, keys)
    tddl = left.schema[t].dataType.simpleString()
    out = stateful_scan(
        u, keys, {"lx": None, "rx": None, "lseen": 0.0, "rseen": 0.0}, step,
        f"{key_ddl}, {t} {tddl}, {seq} long, "
        f"{left_col} {lw}, {right_col} {rw}",
        t=t, order_cols=[t, seq, "__side"],
        state_schema=f"lx {lw}, rx {rw}, lseen double, rseen double")
    # integral payloads come back from their string transport
    if lw != ltype.simpleString():
        out = out.withColumn(left_col, F.col(left_col).cast(ltype))
    if rw != rtype.simpleString():
        out = out.withColumn(right_col, F.col(right_col).cast(rtype))
    return out


def asof_latest(left: DataFrame, right: DataFrame, keys: list[str],
                left_cols: list[str], right_cols: list[str],
                t: str = "ts", seq: str = "event_id") -> DataFrame:
    """Live as-of join — the streaming counterpart of batch ``take`` /
    ``sample`` (MacroTerm.scala:209-230; one-expression-two-modes
    contract, EventSource.java:3-6).  The left side's latest values live
    in per-key state; each RIGHT event emits one row carrying
    (left.latest, right values) — before the left's first event the left
    columns are null, and a left event with a null payload is a real
    update (latest becomes null), matching batch ``_temporal_join``'s
    marker-struct semantics.  ``sample`` is the ``right_cols=[]`` case: the
    right stream is a pure trigger snapshotting the left.  Tie-break at
    equal (t, seq) matches batch ``_temporal_join``: left first.

    Value columns keep their input types (string, long, timestamp, ... —
    EventSource.java:3-6 / RealTradeTests.scala:22-23): state fields are
    typed from the left schema, not cast to double."""
    otypes = {c: left.schema[c].dataType for c in left_cols}
    otypes.update({c: right.schema[c].dataType for c in right_cols})
    # integral columns travel as strings (see _wire) — exact under the
    # nullable Arrow-to-pandas conversion, cast back on output
    ltypes = {c: _wire(left.schema[c].dataType) for c in left_cols}
    rtypes = {c: _wire(right.schema[c].dataType) for c in right_cols}
    lsel = ([F.col(c).cast(ltypes[c]).alias(c) for c in left_cols]
            + [F.lit(None).cast(rtypes[c]).alias(c) for c in right_cols])
    rsel = ([F.lit(None).cast(ltypes[c]).alias(c) for c in left_cols]
            + [F.col(c).cast(rtypes[c]).alias(c) for c in right_cols])
    lt = left.select(*keys, F.col(t), F.col(seq),
                     F.lit(0).alias("__side"), *lsel)
    rt = right.select(*keys, F.col(t), F.col(seq),
                      F.lit(1).alias("__side"), *rsel)
    u = lt.unionByName(rt)

    state_fields = {}
    for c in left_cols:
        state_fields[f"v_{c}"] = None
        state_fields[f"s_{c}"] = 0.0
    state_ddl = ", ".join(f"v_{c} {ltypes[c]}, s_{c} double"
                          for c in left_cols)

    def step(st, pdf):
        # vectorized: right rows emit, left columns fill from the LAST
        # LEFT ROW's position (not the last non-null value): a left
        # event with a null payload is a REAL update that makes "latest"
        # null — the batch marker-struct semantics (_temporal_join) and
        # the zip_latest fill.  Carry seeds rows before this batch's
        # first left event.  Object arrays carry any payload type.
        import numpy as np
        n = len(pdf)
        side = pdf["__side"].to_numpy()
        mask_r = side == 1
        pos = np.arange(n, dtype="float64")
        lp = pd.Series(np.where(side == 0, pos, np.nan)).ffill().to_numpy()
        has = ~np.isnan(lp)
        out = {t: pdf[t].to_numpy()[mask_r],
               seq: pdf[seq].to_numpy()[mask_r].astype("int64")}
        hits = np.flatnonzero(side == 0)
        for c in left_cols:
            v = pdf[c].to_numpy(dtype=object)
            filled = np.full(n, None, dtype=object)
            filled[has] = v[lp[has].astype("int64")]
            if st[f"s_{c}"]:
                filled[~has] = st[f"v_{c}"]
            out[c] = filled[mask_r]
            if len(hits):
                st[f"v_{c}"], st[f"s_{c}"] = v[hits[-1]], 1.0
        for c in right_cols:
            out[c] = pdf[c].to_numpy(dtype=object)[mask_r]
        return pd.DataFrame(out)

    key_ddl = _key_ddl(left, keys)
    tddl = left.schema[t].dataType.simpleString()
    val_ddl = ", ".join(f"{c} {(ltypes | rtypes)[c]}"
                        for c in (*left_cols, *right_cols))
    out = stateful_scan(
        u, keys, state_fields, step,
        f"{key_ddl}, {t} {tddl}, {seq} long, {val_ddl}",
        t=t, order_cols=[t, seq, "__side"],
        state_schema=state_ddl)
    for c in (*left_cols, *right_cols):
        if (ltypes | rtypes)[c] != otypes[c].simpleString():
            out = out.withColumn(c, F.col(c).cast(otypes[c]))
    return out


#: payload types the keymap join's JSON state can carry exactly.  The
#: per-bucket cell table must round-trip the executor state store, so
#: values are serialized; Python json round-trips float (repr-based),
#: int, str, bool and None losslessly.  Timestamp/binary payloads would
#: need a codec — rejected loudly instead of corrupted silently.
_JSON_SAFE = ("double", "float", "int", "bigint", "smallint", "tinyint",
              "string", "boolean")


def keymap_latest(left: DataFrame, right: DataFrame, lk: str, rk: str,
                  key_map, left_cols: list[str], right_cols: list[str],
                  emit: str = "both", t: str = "ts",
                  seq: str = "event_id",
                  idle_ttl: str | None = None) -> DataFrame:
    """Live K -> K2 vector join (reference: VectTerm.join/take/sample
    with keyMap, VectTerm.scala:454-460 / VectorJoin.scala:16-133; the
    streaming counterpart of batch ``_keymap_zip_join`` /
    ``_keymap_take_join`` — r5 VERDICT item #2).

    Each left cell k binds the right cell ``key_map(k)``.  Both streams
    are re-keyed to the BOUND (right) key and unioned; per-bucket state
    carries the live cell table (left key -> latest left values) plus,
    for ``emit="both"``, the bucket's latest right values.  Emissions
    match batch exactly:

      * ``emit="both"`` (zip): a left event updates its cell and emits
        (x, y.latest) for that cell (null y before the bucket's first
        right event, VectorJoin.scala:55-66); a right event emits
        (x.latest, y) for EVERY live cell in the bucket.
      * ``emit="right"`` (take/sample): only right events emit, one row
        per live cell; left events update state silently.

    A right event before any cell is live emits nothing, but its value
    IS visible to cells created later (bind-time ``calculate()``,
    VectorJoin.scala:50-70).  Unmapped left keys (null ``key_map``)
    land in the null bucket: under zip they emit (x, null-forever) on
    their own fire — the unbound-cell state — and under take they never
    emit.  Tie order at equal (t, seq): left first, matching batch
    ``_temporal_join``.

    ``key_map`` is a Column over the left stream or an explicit
    dict/pair-list (the multi-map guard of VectorJoin.scala:38-40 runs
    driver-side for the dict form; the Column form must be a pure
    function of the key — validate data-dependent expressions batch-
    first, where the in-plan assertion lives).

    The fan-out is the emission set itself — the per-bucket Python loop
    is output-bound, exactly the reference's per-cell firing.  State is
    one JSON cell-table per bucket: |live cells in bucket| * |left
    cols|, the same state the reference's VectorJoin holds in memory.
    On unbounded bucket spaces pass ``idle_ttl`` (e.g. ``"30 days"``):
    both inputs are watermarked with that delay and a bucket idle
    beyond it purges its cell table (a re-emerging bucket restarts
    from empty — the bounded-state trade; rows later than the delay
    are dropped by the watermark filter)."""
    import json

    if emit not in ("both", "right"):
        raise ValueError(f"emit must be 'both' or 'right', got {emit!r}")
    if idle_ttl is not None:
        left = left.withWatermark(t, idle_ttl)
        right = right.withWatermark(t, idle_ttl)
    if isinstance(key_map, Column):
        lmapped = left.withColumn("__jk", key_map)
    else:
        pairs = (list(key_map.items()) if isinstance(key_map, dict)
                 else [tuple(p) for p in key_map])
        from collections import Counter
        dups = [k for k, n in Counter(k for k, _ in pairs).items() if n > 1]
        if dups:
            mapped = sorted({k2 for k, k2 in pairs if k in dups})
            # message direction matters: key_map maps LEFT -> RIGHT, and
            # the (correct) check catches one left key bound to several
            # right keys — same wording as the batch form (stream.py)
            raise ValueError(
                f"key_map binds left key(s) {dups} to multiple right keys "
                f"{mapped} (reference multi-map error, VectorJoin.scala:38-40)")
        spark = left.sparkSession
        lk_type = left.schema[lk].dataType.simpleString()
        rk_type = right.schema[rk].dataType.simpleString()
        mdf = local_frame(spark, pairs, f"{lk} {lk_type}, __jk {rk_type}")
        lmapped = left.join(F.broadcast(mdf), lk, "left")

    otypes = {c: left.schema[c].dataType for c in left_cols}
    otypes.update({c: right.schema[c].dataType for c in right_cols})
    otypes[lk] = left.schema[lk].dataType
    for c, dt in otypes.items():
        if dt.simpleString() not in _JSON_SAFE:
            raise TypeError(
                f"keymap join payload column {c!r} has type "
                f"{dt.simpleString()}; live keymap state carries only "
                f"{_JSON_SAFE} — cast it or run the join batch-side")
    ltypes = {c: _wire(left.schema[c].dataType) for c in left_cols}
    rtypes = {c: _wire(right.schema[c].dataType) for c in right_cols}
    lkw = _wire(left.schema[lk].dataType)
    lsel = ([F.col(c).cast(ltypes[c]).alias(c) for c in left_cols]
            + [F.lit(None).cast(rtypes[c]).alias(c) for c in right_cols])
    rsel = ([F.lit(None).cast(ltypes[c]).alias(c) for c in left_cols]
            + [F.col(c).cast(rtypes[c]).alias(c) for c in right_cols])
    lt = lmapped.select(F.col("__jk"), F.col(lk).cast(lkw).alias("__lk"),
                        F.col(t), F.col(seq), F.lit(0).alias("__side"), *lsel)
    # a null right key never equi-joins in the batch form — keep it out
    # of the null bucket, which holds the UNMAPPED left cells (they must
    # never receive right events)
    rt = right.filter(F.col(rk).isNotNull()).select(
        F.col(rk).alias("__jk"), F.lit(None).cast(lkw).alias("__lk"),
        F.col(t), F.col(seq), F.lit(1).alias("__side"), *rsel)
    u = lt.unionByName(rt)
    lcols, rcols = list(left_cols), list(right_cols)
    both = emit == "both"

    def _clean(v):
        return None if pd.isna(v) else v

    def step(st, pdf):
        cells = json.loads(st["cells"]) if st["cells"] else {}
        y = json.loads(st["y"]) if st["y"] else None
        out = []
        tv = list(pdf[t])
        for i, rec in enumerate(pdf.to_dict("records")):
            if rec["__side"] == 0:
                lkv = _clean(rec["__lk"])
                lvals = [_clean(rec[c]) for c in lcols]
                cells[str(lkv)] = [lkv, lvals]
                if both:
                    out.append([lkv, tv[i], rec[seq], *lvals,
                                *(y if y is not None
                                  else [None] * len(rcols))])
            else:
                rvals = [_clean(rec[c]) for c in rcols]
                for lkv, lvals in cells.values():
                    out.append([lkv, tv[i], rec[seq], *lvals, *rvals])
                if both:
                    y = rvals
        st["cells"] = json.dumps(cells)
        st["y"] = None if y is None else json.dumps(y)
        if not out:
            return []
        cols = [lk, t, seq, *lcols, *rcols]
        pdf_out = pd.DataFrame(out, columns=cols)
        # object dtype keeps None as a true null through Arrow (a float64
        # column would smuggle it through as NaN, diverging from batch)
        for c in (lk, *lcols, *rcols):
            pdf_out[c] = pdf_out[c].astype(object).where(
                pdf_out[c].notna(), None)
        return pdf_out

    jk_ddl = _key_ddl(u, ["__jk"])
    tddl = left.schema[t].dataType.simpleString()
    val_ddl = ", ".join(f"{c} {(ltypes | rtypes)[c]}"
                        for c in (*lcols, *rcols))
    val_ddl = f", {val_ddl}" if val_ddl else ""
    out = stateful_scan(
        u, ["__jk"], {"cells": None, "y": None}, step,
        f"{jk_ddl}, {lk} {lkw}, {t} {tddl}, {seq} long{val_ddl}",
        t=t, order_cols=[t, seq, "__side"],
        state_schema="cells string, y string",
        idle_ttl=idle_ttl).drop("__jk")
    for c in (lk, *lcols, *rcols):
        if (ltypes | rtypes | {lk: lkw})[c] != otypes[c].simpleString():
            out = out.withColumn(c, F.col(c).cast(otypes[c]))
    return out


def gated_reduce(df: DataFrame, keys: list[str], gate: Column, value_col: str,
                 t: str = "ts", seq: str = "event_id",
                 quantize: int | None = None) -> DataFrame:
    """Live boolean-gated windows (``window(boolStream)``,
    MacroTerm.scala:242-259 / WindowedBucket_LastValue.scala) — per-key
    edge-detect state: a rising gate edge opens a window, rows with the
    gate true accumulate, and the falling edge closes and emits
    ``(key, win_seq, total, n)``.  Matches the batch engine exactly:
    only CLOSED windows emit (a window still open when the stream ends
    never fires — batch pins this via TestSingleTerms.scala:193-212
    "reduce while").  ``quantize`` as in trigger_reduce: exact integer
    accumulation for decimal columns."""
    tagged = df.withColumn("__g", F.when(gate, F.lit(1)).otherwise(F.lit(0)))
    q = quantize

    def step(st, pdf):
        g = (pdf["__g"].to_numpy() == 1)
        sq = pdf[seq].to_numpy(dtype="float64")
        v = pdf[value_col].to_numpy(dtype="float64")
        return _gated_edge_step(st, g, sq, v, q)

    key_ddl = _key_ddl(df, keys)
    return stateful_scan(
        tagged, keys,
        {"in_win": 0.0, "acc": 0.0, "cnt": 0.0, "win_seq": 0.0}, step,
        f"{key_ddl}, win_seq long, total double, n long",
        t=t, order_cols=[t, seq])


def _gated_edge_step(st, g, sq, v, q):
    """Shared core of the gated-window steps: vectorized edge detection
    over one key's sorted rows.  KNOWN LIMIT: ``sq`` travels as float64
    (the state tuple stores doubles), so emitted ``win_seq`` values are
    exact only up to 2^53 — snowflake-style 63-bit event ids would
    round (the bigint-as-string discipline used for join keys, line
    ~483, applies if that ever matters; the synthetic and typical
    monotonically-assigned ids are far below the limit).  Window number = cumulative count of
    rising edges (0 = the carried-open window); a window closes when any
    gate-false row follows it, so only the window holding a gated final
    row stays open as the carry.  ``g`` is the per-row boolean gate,
    ``sq`` the seq values, ``v`` the raw values, ``q`` the quantizer."""
    import numpy as np
    if not len(g):
        # no DATA rows in this batch (a gate-only micro-batch from the
        # window_from union): window state must not move — batch
        # closed-ness depends exclusively on data-row forward-filled
        # gates (core.WindowedStream.reduce's __last_gate windows over
        # data rows), so a gate heartbeat must not force-emit the
        # carried window and a trailing gate-false must not close it
        # ahead of the data row that would observe it
        return []
    vals = np.round(v * q) if q else v
    prev = np.concatenate(([st["in_win"] == 1.0], g[:-1]))
    wn = np.cumsum(g & ~prev)
    if g.any():
        agg = (pd.DataFrame({"w": wn[g], "v": vals[g], "s": sq[g]})
               .groupby("w", sort=True)
               .agg(sum=("v", "sum"), cnt=("v", "size"), mn=("s", "min"))
               .astype("float64"))
    else:
        agg = pd.DataFrame({"sum": [], "cnt": [], "mn": []},
                           dtype="float64")
    if st["in_win"]:
        if 0 in agg.index:
            agg.loc[0, "sum"] += st["acc"]
            agg.loc[0, "cnt"] += st["cnt"]
            agg.loc[0, "mn"] = min(agg.loc[0, "mn"], st["win_seq"])
        else:
            carry = pd.DataFrame(
                {"sum": [st["acc"]], "cnt": [st["cnt"]],
                 "mn": [st["win_seq"]]}, index=[0])
            agg = pd.concat([carry, agg]).sort_index()
    open_id = wn[-1] if len(g) and g[-1] else None
    closed = agg if open_id is None else agg[agg.index < open_id]
    if open_id is not None:
        st["in_win"] = 1.0
        st["acc"] = float(agg.loc[open_id, "sum"])
        st["cnt"] = float(agg.loc[open_id, "cnt"])
        st["win_seq"] = float(agg.loc[open_id, "mn"])
    else:
        st["in_win"] = 0.0
    return pd.DataFrame({
        "win_seq": closed["mn"].to_numpy().astype("int64"),
        "total": (closed["sum"] / q if q else closed["sum"]).to_numpy(),
        "n": closed["cnt"].to_numpy().astype("int64")})


def gated_scan(df: DataFrame, keys: list[str], gate: Column, value_col: str,
               t: str = "ts", seq: str = "event_id",
               quantize: int | None = None) -> DataFrame:
    """CUMULATIVE emission inside boolean-gated windows — the live form
    of batch ``window(gate).scan`` (MacroTerm.scala:242-259: open
    windows DO emit their running rows; only ``reduce`` withholds
    un-closed windows).  Each in-window row emits the window's running
    ``(total, n)`` the moment it arrives; state is the open window's
    partial (3 doubles per key)."""
    tagged = df.withColumn("__g", F.when(gate, F.lit(1)).otherwise(F.lit(0)))
    q = quantize

    def step(st, pdf):
        g = (pdf["__g"].to_numpy() == 1)
        v = pdf[value_col].to_numpy(dtype="float64")
        return _gated_scan_core(st, g, pdf[t].to_numpy(),
                                pdf[seq].to_numpy(), v, q, t, seq)

    key_ddl = _key_ddl(df, keys)
    tddl = df.schema[t].dataType.simpleString()
    return stateful_scan(
        tagged, keys, {"in_win": 0.0, "acc": 0.0, "cnt": 0.0}, step,
        f"{key_ddl}, {t} {tddl}, {seq} long, total double, n long",
        t=t, order_cols=[t, seq])


def _gated_scan_core(st, g, tv, sq, v, q, t, seq):
    """Shared core of the gated scans: window number = cumulative rising
    edges over one key's sorted rows (0 = the carried-open window);
    per-window running sums via groupby cumsum, carry seeds window 0."""
    import numpy as np
    if not len(g):
        # gate-only micro-batch: leave the open window's running state
        # alone (see _gated_edge_step — the batch engine derives window
        # life from data-row gates only)
        return []
    vals = np.round(v * q) if q else v
    prev = np.concatenate(([st["in_win"] == 1.0], g[:-1]))
    wn = np.cumsum(g & ~prev)
    idx = np.flatnonzero(g)
    st_next_open = bool(len(g)) and bool(g[-1])
    if not len(idx):
        st["in_win"] = 1.0 if st_next_open else 0.0
        if not st_next_open:
            st["acc"] = st["cnt"] = 0.0
        return []
    w = wn[idx]
    run = pd.Series(vals[idx]).groupby(w).cumsum().to_numpy()
    cn = pd.Series(np.ones(len(idx))).groupby(w).cumsum().to_numpy()
    if st["in_win"]:
        m0 = w == 0
        run[m0] += st["acc"]
        cn[m0] += st["cnt"]
    if st_next_open:
        st["in_win"], st["acc"], st["cnt"] = 1.0, float(run[-1]), float(cn[-1])
    else:
        st["in_win"] = st["acc"] = st["cnt"] = 0.0
    return pd.DataFrame({
        t: tv[idx], seq: sq[idx].astype("int64"),
        "total": run / q if q else run,
        "n": cn.astype("int64")})


def gated_scan_from(data: DataFrame, gate_stream: DataFrame,
                    keys: list[str], gate_col: str, value_col: str,
                    t: str = "ts", seq: str = "event_id",
                    quantize: int | None = None) -> DataFrame:
    """CUMULATIVE emission inside windows gated by a SEPARATE boolean
    stream — the live form of batch ``window_from(...).scan`` (gate
    forward-fill with gate-first tie order, then cumulative gated
    windows; open windows DO emit their running rows)."""
    d = data.select(*keys, F.col(t), F.col(seq),
                    F.col(value_col).cast("double").alias("__v"),
                    F.lit(1).alias("__side"),
                    F.lit(None).cast("int").alias("__g"))
    g = gate_stream.select(*keys, F.col(t), F.col(seq),
                           F.lit(None).cast("double").alias("__v"),
                           F.lit(0).alias("__side"),
                           F.when(F.col(gate_col), F.lit(1))
                            .otherwise(F.lit(0)).alias("__g"))
    u = d.unionByName(g)
    q = quantize

    def step(st, pdf):
        import numpy as np
        n = len(pdf)
        side = pdf["__side"].to_numpy()
        gv = pdf["__g"].to_numpy(dtype="float64")
        pos = np.arange(n, dtype="float64")
        lp = pd.Series(np.where(side == 0, pos, np.nan)).ffill().to_numpy()
        has = ~np.isnan(lp)
        filled = np.full(n, st["gate"] == 1.0)
        filled[has] = gv[lp[has].astype("int64")] == 1.0
        hits = np.flatnonzero(side == 0)
        if len(hits):
            st["gate"] = float(gv[hits[-1]])
        mask = side == 1
        return _gated_scan_core(
            st, filled[mask], pdf[t].to_numpy()[mask],
            pdf[seq].to_numpy()[mask],
            pdf["__v"].to_numpy(dtype="float64")[mask], q, t, seq)

    key_ddl = _key_ddl(data, keys)
    tddl = data.schema[t].dataType.simpleString()
    return stateful_scan(
        u, keys, {"in_win": 0.0, "acc": 0.0, "cnt": 0.0, "gate": 0.0},
        step,
        f"{key_ddl}, {t} {tddl}, {seq} long, total double, n long",
        t=t, order_cols=[t, "__side", seq])


def trigger_stream_scan(data: DataFrame, trig: DataFrame, keys: list[str],
                        value_col: str, align: str = "AFTER",
                        t: str = "ts", seq: str = "event_id",
                        quantize: int | None = None) -> DataFrame:
    """CUMULATIVE emission inside buckets sliced by a SEPARATE trigger
    stream — the live form of batch ``group(TriggerStream(...)).scan``.
    Bucket ids match trigger_stream_reduce (and the batch engine):
    a data row's bucket = number of trigger events sorted before it,
    timestamp ties resolved by alignment."""
    from ..core.stream import AFTER, BEFORE
    if align not in (BEFORE, AFTER):
        raise ValueError(f"align must be '{BEFORE}' or '{AFTER}'")
    d = data.select(*keys, F.col(t), F.col(seq),
                    F.col(value_col).cast("double").alias("__v"),
                    F.lit(1).alias("__trig"))
    g = trig.select(*keys, F.col(t), F.col(seq),
                    F.lit(None).cast("double").alias("__v"),
                    F.lit(0 if align == BEFORE else 2).alias("__trig"))
    u = d.unionByName(g)
    q = quantize

    def step(st, pdf):
        import numpy as np
        tr = pdf["__trig"].to_numpy()
        v = pdf["__v"].to_numpy(dtype="float64")
        is_trig = tr != 1
        cs = np.cumsum(is_trig)
        new_open = st["bucket"] + float(cs[-1])
        mask = ~is_trig
        if not mask.any():
            st["bucket"], st["acc"], st["cnt"] = new_open, 0.0, 0.0
            return []
        bid = (st["bucket"] + cs)[mask]
        vals = v[mask]
        vals = np.round(vals * q) if q else vals
        run = pd.Series(vals).groupby(bid).cumsum().to_numpy()
        cn = pd.Series(np.ones(len(vals))).groupby(bid).cumsum().to_numpy()
        open_mask = bid == st["bucket"]
        run[open_mask] += st["acc"]
        cn[open_mask] += st["cnt"]
        if bid[-1] == new_open:
            st["acc"], st["cnt"] = float(run[-1]), float(cn[-1])
        else:
            st["acc"] = st["cnt"] = 0.0
        st["bucket"] = float(new_open)
        return pd.DataFrame({
            t: pdf[t].to_numpy()[mask],
            seq: pdf[seq].to_numpy()[mask].astype("int64"),
            "total": run / q if q else run,
            "n": cn.astype("int64")})

    key_ddl = _key_ddl(data, keys)
    tddl = data.schema[t].dataType.simpleString()
    return stateful_scan(
        u, keys, {"bucket": 0.0, "acc": 0.0, "cnt": 0.0}, step,
        f"{key_ddl}, {t} {tddl}, {seq} long, total double, n long",
        t=t, order_cols=[t, "__trig", seq])


def gated_reduce_from(data: DataFrame, gate_stream: DataFrame,
                      keys: list[str], gate_col: str, value_col: str,
                      t: str = "ts", seq: str = "event_id",
                      quantize: int | None = None) -> DataFrame:
    """Live windows gated by a *separate* boolean stream — the streaming
    form of batch ``Stream.window_from`` (reference: per-key window
    streams, VectTerm.scala:530-543; r5 VERDICT item #4).

    The gate stream's rows are unioned into the keyed data stream and
    forward-filled onto data rows inside the per-key state step; on a
    timestamp tie the gate sorts FIRST, so a same-time close excludes
    the data row and a same-time open includes it (close-beats-data,
    WindowedBucket_LastValue.scala:10-11) — the exact tie rule of batch
    ``_asof_gate``.  Window numbering/emission then matches
    ``gated_reduce``: rising edge (as seen by data rows) opens, falling
    edge closes and emits ``(key, win_seq, total, n)``; the trailing
    open window never emits (live streams have no termination event).

    State is four doubles per key (gate + the open window's partial) —
    bounded regardless of stream length."""
    d = data.select(*keys, F.col(t), F.col(seq),
                    F.col(value_col).cast("double").alias("__v"),
                    F.lit(1).alias("__side"),
                    F.lit(None).cast("int").alias("__g"))
    g = gate_stream.select(*keys, F.col(t), F.col(seq),
                           F.lit(None).cast("double").alias("__v"),
                           F.lit(0).alias("__side"),
                           F.when(F.col(gate_col), F.lit(1))
                            .otherwise(F.lit(0)).alias("__g"))
    u = d.unionByName(g)
    q = quantize

    def step(st, pdf):
        # fill the gate onto every row from the last gate row at or
        # before it (carry seeds rows before this batch's first gate
        # event: gate defaults to False), then run the standard edge
        # step over the data rows only
        import numpy as np
        n = len(pdf)
        side = pdf["__side"].to_numpy()
        gv = pdf["__g"].to_numpy(dtype="float64")
        pos = np.arange(n, dtype="float64")
        lp = pd.Series(np.where(side == 0, pos, np.nan)).ffill().to_numpy()
        has = ~np.isnan(lp)
        filled = np.full(n, st["gate"] == 1.0)
        filled[has] = gv[lp[has].astype("int64")] == 1.0
        hits = np.flatnonzero(side == 0)
        if len(hits):
            st["gate"] = float(gv[hits[-1]])
        mask = side == 1
        return _gated_edge_step(
            st, filled[mask],
            pdf[seq].to_numpy(dtype="float64")[mask],
            pdf["__v"].to_numpy(dtype="float64")[mask], q)

    key_ddl = _key_ddl(data, keys)
    return stateful_scan(
        u, keys,
        {"in_win": 0.0, "acc": 0.0, "cnt": 0.0, "win_seq": 0.0,
         "gate": 0.0}, step,
        f"{key_ddl}, win_seq long, total double, n long",
        t=t, order_cols=[t, "__side", seq])


def sliding_scan(df: DataFrame, keys: list[str], duration: str, slide: str,
                 value_col: str, t: str = "ts", seq: str = "event_id",
                 quantize: int | None = None,
                 watermark: str | None = None) -> DataFrame:
    """Live CUMULATIVE emission on sliding windows (r5 VERDICT item #6):
    every event emits, for EACH of its containing windows, that window's
    running aggregate — the streaming counterpart of batch
    ``GroupedStream.scan`` on ``Sliding`` (core/stream.py Sliding scan).

    ``F.window`` with a slide in a projection explodes each row into its
    duration/slide member windows (the same trick the batch scan uses);
    the running sum is then per-(key, window) state — one (acc, n) pair
    per open window per key.

    ``watermark`` (e.g. ``"1 day"``) is the bounded-state mode for
    unbounded streams: the input is watermarked on ``t`` (rows later
    than the delay are dropped by Spark's watermark filter) and each
    (key, window) group's state carries an event-time expiry of
    ``window end + delay`` — once the watermark passes it the state
    store PURGES the group, so live state is at most the windows still
    inside the watermark horizon per key, regardless of stream length.
    Omitted, state is exact-forever (NoTimeout) — right for bounded
    replays, unbounded on endless streams.
    ``quantize`` as in trigger_reduce: exact integer accumulation."""
    if watermark is not None:
        df = df.withWatermark(t, watermark)
    exploded = (df.withColumn("__win", F.window(F.col(t), duration, slide))
                .withColumn("win_start", F.col("__win.start"))
                .drop("__win"))
    q = quantize
    timeout_ts = None
    if watermark is not None:
        horizon_ms = int((pd.Timedelta(duration) + pd.Timedelta(watermark))
                         .total_seconds() * 1000)
        tz = df.sparkSession.conf.get("spark.sql.session.timeZone")

        def timeout_ts(key):
            # win_start is the last group-key element (see skeys below);
            # it arrives wall-clock in the session zone (_epoch_ms)
            return _epoch_ms(key[-1], tz) + horizon_ms

    def step(st, pdf):
        import numpy as np
        v = pdf[value_col].to_numpy(dtype="float64")
        vals = np.round(v * q) if q else v
        run = st["acc"] + np.cumsum(vals)
        cnt = st["cnt"] + np.arange(1, len(pdf) + 1, dtype="float64")
        st["acc"] = float(run[-1])
        st["cnt"] = float(cnt[-1])
        return pd.DataFrame({
            t: pdf[t].to_numpy(), seq: pdf[seq].to_numpy().astype("int64"),
            "running_total": (run / q if q else run),
            "running_n": cnt.astype("int64")})

    skeys = [*keys, "win_start"]
    key_ddl = _key_ddl(exploded, skeys)
    tddl = df.schema[t].dataType.simpleString()
    return stateful_scan(
        exploded, skeys, {"acc": 0.0, "cnt": 0.0}, step,
        f"{key_ddl}, {t} {tddl}, {seq} long, "
        f"running_total double, running_n long",
        t=t, order_cols=[t, seq], timeout_ts=timeout_ts)


def _lifecycle_step(bucket_factory, step_ms: int, cyc: str, t: str,
                    seq: str, last: bool):
    """The shared cross-micro-batch lifecycle fold of `live_collapse`
    and `live_bind`: the mutable bucket object AND the open cycle's
    raw rows live in the state store; ``add_cycle`` fires exactly ONCE
    per (key, cycle) — when a later cycle value proves the cycle
    complete — so the rendezvous contract holds even when one cycle's
    rows land in different micro-batches (red-tested: the eager
    per-batch fold double-counted split cycles).

    The slice id comes from the CYCLE value, not the per-row t: all
    rows of one cycle share one cyc value so a cycle can never
    straddle a slice boundary (which would split the (bid, cyc) group
    and fire add_cycle twice whenever `every` is not a multiple of
    the cycle truncation, e.g. hourly cycles with every='90
    minutes')."""
    def step(st, pdf):
        from pyspark import cloudpickle
        bucket = (cloudpickle.loads(bytes(st["blob"]))
                  if st["blob"] is not None else None)
        pend = (cloudpickle.loads(bytes(st["pend"]))
                if st["pend"] is not None else None)
        if pend is not None:
            # pending rows precede every batch row (in-order contract)
            pdf = pd.concat([pend, pdf], ignore_index=True)
        out = []
        bids = pd.Series(pdf[cyc].values.astype("datetime64[ms]")
                         .astype("int64") // step_ms, index=pdf.index)
        groups = list(pdf.groupby([bids, pdf[cyc]], sort=True))
        # the LAST (bucket, cycle) group stays pending — its rendezvous
        # is only proven complete by a later cycle's arrival
        for (bid, _cval), grp in groups[:-1]:
            if bucket is not None and bid > st["bucket"]:
                bucket.complete()
                if last:
                    out.append({t: pd.Timestamp(int(st["last_t"]),
                                                unit="us"),
                                seq: int(st["last_seq"]),
                                **bucket.value()})
                bucket = None
            if bucket is None:
                bucket = bucket_factory()
                bucket.open()
                st["bucket"] = float(bid)
            bucket.add_cycle(grp)
            if not last:
                out.append({t: grp[t].iloc[-1],
                            seq: int(grp[seq].iloc[-1]),
                            **bucket.value()})
            st["last_t"] = float(grp[t].values[-1]
                                 .astype("datetime64[us]").astype("int64"))
            st["last_seq"] = float(grp[seq].iloc[-1])
        if groups:
            # a pending row in a LATER bucket already proves the open
            # bucket complete (cycles are time-ordered): close and emit
            # it now — otherwise a key whose final slice holds a single
            # cycle would never close its previous slice
            pend_bid = groups[-1][0][0]
            if bucket is not None and pend_bid > st["bucket"]:
                bucket.complete()
                if last:
                    out.append({t: pd.Timestamp(int(st["last_t"]),
                                                unit="us"),
                                seq: int(st["last_seq"]),
                                **bucket.value()})
                bucket = None
            st["pend"] = bytearray(cloudpickle.dumps(groups[-1][1]))
        st["blob"] = (bytearray(cloudpickle.dumps(bucket))
                      if bucket is not None else None)
        return out
    return step


def live_collapse(df: DataFrame, keys: list[str], bucket_factory,
                  every: str, value_ddl: str, t: str = "ts",
                  seq: str = "event_id", emit: str = "last",
                  cycle_col: str | None = None) -> DataFrame:
    """Custom lifecycle buckets (open/add-per-cycle/complete) in live
    mode — the streaming counterpart of ``operators.buckets.collapse``
    (reference: collapseWith/collapseK, VectTerm.scala:632-661;
    lifecycle SliceCellLifecycle.scala:13-30; atomic same-cycle
    rendezvous SlicedBucket.scala:33-83).

    The mutable bucket OBJECT is the per-key state: cloudpickled into
    the state store between micro-batches (the reference holds exactly
    this object in its graph node), alongside the OPEN cycle's raw
    rows — one (key, cycle) may span micro-batches, and the rendezvous
    contract (all rows sharing one ``cycle_col`` value fire the bucket
    ONCE) only holds if ``add_cycle`` waits until a later cycle value
    proves the cycle complete (r11 fix, red-tested: the previous eager
    per-batch fold double-counted split cycles; `live_bind` always
    buffered — `_lifecycle_step` is now shared).  Hence only CLOSED
    cycles fire, and:

      * ``emit="last"``: the completed bucket emits one row at its last
        event's (t, seq) — only CLOSED buckets emit (live streams have
        no termination event; batch mode owns the termination flush,
        SimpleEnv.scala:93, same contract as count_reduce).
      * ``emit="all"``: every CLOSED cycle emits the bucket's running
        value (CUMULATIVE) at the cycle's own (t, seq); per key the
        final pending cycle never emits.

    State size is one pickled bucket + one cycle's raw rows per key —
    bounded by cycle width, not stream length.  ``every`` must be a
    fixed-width duration (epoch alignment matches batch ``F.window``);
    ``cycle_col`` must be an event-time truncation (timestamp), because
    the ``every``-slice id derives from the CYCLE value (one cycle can
    never straddle a slice boundary)."""
    if emit not in ("last", "all"):
        raise ValueError(f"emit must be 'last' or 'all', got {emit!r}")
    step_ms = int(pd.Timedelta(every).total_seconds() * 1000)
    cyc = cycle_col or t
    from pyspark.sql.types import TimestampType, TimestampNTZType
    if not isinstance(df.schema[cyc].dataType,
                      (TimestampType, TimestampNTZType)):
        raise ValueError(
            f"cycle_col {cyc!r} must be an event-time truncation "
            f"(timestamp), got {df.schema[cyc].dataType.simpleString()} — "
            "the slice id is derived from the cycle value so one cycle "
            "can never straddle a slice boundary")
    last = emit == "last"
    step = _lifecycle_step(bucket_factory, step_ms, cyc, t, seq, last)

    key_ddl = _key_ddl(df, keys)
    tddl = df.schema[t].dataType.simpleString()
    return stateful_scan(
        df, keys,
        {"bucket": -1.0, "last_t": 0.0, "last_seq": 0.0,
         "blob": None, "pend": None},
        step,
        f"{key_ddl}, {t} {tddl}, {seq} long, {value_ddl}",
        t=t, order_cols=[t, seq],
        state_schema="bucket double, last_t double, last_seq double, "
                     "blob binary, pend binary")


def live_bind(inputs: dict[str, tuple[DataFrame, Iterable[str]]],
              keys: list[str], bucket_factory, every: str, value_ddl: str,
              t: str = "ts", seq: str = "event_id", emit: str = "last",
              cycle_col: str | None = None) -> DataFrame:
    """Live N-way bucket ``bind``: N tagged input streams rendezvous
    into ONE lifecycle bucket per (key, ``every``-slice) — the
    streaming counterpart of ``operators.buckets.bind`` + ``collapse``
    (reference Entry point C: EnvTermBuilder.scala:113-134 binds
    trades+quotes into one Stats bucket; the rendezvous contract —
    a multi-input node fires ONCE per cycle after all inputs — is
    JoinValueRendezvous / SlicedBucket.scala:33-83).

    Each input keeps its own value columns (other sides null) plus a
    ``side`` tag, exactly like batch ``bind``; the union is
    shuffle-free and the one grouped exchange is per key.

    Cross-micro-batch atomicity is the point: rows of one (key, cycle)
    may land in DIFFERENT micro-batches (the N sources advance
    independently), so the OPEN cycle's rows are buffered in the state
    store and ``add_cycle`` fires exactly once — when a row with a
    LATER cycle value arrives and proves the cycle complete.  Hence
    only CLOSED cycles fire and only CLOSED buckets emit (no
    termination event live — the live_collapse contract): per key the
    final bucket, which contains the final pending cycle, never emits.

    Requires the in-order multi-batch delivery every live fold here
    assumes, plus ``cycle_col`` non-decreasing in ``t`` (any event-time
    truncation qualifies; default = ``t`` itself — enforced as a
    timestamp column, because the ``every``-slice id is derived from
    the CYCLE value: one cycle therefore maps to exactly one slice even
    when ``every`` is not a multiple of the cycle truncation, e.g.
    hourly cycles with ``every='90 minutes'``).  State per key is
    one pickled bucket + ONE cycle's raw rows — bounded by cycle
    width, not stream length."""
    if emit not in ("last", "all"):
        raise ValueError(f"emit must be 'last' or 'all', got {emit!r}")
    parts = []
    for tag, (df, cols) in inputs.items():
        parts.append(df.select(*keys, t, seq, *cols)
                     .withColumn("side", F.lit(tag)))
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p, allowMissingColumns=True)

    step_ms = int(pd.Timedelta(every).total_seconds() * 1000)
    cyc = cycle_col or t
    from pyspark.sql.types import TimestampType, TimestampNTZType
    if not isinstance(u.schema[cyc].dataType,
                      (TimestampType, TimestampNTZType)):
        raise ValueError(
            f"cycle_col {cyc!r} must be an event-time truncation "
            f"(timestamp), got {u.schema[cyc].dataType.simpleString()} — "
            "the slice id is derived from the cycle value so one cycle "
            "can never straddle a slice boundary")
    last = emit == "last"

    step = _lifecycle_step(bucket_factory, step_ms, cyc, t, seq, last)

    key_ddl = _key_ddl(u, keys)
    tddl = u.schema[t].dataType.simpleString()
    return stateful_scan(
        u, keys,
        {"bucket": -1.0, "last_t": 0.0, "last_seq": 0.0,
         "blob": None, "pend": None},
        step,
        f"{key_ddl}, {t} {tddl}, {seq} long, {value_ddl}",
        t=t, order_cols=[t, seq],
        state_schema="bucket double, last_t double, last_seq double, "
                     "blob binary, pend binary")


def cluster_route(stream_docs: DataFrame, bands_table: DataFrame,
                  labels_table: DataFrame, num_hashes: int = 16,
                  bands: int = 4, shingle_n: int = 3,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Near-dup cluster ROUTING at ingest: assign each arriving doc the
    label of the cluster it joins — the min over (a) resolved prior
    labels of its LSH band neighbors in the snapshot band table and
    (b) doc ids of drop-mates sharing a band (self included), so two
    novel near-dups arriving together elect a COMMON label that agrees
    with the next offline `incremental_components` merge (same min-id
    algebra; same within-cycle atomicity discipline as the keyed
    rendezvous family, reference SlicedBucket.scala:33-83).

    ``bands_table`` is the snapshot's ``bands`` artifact
    (``(doc_id, band, band_hash)``; `snapshot.read_snapshot`), and
    ``labels_table`` the resolved ``(id, cluster)`` mapping
    (`snapshot.read_clusters`) — prior ids absent from it (singletons)
    fall back to their own id, matching the offline convention.

    Plan: map-only staged banding on the stream; one stream-static
    equi-join against the band+label artifacts; one stream-stream
    SELF-join on the band bucket for the in-drop mates (join state ∝
    band rows seen — the standing-index cost any online LSH server
    carries; refolding the snapshot and restarting the route bounds it
    operationally); then a per-doc `first_wins` min election.
    Cross-drop: a later doc also sees earlier drops' band rows in the
    join state — consistent with the eventual offline merge whenever
    smaller doc ids arrive no later (crawl ids are monotone); a
    single-drop corpus is exact regardless (pinned against
    `incremental_components` in tests).  Returns the un-started
    streaming DataFrame of ``(id_col, cluster)``."""
    from ..operators.dedup import banded_signatures_rowwise
    sb = banded_signatures_rowwise(
        stream_docs, id_col=id_col, text_col=text_col,
        num_hashes=num_hashes, bands=bands,
        shingle_n=shingle_n).select(id_col, "band", "band_hash")
    pb = bands_table.select(F.col(id_col).alias("__pid"), "band",
                            "band_hash")
    plabels = labels_table.select(F.col("id").alias("__pid"),
                                  F.col("cluster").alias("__cl"))
    # prior-label candidates (inner band match: the self mate-pair
    # below already supplies the own-id fallback for novel docs)
    prior_cand = (sb.join(pb, ["band", "band_hash"])
                  .join(plabels, "__pid", "left")
                  .select(id_col,
                          F.coalesce("__cl", F.col("__pid"))
                          .alias("cluster")))
    mates = (sb.alias("L").join(
                 sb.alias("R"),
                 (F.col("L.band") == F.col("R.band"))
                 & (F.col("L.band_hash") == F.col("R.band_hash")))
             .select(F.col(f"L.{id_col}").alias(id_col),
                     F.col(f"R.{id_col}").alias("cluster")))
    cand = prior_cand.unionByName(mates)
    return first_wins(cand, keys=[id_col], order_cols=["cluster"],
                      payload_cols=["cluster"], t="cluster")


def run_available_now(df: DataFrame, output_mode: str = "complete",
                      name: str | None = None) -> DataFrame:
    """Execute a streaming DataFrame over all currently-available input
    (Trigger.AvailableNow) into a memory sink and return the result as
    a batch DataFrame — the bridge that lets the same golden tests
    assert on live-mode output."""
    name = name or f"mem_{uuid.uuid4().hex[:8]}"
    q = (df.writeStream.format("memory").queryName(name)
         .outputMode(output_mode).trigger(availableNow=True).start())
    q.awaitTermination()
    return df.sparkSession.table(name)


def write_parquet(df: DataFrame, path: str, checkpoint: str,
                  partition_by: Iterable[str] = (),
                  output_mode: str = "append") -> None:
    """The production file sink: AvailableNow parquet write with a
    checkpoint.  The checkpoint's offset log makes restarts exactly-once
    — re-running with the same checkpoint against already-processed
    input writes NOTHING new (no dedup pass needed downstream), and a
    crash mid-run resumes from the last committed batch.  Partitioning
    columns cluster output files for downstream partition pruning."""
    w = (df.writeStream.format("parquet")
         .option("path", path)
         .option("checkpointLocation", checkpoint)
         .outputMode(output_mode)
         .trigger(availableNow=True))
    pb = list(partition_by)
    if pb:
        w = w.partitionBy(*pb)
    q = w.start()
    q.awaitTermination()


class LiveStream:
    """The fluent Stream surface over a *streaming* DataFrame — the
    reference's central contract is that one expression works on both
    historic and realtime sources (EventSource.java:3-6); here the same
    verbs compile to Structured Streaming plans instead of batch ones.

    Supported live verbs: map / filter / filter_type / by (keying),
    map_keys (stateless re-key), key_to_stream (stream-static factory
    bind), group(Every).reduce (watermarked tumbling), group(Count).reduce
    (stateful count buckets), group(Sliding).scan (per-(key, window)
    running state), value_set (watermarked dropDuplicates),
    zip_join (stateful last-value zip), take / sample (stateful as-of
    join) — all three with ``key_map=`` for K -> K2 keyed-bucket joins
    (keymap_latest, optional idle_ttl state purge), window / window_scan
    (boolean-gated windows, reduce and cumulative emission), window_from
    (gate carried by a separate stream), sliding_scan (cumulative
    sliding windows, optional watermark TTL), scan_state (arbitrary
    per-key fold), trigger_reduce / trigger_stream_reduce (data-driven
    slicing by a condition or a separate trigger stream), and
    live_collapse (module-level: lifecycle buckets with the mutable
    bucket object as pickled state).  ``run()`` executes AvailableNow
    into a memory sink — the bridge that lets batch golden tests assert
    on live output.
    """

    def __init__(self, df: DataFrame, t: str = "ts", seq: str = "event_id",
                 keys: tuple = (), watermark: str = "1 day"):
        self.df = df
        self.t = t
        self.seq = seq
        self.keys = tuple(keys)
        self.watermark = watermark

    @classmethod
    def from_events(cls, spark: SparkSession, sf_dir: str,
                    watermark: str = "1 day") -> "LiveStream":
        return cls(read_events_stream(spark, sf_dir), watermark=watermark)

    def _derive(self, df: DataFrame, keys=None) -> "LiveStream":
        return LiveStream(df, self.t, self.seq,
                          self.keys if keys is None else tuple(keys),
                          self.watermark)

    def map(self, **named: Column) -> "LiveStream":
        df = self.df
        for name, col in named.items():
            df = df.withColumn(name, col)
        return self._derive(df)

    def filter(self, cond: Column) -> "LiveStream":
        return self._derive(self.df.filter(cond))

    def filter_type(self, discriminator: str, value: str) -> "LiveStream":
        return self.filter(F.col(discriminator) == value)

    def by(self, key: str) -> "LiveStream":
        return self._derive(self.df, keys=(*self.keys, key))

    def map_keys(self, new_key: Column, name: str = "key") -> "LiveStream":
        """Live re-key K -> Option[K2]; a null mapping drops the event
        (reference: ReKeyedVector.scala:9-59).  Stateless — a pure
        projection + filter in the streaming plan.  The optional 1:1
        collision assertion is batch-only (``Stream.map_keys(
        check_collisions=True)``): it is a whole-history aggregate a
        live plan cannot evaluate mid-stream."""
        df = self.df.withColumn(name, new_key).filter(F.col(name).isNotNull())
        return self._derive(df, keys=(name,))

    def key_to_stream(self, factory: DataFrame) -> "LiveStream":
        """Live keyToStream (reference: VectTerm.scala:435-440): bind the
        stream's evolving keyset to a STATIC factory table with a
        stream-static left join — each newly discovered key emits its
        factory rows; keys with no factory rows keep one null row (the
        unbound-cell state).  Key discovery = watermarked streaming
        distinct, so state is bounded; the factory side is a batch
        DataFrame (broadcast by Catalyst when small)."""
        keyset = dedupe(self.df.select(*self.keys, self.t, self.seq),
                        list(self.keys), self.t, self.watermark)
        # a factory carrying its own t/seq columns (the batch contract:
        # batch key_to_stream emits FACTORY event times) would collide
        # with the key-discovery times — drop the overlapping discovery
        # columns so the joined output carries the factory's,
        # unambiguously
        overlap = [c for c in (self.t, self.seq) if c in factory.columns]
        if overlap:
            keyset = keyset.drop(*overlap)
        out = keyset.join(factory, on=list(self.keys), how="left")
        return self._derive(out)

    def value_set(self, cols) -> "LiveStream":
        return self._derive(dedupe(self.df, list(cols), self.t, self.watermark))

    def _keymap(self, other: "LiveStream", key_map) -> tuple[str, str]:
        if len(self.keys) != 1 or len(other.keys) != 1:
            raise ValueError("key_map join requires single-key streams "
                             f"({self.keys} vs {other.keys})")
        return self.keys[0], other.keys[0]

    def zip_join(self, other: "LiveStream", left_col: str,
                 right_col: str, key_map=None) -> "LiveStream":
        """Live zip join; with ``key_map`` the K -> K2 vector join
        (VectTerm.scala:454-456): each of this stream's cells binds the
        ``key_map(k)`` cell of ``other``, either side firing emits under
        THIS stream's key (see ``keymap_latest``)."""
        if key_map is not None:
            lk, rk = self._keymap(other, key_map)
            out = keymap_latest(self.df, other.df, lk, rk, key_map,
                                [left_col], [right_col], "both",
                                self.t, self.seq)
            return self._derive(out, keys=(lk,))
        if self.keys != other.keys:
            raise ValueError("zip_join requires identical keys")
        out = zip_latest(self.df, other.df, list(self.keys),
                         left_col, right_col, self.t, self.seq)
        return self._derive(out)

    def take(self, other: "LiveStream", left_cols: list[str],
             right_cols: list[str], key_map=None) -> "LiveStream":
        """Live as-of join: emit (self.latest, other) when *other* fires
        (the streaming form of batch ``take``, MacroTerm.scala:209-221).
        With ``key_map`` each right event fires every LIVE cell in its
        bucket (VectTerm.scala:458-460; see ``keymap_latest``)."""
        if key_map is not None:
            lk, rk = self._keymap(other, key_map)
            out = keymap_latest(self.df, other.df, lk, rk, key_map,
                                left_cols, right_cols, "right",
                                self.t, self.seq)
            return self._derive(out, keys=(lk,))
        if self.keys != other.keys:
            raise ValueError("take requires identical keys")
        out = asof_latest(self.df, other.df, list(self.keys),
                          left_cols, right_cols, self.t, self.seq)
        return self._derive(out)

    def sample(self, trigger: "LiveStream", value_cols: list[str],
               key_map=None) -> "LiveStream":
        """Snapshot this stream's latest values whenever ``trigger`` fires
        (the streaming form of batch ``sample``, MacroTerm.scala:226-230)."""
        return self.take(trigger, value_cols, [], key_map=key_map)

    def window(self, gate: Column, value_col: str,
               quantize: int | None = None) -> "LiveStream":
        """Live boolean-gated windows: accumulate ``value_col`` while the
        gate holds, emit (win_seq, total, n) on the falling edge."""
        out = gated_reduce(self.df, list(self.keys), gate, value_col,
                           self.t, self.seq, quantize)
        return self._derive(out)

    def window_scan(self, gate: Column, value_col: str,
                    quantize: int | None = None) -> "LiveStream":
        """CUMULATIVE gated windows: every in-window row emits the
        running (total, n) — open windows included, exactly like batch
        ``window(gate).scan`` (see ``gated_scan``)."""
        out = gated_scan(self.df, list(self.keys), gate, value_col,
                         self.t, self.seq, quantize)
        return self._derive(out)

    def window_from(self, gate_stream: "LiveStream", gate_col: str,
                    value_col: str,
                    quantize: int | None = None) -> "LiveStream":
        """Live windows gated by a SEPARATE boolean stream (batch
        ``Stream.window_from``): the gate forward-fills onto data rows
        with gate-first tie order (close-beats-data), then the standard
        edge-detect windows (see ``gated_reduce_from``)."""
        if self.keys != gate_stream.keys:
            raise ValueError("window_from requires identical keys "
                             f"({self.keys} vs {gate_stream.keys})")
        out = gated_reduce_from(self.df, gate_stream.df, list(self.keys),
                                gate_col, value_col, self.t, self.seq,
                                quantize)
        return self._derive(out)

    def window_from_scan(self, gate_stream: "LiveStream", gate_col: str,
                         value_col: str,
                         quantize: int | None = None) -> "LiveStream":
        """CUMULATIVE emission inside windows gated by a SEPARATE
        boolean stream (batch ``window_from(...).scan``; see
        ``gated_scan_from``)."""
        if self.keys != gate_stream.keys:
            raise ValueError("window_from_scan requires identical keys "
                             f"({self.keys} vs {gate_stream.keys})")
        out = gated_scan_from(self.df, gate_stream.df, list(self.keys),
                              gate_col, value_col, self.t, self.seq,
                              quantize)
        return self._derive(out)

    def trigger_stream_scan(self, trig: "LiveStream", value_col: str,
                            align: str = "AFTER",
                            quantize: int | None = None) -> "LiveStream":
        """CUMULATIVE emission inside buckets sliced by a separate
        trigger stream (batch ``group(TriggerStream(...)).scan``; see
        ``trigger_stream_scan``)."""
        if self.keys != trig.keys:
            raise ValueError("trigger-stream slicing requires identical keys")
        out = trigger_stream_scan(self.df, trig.df, list(self.keys),
                                  value_col, align, self.t, self.seq,
                                  quantize)
        return self._derive(out)

    def sliding_scan(self, duration: str, slide: str, value_col: str,
                     quantize: int | None = None,
                     watermark: str | None = None) -> "LiveStream":
        """Live CUMULATIVE per-window emission for sliding windows (the
        scan counterpart of ``group(Sliding).reduce``; see
        ``sliding_scan``).  Pass ``watermark`` on unbounded streams to
        purge closed-window state once the watermark passes (bounded
        state; rows later than the delay are dropped)."""
        out = sliding_scan(self.df, list(self.keys), duration, slide,
                           value_col, self.t, self.seq, quantize,
                           watermark=watermark)
        return self._derive(out)

    def group(self, spec) -> "LiveGrouped":
        return LiveGrouped(self, spec)

    def count_reduce(self, n: int, value_col: str) -> "LiveStream":
        out = count_reduce(self.df, list(self.keys), n, value_col,
                           self.t, self.seq)
        return self._derive(out)

    def trigger_reduce(self, boundary: Column, value_col: str,
                       align: str = "AFTER") -> "LiveStream":
        out = trigger_reduce(self.df, list(self.keys), boundary, value_col,
                             align, self.t, self.seq)
        return self._derive(out)

    def trigger_stream_reduce(self, trig: "LiveStream", value_col: str,
                              align: str = "AFTER") -> "LiveStream":
        if self.keys != trig.keys:
            raise ValueError("trigger-stream slicing requires identical keys")
        out = trigger_stream_reduce(self.df, trig.df, list(self.keys),
                                    value_col, align, self.t, self.seq)
        return self._derive(out)

    def collapse(self, bucket_factory, every: str, value_ddl: str,
                 emit: str = "last",
                 cycle_col: str | None = None) -> "LiveStream":
        """Custom lifecycle buckets over ``every``-duration slices (the
        fluent form of ``live_collapse``; batch counterpart
        ``operators.buckets.collapse``)."""
        out = live_collapse(self.df, list(self.keys), bucket_factory,
                            every, value_ddl, self.t, self.seq, emit,
                            cycle_col)
        return self._derive(out)

    def scan_state(self, state_fields: dict, step: Callable,
                   out_schema: str) -> "LiveStream":
        out = stateful_scan(self.df, list(self.keys), state_fields, step,
                            out_schema, t=self.t,
                            order_cols=[self.t, self.seq])
        return self._derive(out)

    def map_vector(self, **aggs) -> "LiveStream":
        """Live cross-key whole-vector aggregate: the running value over
        ALL events in arrival order, emitted at each event (reference
        mapVector, VectTerm.scala:145-176 — batch: Stream.map_vector).

        Each agg is ``name=("count",)`` / ``("sum"|"max"|"min", col)``.
        The fold is one stateful group (the whole vector is one running
        value), matching the reference's single-threaded push graph; for
        throughput-bound batch backfills use Stream.map_vector with
        ``buckets=`` instead, which parallelizes the same semantics."""
        import pandas as pd

        specs = {}
        for name, spec in aggs.items():
            kind, col = spec if len(spec) == 2 else (spec[0], None)
            if kind not in ("count", "sum", "max", "min"):
                raise ValueError(f"map_vector agg {name!r}: kind must be "
                                 f"count/sum/max/min, got {kind!r}")
            if kind != "count" and col is None:
                raise ValueError(f"map_vector agg {name!r}: {kind} needs a "
                                 f"source column")
            specs[name] = (kind, col)
        # sum state starts None (not 0.0): batch F.sum windows emit NULL
        # until the first non-null value, and seeding 0.0 would emit 0.0
        # there instead — a live/batch divergence
        state_fields = {n: 0 if k == "count" else None
                        for n, (k, _) in specs.items()}
        state_schema = ", ".join(
            f"{n} {'bigint' if k == 'count' else 'double'}"
            for n, (k, _) in specs.items())
        out_types = {n: "bigint" if k == "count" else "double"
                     for n, (k, _) in specs.items()}
        tddl = self.df.schema[self.t].dataType.simpleString()
        sddl = self.df.schema[self.seq].dataType.simpleString()
        out_schema = (f"__all int, {self.t} {tddl}, {self.seq} {sddl}, "
                      + ", ".join(f"{n} {ty}" for n, ty in out_types.items()))
        t, seq = self.t, self.seq

        def step(st, pdf):
            # null values must not poison the persisted state: batch
            # map_vector's F.sum/F.max windows IGNORE nulls, so the live
            # fold mirrors that — a null contributes nothing to sum, and
            # max/min carry through null rows (null only before the
            # first real value)
            import math
            out = pdf[[t, seq]].copy()
            for name, (kind, col) in specs.items():
                if kind == "count":
                    run = st[name] + pd.RangeIndex(1, len(pdf) + 1)
                    st[name] = int(run[-1])
                elif kind == "sum":
                    s = pdf[col].astype("float64")
                    base = st[name] if st[name] is not None else 0.0
                    run = base + s.fillna(0.0).cumsum()
                    if st[name] is None:
                        # NULL until the first real value EVER (matches
                        # batch F.sum); the seen flag is the state value
                        # itself flipping from None
                        seen = s.notna().cummax()
                        run = run.where(seen)
                        if bool(seen.iloc[-1]):
                            st[name] = float(run.iloc[-1])
                    else:
                        st[name] = float(run.iloc[-1])
                else:
                    s = pdf[col].astype("float64")
                    run = (s.cummax() if kind == "max" else s.cummin()).ffill()
                    if st[name] is not None:
                        run = (run.clip(lower=st[name]) if kind == "max"
                               else run.clip(upper=st[name])).fillna(st[name])
                    last = run.iloc[-1]
                    if not (isinstance(last, float) and math.isnan(last)):
                        st[name] = float(last)
                out[name] = run
            return out

        out = stateful_scan(
            self.df.withColumn("__all", F.lit(0)), ["__all"], state_fields,
            step, out_schema, t=self.t, order_cols=[self.t, self.seq],
            state_schema=state_schema).drop("__all")
        return self._derive(out, keys=())  # cross-key output is unkeyed

    def run(self, output_mode: str = "append") -> DataFrame:
        return run_available_now(self.df, output_mode)

    def to_parquet(self, path: str, checkpoint: str,
                   partition_by: Iterable[str] = ()) -> None:
        """Checkpointed parquet sink (see ``write_parquet``): the
        durable, exactly-once-on-restart output path."""
        write_parquet(self.df, path, checkpoint, partition_by)


class LiveGrouped:
    def __init__(self, stream: LiveStream, spec):
        self.stream = stream
        self.spec = spec

    def scan(self, value_col: str,
             quantize: int | None = None) -> LiveStream:
        """CUMULATIVE emission — live support mirrors batch
        ``GroupedStream.scan``: ``Sliding`` via per-(key, window)
        running state, ``Count``/``Trigger``/``Session`` via the
        stateful ``sliced_scan``; gated windows live on
        ``LiveStream.window_scan``."""
        from ..core.stream import Count, Every, Session, Sliding, Trigger
        s = self.stream
        if isinstance(self.spec, Sliding):
            return s.sliding_scan(self.spec.duration, self.spec.slide,
                                  value_col, quantize)
        if isinstance(self.spec, Every):
            # a tumbling scan is the sliding scan with slide = duration
            return s.sliding_scan(self.spec.duration, self.spec.duration,
                                  value_col, quantize)
        if isinstance(self.spec, (Count, Trigger, Session)):
            out = sliced_scan(s.df, list(s.keys), self.spec, value_col,
                              s.t, s.seq, quantize)
            return s._derive(out)
        raise TypeError("live scan supports Count/Every/Trigger/Session/"
                        "Sliding; use scan_state for custom folds")

    def reduce(self, **aggs: Column) -> LiveStream:
        from ..core.stream import (Count, Every, Session, Sliding, Trigger,
                                   TriggerStream)
        s = self.stream

        def _windowed(out):
            # the aggregation consumed the event-time/seq columns; the
            # derived stream's ordering identity is the window itself —
            # pointing t/seq at dropped columns would break every
            # chained verb with UNRESOLVED_COLUMN
            return LiveStream(out, t="win_start", seq="win_start",
                              keys=s.keys, watermark=s.watermark)

        if isinstance(self.spec, Every):
            out = tumbling(s.df, self.spec.duration, keys=list(s.keys),
                           t=s.t, watermark=s.watermark, **aggs)
            return _windowed(out)
        if isinstance(self.spec, Session):
            # native stateful session windows: state purged once the
            # watermark passes a session's close — bounded at any scale
            wm = s.df.withWatermark(s.t, s.watermark)
            out = (wm.groupBy(*s.keys,
                              F.session_window(F.col(s.t), self.spec.gap)
                               .alias("__win"))
                   .agg(*[a.alias(n) for n, a in aggs.items()])
                   .withColumn("win_start", F.col("__win.start"))
                   .drop("__win"))
            return _windowed(out)
        if isinstance(self.spec, Sliding):
            wm = s.df.withWatermark(s.t, s.watermark)
            out = (wm.groupBy(*s.keys,
                              F.window(F.col(s.t), self.spec.duration,
                                       self.spec.slide).alias("__win"))
                   .agg(*[a.alias(n) for n, a in aggs.items()])
                   .withColumn("win_start", F.col("__win.start"))
                   .drop("__win"))
            return _windowed(out)
        if isinstance(self.spec, Count):
            # stateful count buckets support sum/count shapes via the
            # dedicated operator; arbitrary aggs need scan_state
            raise TypeError("use LiveStream.count_reduce for live "
                            "count-based buckets")
        if isinstance(self.spec, Trigger):
            raise TypeError("use LiveStream.trigger_reduce for live "
                            "data-driven slicing")
        if isinstance(self.spec, TriggerStream):
            raise TypeError("use LiveStream.trigger_stream_reduce for live "
                            "trigger-stream slicing")
        raise TypeError(f"live mode does not support slice spec "
                        f"{type(self.spec).__name__}; run it batch-first")
