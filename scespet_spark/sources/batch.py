"""Batch sources over the driver's parquet tables.

The reference's sources are replayable time-cursored iterators
(EventSource.java:16-60, IteratorEvents SimpleEvaluator.scala:33-62);
the batch translation is a parquet scan consumed in ``(t, seq)`` order.

``load_table`` also normalizes TIMESTAMP(NANOS) parquet columns: Spark
has no nanosecond timestamp type, so with
``spark.sql.legacy.parquet.nanosAsLong`` those columns arrive as long
epoch-nanos; we truncate to microseconds with *integer* division
(values > 2**53 forbid float division), matching DuckDB's ns->us
truncation so DataFrame results hash-match the DuckDB oracle.

Parquet schemas are inferred once per table listing.  Inference is a
Spark job, and a long-lived session re-reads the same tables on every
pass.  Measured on a 4-core box over the sf0.001-0.1 test tables, a
read that infers takes 100-240 ms; a read given its schema takes
15-40 ms, plus about 7 ms for the fingerprint check.
``parquet_schema`` keeps, per path, the ``StructType`` Spark inferred
together with a fingerprint of what the inference saw: the path's content summary (files, directories, bytes)
and modification time, read through the Hadoop ``FileSystem`` the read
uses, plus the parquet confs that change inference.  A matching
fingerprint returns the memo and the read starts no job; a changed one
(a table rewritten in place, a conf flipped) re-infers and replaces the
entry, so there is one entry per path however long the process runs.
The schema handed to ``spark.read.schema(...)`` is the one Spark
inferred from that listing, so scans, plans and rows are unchanged.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, StructType

from ..core.stream import Stream
from ..operators._driver import local_frame

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

#: columns that are TIMESTAMP(NANOS) in the driver's parquet files
_NANOS_TS_COLS = {"events": ("ts",)}


def ensure_nanos_conf(spark: SparkSession) -> None:
    """Make the driver's parquet timestamps readable on ANY session, not
    just ones built by engine.get_spark — both confs are runtime-settable
    SQL confs, so set them here rather than requiring callers to
    configure their builder.

    - ``nanosAsLong``: TIMESTAMP(NANOS) columns arrive as long
      epoch-nanos instead of dying with PARQUET_TYPE_ILLEGAL.
    - ``inferTimestampNTZ.enabled=false``: timestamp[us] columns written
      without isAdjustedToUTC read as TIMESTAMP (LTZ, UTC session)
      rather than TIMESTAMP_NTZ — NTZ breaks ``unix_micros`` and cannot
      mix with the LTZ timestamps our Timer/spine sources generate.
      Values are identical either way under the UTC session timezone.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


#: parquet confs that change what schema inference returns
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

#: path -> (fingerprint, inferred schema); one entry per path
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def path_fingerprint(spark: SparkSession, path: str) -> tuple | None:
    """What a listing of ``path`` saw: its content summary (files,
    directories, bytes) and modification time, read through the Hadoop
    ``FileSystem`` a read of ``path`` uses; ``None`` for a path the
    filesystem cannot summarize (a missing table)."""
    from ..operators.snapshot import _hadoop_fs
    fs, jpath = _hadoop_fs(spark, path)
    try:
        summary = fs.getContentSummary(jpath)
    except Py4JJavaError:
        return None
    return (summary.getFileCount(), summary.getDirectoryCount(),
            summary.getLength(),
            fs.getFileStatus(jpath).getModificationTime())


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, inferred once per
    listing of ``path`` (see the module docstring).  A path the
    filesystem cannot summarize (a missing table) is read as is, so the
    caller gets Spark's own error."""
    listing = path_fingerprint(spark, path)
    if listing is None:
        return spark.read.parquet(path).schema
    fingerprint = (*listing,
                   *(spark.conf.get(k, None) for k in _INFERENCE_CONFS))
    hit = _SCHEMAS.get(path)
    if hit is None or hit[0] != fingerprint:
        hit = _SCHEMAS[path] = (fingerprint, spark.read.parquet(path).schema)
    return hit[1]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_nanos_conf(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    for col in _NANOS_TS_COLS.get(name, ()):
        if isinstance(df.schema[col].dataType, LongType):
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return df


def events_stream(spark: SparkSession, sf_dir: str) -> Stream:
    """The `events` table as an event stream: ``ts`` is event-time and
    ``event_id`` the replay-order tie-breaker (it is assigned in
    generation order, mirroring the reference's cycle counter)."""
    return Stream(load_table(spark, sf_dir, "events"), t="ts", seq="event_id")


def _synth_seq(df: DataFrame, seq: str) -> DataFrame:
    """Deterministic replay tie-breaker for sources with no natural
    sequence column: a 64-bit hash of the full row content.  Unlike
    monotonically_increasing_id — whose values follow the partition
    layout, so the same file read with different split settings replays
    same-timestamp events in a different order — the row hash is a pure
    function of the data.  Identical duplicate rows share a seq and so
    coalesce atomically (the (key, t)-cycle semantics), which is the
    deterministic behavior."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    def has_map(dt) -> bool:
        # xxhash64 rejects map types RECURSIVELY (a struct/array holding
        # a map fails analysis too), so the check must recurse as well
        if isinstance(dt, MapType):
            return True
        if isinstance(dt, ArrayType):
            return has_map(dt.elementType)
        if isinstance(dt, StructType):
            return any(has_map(f.dataType) for f in dt.fields)
        return False

    # map-bearing columns hash via their JSON rendering (deterministic
    # for a given stored layout) rather than being DROPPED from the
    # hash — excluding them would give rows differing only in a map
    # column identical seqs, silently coalescing distinct events
    cols = [F.to_json(F.col(f.name)) if has_map(f.dataType)
            else F.col(f.name) for f in df.schema.fields]
    return df.withColumn(seq, F.xxhash64(*cols))


def _fetch_url_lines(path: str) -> list[str]:
    """Download an http(s) source once into a per-user, mode-0700
    driver-side cache and return its LINES.  The caller parallelizes the
    lines into the cluster, so this works on any deployment (a local
    /tmp path baked into a plan would 404 on real executors).  The
    reference's URL use case (RealTradeTests.scala:53-94) is small
    reference dumps, and that is what this is for: bulk data belongs on
    distributed storage, where the executors read it directly.

    Concurrency/tenancy: the cache dir is created 0700 under the
    current uid (another local user can neither poison nor read it) and
    downloads land in an mkstemp file before an atomic replace, so
    concurrent fetchers of one URL never interleave writes."""
    import hashlib
    import os
    import tempfile
    import urllib.request
    cache = os.path.join(tempfile.gettempdir(),
                         f"scespet_url_cache_{os.getuid()}")
    os.makedirs(cache, mode=0o700, exist_ok=True)
    dst = os.path.join(cache, hashlib.md5(path.encode()).hexdigest()
                       + os.path.basename(path)[-40:])
    if not os.path.exists(dst):
        fd, tmp = tempfile.mkstemp(dir=cache)
        try:
            with urllib.request.urlopen(path) as r, os.fdopen(fd, "wb") as f:
                f.write(r.read())
            os.replace(tmp, dst)  # atomic: never half-reads
        except BaseException:
            os.unlink(tmp)
            raise
    with open(dst, encoding="utf-8") as f:
        return f.read().splitlines()


def load_csv(spark: SparkSession, path: str, schema: str, sep: str = "\t",
             t: str = "ts", seq: str | None = None,
             header: bool = False) -> Stream:
    """Delimited file/URL event source (reference: the tab-separated
    trade/quote dumps, RealTradeTests.scala:53-94) — a schema'd CSV scan
    consumed in event-time order.  ``seq=None`` synthesizes a
    deterministic row-content hash as the replay tie-breaker; http(s)
    paths download via the driver cache and parallelize their LINES
    (cluster-safe — see ``_fetch_url_lines``)."""
    reader = (spark.read.option("sep", sep)
              .option("header", str(header).lower()).schema(schema))
    if path.startswith(("http://", "https://")):
        lines = _fetch_url_lines(path)
        df = reader.csv(spark.sparkContext.parallelize(lines or [""]))
    else:
        df = reader.csv(path)
    if seq is None:
        seq = "seq"
        df = _synth_seq(df, seq)
    return Stream(df, t=t, seq=seq)


def load_jsonl(spark: SparkSession, path: str, schema: str | None = None,
               t: str = "ts", seq: str | None = None) -> Stream:
    """JSON-lines corpus source — the de-facto LLM training-data
    interchange format.  Always pass ``schema`` at scale: schema
    inference scans the data once before the real read, doubling the
    100TB ingest.  ``seq=None`` synthesizes the replay tie-breaker."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if path.startswith(("http://", "https://")):
        lines = _fetch_url_lines(path)
        df = reader.json(spark.sparkContext.parallelize(lines or ["{}"]))
    else:
        df = reader.json(path)
    if seq is None:
        seq = "seq"
        df = _synth_seq(df, seq)
    return Stream(df, t=t, seq=seq)


def timer_spine(spark: SparkSession, start, end, step: str,
                t: str = "ts") -> Stream:
    """Periodic event source (reference: util/Timer.scala:10-30) as a
    generated timestamp spine: sequence() + explode, no driver loop."""
    df = (spark.range(1)
          .select(F.explode(F.sequence(
              F.lit(start).cast("timestamp"),
              F.lit(end).cast("timestamp"),
              F.expr(f"INTERVAL {step}"))).alias(t))
          .withColumn("seq", F.monotonically_increasing_id()))
    return Stream(df, t=t, seq="seq")


def as_vector(spark: SparkSession, keys, key_col: str = "key",
              t: str = "ts", seq: str = "seq") -> Stream:
    """Literal keyset -> keyed stream whose values are the keys
    (reference: asVector, EnvTermBuilder.scala:59-62).  All cells
    initialise at t=0."""
    rows = [(k, 0, i) for i, k in enumerate(keys)]
    df = local_frame(spark, rows, f"{key_col} string, __t long, {seq} long") \
        if all(isinstance(k, str) for k in keys) else \
        local_frame(spark, rows, f"{key_col} long, __t long, {seq} long")
    df = df.select(F.col("__t").cast("timestamp").alias(t), seq, key_col)
    return Stream(df, t=t, seq=seq, keys=(key_col,))


def random_events(spark: SparkSession, n: int, seed: int = 42,
                  t: str = "ts", value: str = "value") -> Stream:
    """Programmatic/random event source (reference: EventGenerator /
    newRandom, test/programs/package.scala:16-52): ``spark.range`` +
    column exprs — generated distributed, never a driver loop.

    Values derive from ``hash(id, seed)``, NOT ``F.rand(seed)``:
    rand() seeds per-PARTITION, so its output changes with the range's
    partition layout — the same call would generate different "random"
    data on a different core count.  The hash form is a pure function
    of (id, seed): reproducible on any cluster shape."""
    u = (F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(1_000_000))
         / F.lit(1_000_000.0))
    df = (spark.range(n)
          .select(F.timestamp_micros((F.col("id") * 1_000_000).cast("long")).alias(t),
                  F.col("id").alias("seq"),
                  F.round(u * 100, 6).alias(value)))
    return Stream(df, t=t, seq="seq")


def planted_embeddings(spark: SparkSession, n: int = 2000, dim: int = 64,
                       centers: int = 20, noise: float = 0.35,
                       seed: int = 7) -> DataFrame:
    """Planted-cluster embedding fixture: ``n`` unit vectors drawn
    around ``centers`` random unit centroids with isotropic Gaussian
    ``noise`` — the STRUCTURED counterpart of the driver's
    near-isotropic synthetic embeddings, for measuring what the ANN
    operators actually deliver (an isotropic corpus makes top-k recall
    through any index honestly noisy because all pairwise cosines
    crowd together; a real embedding corpus is cluster-structured, and
    this fixture models that).  Returns ``(vec_id long, embedding
    array<double>, label int)`` with ``label`` = the planted center id
    (usable directly as the IVF coarse cell, or rebuilt with
    ``kmeans_codes`` to exercise the trained path).  Deterministic in
    ``seed``; generated with numpy on the driver — a FIXTURE generator
    for tests/benchmarks (n ~ thousands), not a data source."""
    import numpy as np
    rng = np.random.default_rng(seed)
    C = rng.normal(size=(centers, dim))
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    lab = rng.integers(0, centers, size=n)
    X = C[lab] + rng.normal(0, noise / np.sqrt(dim), size=(n, dim))
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    rows = [(int(i), [float(x) for x in X[i]], int(lab[i]))
            for i in range(n)]
    return local_frame(spark, rows,
                       "vec_id long, embedding array<double>, label int")


def show(stream: Stream, n: int = 20, prefix: str = "") -> None:
    """Console sink (reference: out(prefix) / util.TermPrint,
    src/scespet/util/package.scala:44-56): print events in replay order."""
    if prefix:
        print(prefix)
    stream.df.orderBy(*stream._order()).show(n, truncate=False)


def write_partitioned(df: DataFrame, path: str, partition_cols=(),
                      sort_within=(), max_records_per_file: int = 2_000_000,
                      mode: str = "overwrite", fmt: str = "parquet",
                      zorder_by=(), zorder_bits: int = 16) -> None:
    """Columnar sink for pipeline outputs at scale: hive-partition by
    the given columns, cluster writes so each task writes few files per
    partition value (repartition on the partition key avoids the
    every-task-writes-every-partition small-file explosion), sort within
    files for row-group pruning on later scans, and cap records per
    file so downstream readers get balanced splits.  ``fmt`` selects
    any columnar format Spark writes natively (parquet, orc) — both
    carry the same partition/sort/size clustering.

    ``zorder_by`` clusters files on the MORTON key of several columns
    instead of a plain sort: per-file min/max stats then prune
    selective scans on ANY of the interleaved columns (measured in
    SCALE.md: 100% -> 11% of rows visited for the second column).
    Mutually exclusive with ``sort_within`` (one clustering order per
    write); composes with hive partitioning — the Z-key orders rows
    WITHIN each partition value."""
    if fmt not in ("parquet", "orc"):
        raise ValueError(f"unsupported columnar sink format: {fmt}")
    if zorder_by and sort_within:
        raise ValueError("zorder_by and sort_within are mutually "
                         "exclusive — one clustering order per write")
    w = df
    if zorder_by:
        from ..operators.layout import zorder_key
        w = zorder_key(w, list(zorder_by), bits=zorder_bits, out="__z")
        w = (w.repartitionByRange(*[F.col(c) for c in partition_cols],
                                  F.col("__z"))
             .sortWithinPartitions(*[F.col(c) for c in partition_cols],
                                   "__z")
             .drop("__z"))
    elif partition_cols:
        w = w.repartition(*[F.col(c) for c in partition_cols])
    if sort_within:
        w = w.sortWithinPartitions(*[F.col(c) for c in
                                     (*partition_cols, *sort_within)])
    writer = (w.write.mode(mode).format(fmt)
              .option("maxRecordsPerFile", str(max_records_per_file)))
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.save(path)


def write_jsonl(df: DataFrame, path: str, partition_cols=(),
                mode: str = "overwrite",
                max_records_per_file: int = 2_000_000) -> None:
    """JSON-lines sink — the de-facto LLM training-data interchange
    format (`load_jsonl` is the matching source).  Same partition
    clustering and file-size cap as the columnar sink; prefer parquet/
    ORC for anything re-read by THIS engine (jsonl costs a parse and
    loses types), jsonl for handing a corpus to external tooling."""
    w = df
    if partition_cols:
        w = w.repartition(*[F.col(c) for c in partition_cols])
    writer = (w.write.mode(mode)
              .option("maxRecordsPerFile", str(max_records_per_file)))
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.json(path)


def load_columnar(spark: SparkSession, path: str, fmt: str = "parquet",
                  t: str = "ts", seq: str | None = None) -> Stream:
    """Event source over a columnar table (parquet or ORC — e.g. a
    snapshot written by ``write_partitioned``), consumed in event-time
    order.  Both formats keep predicate pushdown and column pruning at
    the scan; ``seq=None`` synthesizes the replay tie-breaker."""
    if fmt not in ("parquet", "orc"):
        raise ValueError(f"unsupported columnar source format: {fmt}")
    df = spark.read.format(fmt).load(path)
    if seq is None:
        seq = "seq"
        df = _synth_seq(df, seq)
    return Stream(df, t=t, seq=seq)
