"""SparkSession factory tuned for this engine.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32) but every
setting here is chosen to also make sense on a large cluster:

- AQE on (runtime re-planning, skew-join handling, partition coalescing).
- Two shuffle partition counts, because batch and live plans pay for a
  partition differently:

  * batch Exchanges start at ``max(32, 2 * cpus)`` partitions
    (``spark.sql.adaptive.coalescePartitions.initialPartitionNum``, which
    AQE reads ahead of ``spark.sql.shuffle.partitions``) and AQE
    coalesces the small ones at runtime;
  * live (Structured Streaming) queries run with AQE forced off, so
    their stateful operators use ``spark.sql.shuffle.partitions`` as
    is: one state-store partition, hence one task that loads the
    store, feeds a Python worker and commits a delta file, per
    micro-batch.  That count is ``cpus``, one task wave per batch.
    It is frozen into each checkpoint's offset log, so a restarted
    query keeps the count it started with.

  On a real cluster size both to 2-3x total executor cores, or keep a
  high initial number and rely on AQE coalescing for batch.
- Arrow enabled so the pandas-UDF paths (custom reducers, multimodal
  decode) use vectorized Arrow batches instead of per-row pickling.
- UTC session timezone so event-time arithmetic is stable across hosts.
- A 1000-entry codegen cache (``spark.sql.codegen.cache.maxEntries``,
  stock 100).  A warm pass re-runs the same plans, so it should compile
  nothing, but its working set of distinct generated classes is larger
  than 100: 159 per warm pass on the ``cep_replay`` benchmark workload,
  191 on ``corpus_curation`` and 220 in a cold ``corpus_curation``
  pass.  Past 100 the LRU evicts every class before it is reused and
  each pass recompiles all of them.  The cache is keyed on the
  generated source, so its size changes how often identical source is
  compiled, never a plan or a row.  It is a static conf and the cache
  is JVM-global: the first session in a JVM that generates code sizes
  it for the life of that JVM.
- No PySpark call-site capture
  (``spark.python.sql.dataFrameDebugging.enabled=false``).  With it on,
  every ``functions.*`` and ``Column`` call walks the Python stack and
  makes extra py4j round trips only to record its Python file and line
  for a runtime error's ``== DataFrame ==`` section.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "scespet-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    rocksdb_state: bool = False,
) -> SparkSession:
    """``rocksdb_state=True`` switches Structured Streaming state to the
    RocksDB provider — the production setting for the stateful live
    operators (keymap cell tables, sliding-scan windows, dedup digest
    sets): state spills to local disk with changelog checkpointing
    instead of living on the executor heap, so state size is bounded by
    disk, not memory.  Off by default locally (HDFS-backed in-memory
    store is faster at test scale).

    With ``shuffle_partitions=None`` a live query gets ``cpus``
    state-store partitions (``spark.sql.shuffle.partitions``) and a
    batch Exchange starts at ``max(32, 2 * cpus)`` partitions before AQE
    coalescing (``initialPartitionNum``): streaming never runs AQE, and
    every state partition costs one task per micro-batch however few
    keys it holds.  An explicit ``shuffle_partitions`` sets
    ``spark.sql.shuffle.partitions`` alone, for both kinds of plan.

    The codegen cache holds 1000 generated classes, about 5x the largest
    measured per-pass working set (220 classes; 159 and 191 on warm
    benchmark passes), so a long-lived session re-running its plans
    compiles them once.  The conf is static and the cache JVM-global, so
    it is set here with the builder: a session created later in the
    same JVM keeps the size the first one fixed.

    PySpark's call-site capture is off
    (``spark.python.sql.dataFrameDebugging.enabled=false``).  On, it
    costs every ``functions.*`` or ``Column`` call a Python stack walk
    and about five py4j round trips: building 2000
    ``(F.col(c) + F.lit(i)).alias(a)`` expressions took 5.4-6.5 s with
    it and 1.6-1.9 s without (4 cores), and query builds make thousands
    of such calls.  Errors keep their class and message; only the
    ``== DataFrame ==`` section of a runtime error (say
    ``DIVIDE_BY_ZERO`` under ANSI) names a JVM frame instead of the
    Python file and line that built the failing expression.  Pass
    ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled":
    "true"}`` to get the Python call site back.  PySpark reads the
    setting once per Python process, from the first active session."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE post-shuffle coalescing keeps its parallelism-first
        # default: a bytes-first profile (parallelismFirst=false +
        # advisory sizing — guide §2.2's "fewer, larger reduce
        # partitions") was MEASURED this round and regressed the bench
        # 1.2-4x across the board — at these per-partition byte counts
        # the stages are CPU-bound (windows over fan-outs, codegen
        # aggregates), so coalescing every Exchange to ~1 task
        # serializes the actual work.  The env knobs remain so a
        # cluster profile (where partitions should be 100MB-1GB and
        # scheduling overhead dominates) can flip them without a code
        # change; defaults reproduce stock Spark behavior.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                os.environ.get("SPARK_GRAFT_AQE_PARALLELISM_FIRST",
                               "true"))
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
                os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "64m"))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # join-strategy preference stays sort-merge (stock default):
        # preferSortMergeJoin=false (guide §3.1's shuffled-hash
        # preference) rode along in the regressed config above; it is
        # kept as an env knob for cluster profiles rather than a local
        # default until measured alone.
        .config("spark.sql.join.preferSortMergeJoin",
                os.environ.get("SPARK_GRAFT_PREFER_SMJ", "true"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Spark has no TIMESTAMP(NANOS) type; read ns columns as long and
        # normalize in sources.batch.load_table (truncate to micros, same
        # as DuckDB's ns->us behavior, keeping oracle parity).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # timestamp[us] without isAdjustedToUTC should read as LTZ (UTC
        # session) not NTZ, so parquet event-times mix with generated
        # timestamp spines and support unix_micros arithmetic.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # bucketed-table home (operators.joins.write_bucketed); kept out
        # of the repo tree — point at durable storage in production
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE",
                               "/tmp/scespet_spark_warehouse"))
    )
    if rocksdb_state:
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider").config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing"
            ".enabled", "true")
    if shuffle_partitions is None:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(cpus)).config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(max(32, 2 * cpus)))
    else:
        builder = builder.config("spark.sql.shuffle.partitions",
                                 str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
