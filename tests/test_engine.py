"""``engine.get_spark`` partition defaults.  Each case starts its own
session in a child process: inside the suite ``getOrCreate`` would hand
back the shared fixture session, and a second session in one process
inherits the first one's settings from the JVM."""

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = r"""
import contextlib, io, json, shutil, sys, tempfile
from scespet_spark import get_spark
from scespet_spark.streaming.live import LiveStream

kw = json.loads(sys.argv[1])
spark = get_spark(app_name="engine-probe", cpus=3, **kw)
spark.sparkContext.setLogLevel("OFF")
out = {"conf": [spark.conf.get(k, None) for k in (
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum")]}

from pyspark.errors import PySparkException
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F

out["debugging"] = [
    spark.conf.get("spark.python.sql.dataFrameDebugging.enabled"),
    is_debugging_enabled()]
errors = {}
spark.conf.set("spark.sql.ansi.enabled", "true")
for name, col in (("bad_column", F.col("nope") + 1),
                  ("divide_by_zero", F.lit(1) / F.col("id"))):
    try:
        spark.range(1).select(col).collect()
    except PySparkException as e:
        # the condition, and whether the error names the Python
        # operator that built the failing expression (call-site capture)
        errors[name] = [e.getCondition(), "__truediv__" in str(e)]
spark.conf.unset("spark.sql.ansi.enabled")
out["errors"] = errors

if not kw:
    # a working set of 150 distinct generated classes, run twice: the
    # second round must hit the codegen cache for every class.  The
    # codegen explain compiles each plan's class without running a job.
    compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())
    rounds = []
    for _ in range(2):
        before = compiles.getCount()
        with contextlib.redirect_stdout(io.StringIO()):
            for i in range(150):
                spark.range(1).selectExpr(
                    f"id * {i + 2} + {i} AS x").explain("codegen")
        rounds.append(compiles.getCount() - before)
    out["codegen_cache"] = spark.conf.get(
        "spark.sql.codegen.cache.maxEntries")
    out["codegen_compiles"] = rounds

    src = tempfile.mkdtemp()
    events = spark.range(200).selectExpr(
        "id AS event_id", "id % 7 AS user_id", "timestamp_seconds(id) AS ts")
    events.write.mode("overwrite").parquet(src)

    def step(st, pdf):
        st["n"] += len(pdf)
        res = pdf[["event_id"]].copy()
        res["n"] = st["n"]
        return res

    live = (LiveStream(spark.readStream.schema(events.schema).parquet(src))
            .by("user_id")
            .scan_state({"n": 0}, step, "user_id long, event_id long, n long"))
    q = (live.df.writeStream.format("memory").queryName("probe")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    out["state_instances"] = [
        p["stateOperators"][0]["numStateStoreInstances"]
        for p in q.recentProgress if p["numInputRows"] > 0]

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        spark.read.parquet(src).groupBy("user_id").count().explain()
    out["batch_exchanges"] = [l.strip() for l in buf.getvalue().splitlines()
                              if "hashpartitioning" in l]
    shutil.rmtree(src)
spark.stop()
print(json.dumps(out))
"""


def _probe(**kw) -> dict:
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    proc = subprocess.run([sys.executable, "-c", _PROBE, json.dumps(kw)],
                          cwd=ROOT, env=env, capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_live_gets_one_state_partition_per_core_batch_keeps_32():
    """Default session on 3 cores: a live stateful query runs 3
    state-store partitions (streaming has no AQE, and each partition is
    a task per micro-batch), while a batch Exchange still starts at 32
    partitions for AQE to coalesce.  The codegen cache outgrows the
    stock 100 classes: a 150-class working set run twice compiles
    nothing the second time."""
    got = _probe()
    assert got["conf"] == ["3", "32"]
    assert got["debugging"] == ["false", False]
    assert got["codegen_cache"] == "1000"
    first, second = got["codegen_compiles"]
    assert first >= 150, got
    assert second == 0, got
    assert got["state_instances"] == [3]
    assert got["batch_exchanges"], got
    assert all(", 32)" in l for l in got["batch_exchanges"]), got


def test_explicit_shuffle_partitions_sets_only_that():
    assert _probe(shuffle_partitions=5)["conf"] == ["5", None]


def test_call_site_capture_off_keeps_error_classes():
    """``get_spark`` turns PySpark's call-site capture off.  A bad column
    and a runtime division by zero raise the same error classes as with
    it on; only the runtime error stops naming the Python operator
    (``__truediv__``) that built the failing expression."""
    off = _probe(extra_conf={})
    on = _probe(extra_conf={
        "spark.python.sql.dataFrameDebugging.enabled": "true"})
    assert off["debugging"] == ["false", False]
    assert on["debugging"] == ["true", True]
    assert off["errors"] == {
        "bad_column": ["UNRESOLVED_COLUMN.WITH_SUGGESTION", False],
        "divide_by_zero": ["DIVIDE_BY_ZERO", False]}
    assert on["errors"] == {
        "bad_column": ["UNRESOLVED_COLUMN.WITH_SUGGESTION", False],
        "divide_by_zero": ["DIVIDE_BY_ZERO", True]}
