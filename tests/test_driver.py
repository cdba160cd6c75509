"""``operators._driver``: driver-built tables are served as in-JVM
``LocalRelation``s with the list form's values, and a build-time fit
collects once per input, per call site and per ``SparkContext``."""

import ast
import datetime as dt
import json
import os
import subprocess
import sys
import time
from decimal import Decimal
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from scespet_spark.operators._driver import fitted_rows, local_frame
from scespet_spark.sources.batch import load_table

ROOT = Path(__file__).resolve().parent.parent


def _jobs(spark, group, fn):
    """Run ``fn`` under job group ``group``; returns (result, #jobs)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _leaves(df):
    """Class names of the optimized plan's leaves."""
    it = df._jdf.queryExecution().optimizedPlan().collectLeaves().iterator()
    out = []
    while it.hasNext():
        out.append(it.next().getClass().getSimpleName())
    return out


@pytest.mark.parametrize("rows, ddl", [
    ([(1, "a", 1.5, True), (None, None, None, None),
      (-(2 ** 63), "", float("inf"), False)],
     "a long, b string, c double, d boolean"),
    ([], "a long, b string"),
    ([([1.0, None, -0.0],), ([],), (None,)], "v array<double>"),
    ([([1, -(2 ** 63), 2 ** 63 - 1],), (None,)], "w array<bigint>"),
    ([(Decimal("1.25"), dt.date(2020, 2, 29)), (Decimal("-3.10"), None),
      (None, dt.date(1969, 12, 31))], "x decimal(10,2), y date"),
    ([(-1, [0.0, 1.0], 0.0), (0, [1.0, 0.0], 2.5)],
     "idx int, w array<double>, eigval double"),
], ids=["scalars_nulls", "empty", "array_double", "array_bigint",
        "decimal_date", "pca_model"])
def test_local_frame_values_equal_list_form(spark, rows, ddl):
    want = spark.createDataFrame(rows, ddl)
    got = local_frame(spark, rows, ddl)
    assert got.schema == want.schema
    assert repr(got.collect()) == repr(want.collect())


def test_local_frame_naive_timestamp_is_process_local_time(spark):
    rows = [(dt.datetime(2021, 3, 14, 1, 30),),
            (dt.datetime(2021, 7, 1, 12, 0, 0, 123456),),
            (dt.datetime(2021, 1, 1, tzinfo=dt.timezone.utc),), (None,)]
    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        want = spark.createDataFrame(rows, "t timestamp") \
            .select(F.unix_micros("t")).collect()
        got = local_frame(spark, rows, "t timestamp") \
            .select(F.unix_micros("t")).collect()
    finally:
        if old is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old
        time.tzset()
    assert got == want
    # 01:30 EST is 06:30 UTC: the list form's process-local reading
    assert got[0][0] == 1_615_703_400_000_000


def test_driver_built_tables_are_local_relations(spark):
    from scespet_spark.operators.pipeline import gate_funnel
    from scespet_spark.operators.tokenizer import bpe_fit
    docs = local_frame(spark, [(1, "low lower lowest"), (2, "low low")],
                       "doc_id long, text string")
    assert _leaves(docs) == ["LocalRelation"]
    assert _leaves(bpe_fit(docs, n_merges=2)) == ["LocalRelation"]
    funnel = gate_funnel(
        docs.withColumn("dropped_by", F.lit(None).cast("string")), ["a"])
    assert _leaves(funnel) == ["LocalRelation"]


def _fit(df):
    # one call site for every memo test below: the memo keeps one
    # entry per site, replaced on a miss
    return fitted_rows(df)


def _table(spark, d, ids):
    spark.createDataFrame([(i, i % 3) for i in ids], "id long, k long") \
        .write.mode("overwrite").parquet(f"{d}/t.parquet")


def _counts(spark, d):
    return load_table(spark, d, "t").groupBy("k").agg(
        F.count("*").alias("n"))


def test_second_fit_on_unchanged_input_starts_no_job(spark, tmp_path):
    d = str(tmp_path)
    _table(spark, d, range(30))
    first, n1 = _jobs(spark, "driver-fit-1", lambda: _fit(_counts(spark, d)))
    again, n2 = _jobs(spark, "driver-fit-2", lambda: _fit(_counts(spark, d)))
    assert n1 > 0 and n2 == 0
    assert sorted(again) == sorted(first) == [(0, 10), (1, 10), (2, 10)]


def test_rewritten_table_is_fitted_again(spark, tmp_path):
    d = str(tmp_path)
    _table(spark, d, range(30))
    assert sorted(_fit(_counts(spark, d))) == [(0, 10), (1, 10), (2, 10)]
    _table(spark, d, range(7))
    rows, n = _jobs(spark, "driver-refit", lambda: _fit(_counts(spark, d)))
    assert n > 0
    assert sorted(rows) == [(0, 3), (1, 2), (2, 2)]


def test_nondeterministic_or_checkpointed_plans_always_collect(
        spark, tmp_path):
    d = str(tmp_path)
    _table(spark, d, range(30))
    random = load_table(spark, d, "t").select(
        (F.rand(7) < 2).alias("r")).limit(1)
    staged = _counts(spark, d).localCheckpoint()
    for name, df in (("rand", random), ("checkpoint", staged)):
        _fit(df)
        _, n = _jobs(spark, f"driver-bypass-{name}", lambda: _fit(df))
        assert n > 0, name


def test_caller_mutation_leaves_memo_intact(spark, tmp_path):
    d = str(tmp_path)
    _table(spark, d, range(30))
    rows = _fit(_counts(spark, d))
    want = sorted(rows)
    rows.sort(reverse=True)
    rows.clear()
    assert sorted(_fit(_counts(spark, d))) == want


def test_spread_over_grouped_frame_starts_no_job(spark, tmp_path):
    from scespet_spark.operators.dedup import _spread
    d = str(tmp_path)
    _table(spark, d, range(30))
    grouped = _counts(spark, d)
    key = "spark.sql.adaptive.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        out, n = _jobs(spark, "driver-spread", lambda: _spread(grouped))
    finally:
        spark.conf.set(key, old)
    assert n == 0
    assert out.rdd.getNumPartitions() == \
        spark.sparkContext.defaultParallelism
    assert sorted(out.collect()) == [(0, 10), (1, 10), (2, 10)]


_RESTART = r"""
import json, tempfile
from scespet_spark import get_spark
from scespet_spark.operators._driver import fitted_rows
from scespet_spark.sources.batch import load_table

d = tempfile.mkdtemp()


def fit(spark):
    return fitted_rows(load_table(spark, d, "t").groupBy("k").count())


def jobs(spark, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    rows = fit(spark)
    return sorted(rows), len(sc.statusTracker().getJobIdsForGroup(group))


spark = get_spark(app_name="memo-probe", cpus=1)
spark.range(30).selectExpr("id % 3 AS k").write.parquet(f"{d}/t.parquet")
first = jobs(spark, "first")
second = jobs(spark, "second")
spark.stop()
spark = get_spark(app_name="memo-probe", cpus=1)
restarted = jobs(spark, "restarted")
spark.stop()
print(json.dumps({"jobs": [first[1], second[1], restarted[1]],
                  "same_rows": first[0] == second[0] == restarted[0]}))
"""


def test_restarted_session_misses():
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p))
    proc = subprocess.run([sys.executable, "-c", _RESTART], cwd=ROOT,
                          env=env, capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    first, second, restarted = out["jobs"]
    assert first > 0 and second == 0 and restarted > 0
    assert out["same_rows"]


def test_every_create_dataframe_goes_through_local_frame():
    """One way to hand driver rows to Spark: no ``createDataFrame`` call
    in the package or the query entry point outside ``local_frame``."""
    files = sorted((ROOT / "scespet_spark").rglob("*.py"))
    files.append(ROOT / "__spark_entry__.py")
    stray = []
    for path in files:
        tree = ast.parse(path.read_text(), str(path))
        allowed = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and \
                    node.name == "local_frame":
                allowed |= {id(n) for n in ast.walk(node)}
        stray += [f"{path.relative_to(ROOT)}:{node.lineno}"
                  for node in ast.walk(tree)
                  if isinstance(node, ast.Call)
                  and isinstance(node.func, ast.Attribute)
                  and node.func.attr == "createDataFrame"
                  and id(node) not in allowed]
    assert not stray, f"createDataFrame outside local_frame: {stray}"
