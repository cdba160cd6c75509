"""``sources.batch.parquet_schema``: a table's schema is inferred once
per listing, so re-reading an unchanged table starts no Spark job, and a
table rewritten in place is re-inferred."""

import pytest
from pyspark.errors import AnalysisException

from scespet_spark.sources.batch import load_table
from scespet_spark.streaming.live import read_table_stream


def _jobs(spark, group, fn):
    """Run ``fn`` under job group ``group``; returns (result, #jobs)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_second_load_table_starts_no_job_and_matches_plain_read(
        spark, tmp_path):
    d = str(tmp_path)
    path = f"{d}/t.parquet"
    spark.range(50).selectExpr("id", "CAST(id AS string) AS s",
                               "timestamp_seconds(id) AS ts") \
        .write.parquet(path)
    load_table(spark, d, "t")
    df, n = _jobs(spark, "sources-memo-hit", lambda: load_table(spark, d, "t"))
    assert n == 0
    plain = spark.read.parquet(path)
    assert df.schema == plain.schema
    assert _sorted_rows(df) == _sorted_rows(plain)


def test_nanos_events_schema_and_rows_unchanged(spark, tmp_path):
    # a TIMESTAMP(NANOS) events.ts read through the memo still arrives
    # as long epoch-nanos and truncates to the same micros timestamps
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    d = str(tmp_path)
    ns = [1_700_000_000_123_456_789 + 1_001 * i for i in range(30)]
    pq.write_table(pa.table({
        "event_id": pa.array(range(30), pa.int64()),
        "ts": pa.array(ns, pa.timestamp("ns"))}), f"{d}/events.parquet")
    load_table(spark, d, "events")
    df, n = _jobs(spark, "sources-memo-events",
                  lambda: load_table(spark, d, "events"))
    assert n == 0
    plain = spark.read.parquet(f"{d}/events.parquet")
    plain = plain.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    assert df.schema == plain.schema
    assert _sorted_rows(df) == _sorted_rows(plain)


def test_overwritten_table_is_reinferred(spark, tmp_path):
    d = str(tmp_path)
    path = f"{d}/t.parquet"
    spark.range(20).selectExpr("id").write.parquet(path)
    assert load_table(spark, d, "t").columns == ["id"]
    spark.range(20).selectExpr("id", "id * 2 AS extra") \
        .write.mode("overwrite").parquet(path)
    df = load_table(spark, d, "t")
    assert df.columns == ["id", "extra"]
    assert _sorted_rows(df) == [(i, 2 * i) for i in range(20)]


def test_read_table_stream_on_memoized_path_starts_no_job(spark, tmp_path):
    d = str(tmp_path)
    spark.range(10).selectExpr("id", "timestamp_seconds(id) AS ts") \
        .write.parquet(f"{d}/t.parquet")
    batch = load_table(spark, d, "t")
    df, n = _jobs(spark, "sources-memo-stream",
                  lambda: read_table_stream(spark, d, "t"))
    assert n == 0
    assert df.isStreaming
    assert df.schema == batch.schema


def test_missing_table_raises_spark_path_not_found(spark, tmp_path):
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        load_table(spark, str(tmp_path), "absent")
