"""Live-mode (Structured Streaming) equivalence: the same semantics the
batch engine verifies against DuckDB must hold when executed as a
streaming plan over the same data (AvailableNow + memory sink)."""

import pytest
from pyspark.sql import functions as F

from scespet_spark.sources.batch import load_table
from scespet_spark.streaming.live import (
    dedupe, read_events_stream, run_available_now, stateful_scan, tumbling,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def batch_events(spark):
    return load_table(spark, SF, "events")


def _sorted_rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_streaming_tumbling_equals_batch(spark, batch_events):
    live = tumbling(read_events_stream(spark, SF), "1 day",
                    keys=["event_type"],
                    total=F.sum("value"), n=F.count("*"))
    got = run_available_now(live, "complete")
    want = (batch_events
            .groupBy("event_type", F.date_trunc("day", "ts").alias("win_start"))
            .agg(F.sum("value").alias("total"), F.count("*").alias("n")))
    cols = ["event_type", "win_start", "n"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_streaming_dedupe_equals_batch_distinct(spark, batch_events):
    live = dedupe(read_events_stream(spark, SF), ["user_id", "event_type"])
    got = run_available_now(live, "append")
    # dedupe keys include ts (watermark requirement), so the live result
    # is distinct (user, type, ts); project to the value set
    n_got = got.select("user_id", "event_type").distinct().count()
    n_want = batch_events.select("user_id", "event_type").distinct().count()
    assert n_got == n_want


def test_stateful_scan_running_total(spark, batch_events):
    def step(st, pdf):
        rows = []
        for v in pdf["value"]:
            st["total"] += float(v)
            rows.append({"total": st["total"]})
        return rows

    live = stateful_scan(read_events_stream(spark, SF), ["user_id"],
                         {"total": 0.0}, step,
                         "user_id long, total double")
    got = run_available_now(live, "append")
    # final per-user total must equal the batch sum
    final = got.groupBy("user_id").agg(F.max("total").alias("total"))
    want = batch_events.groupBy("user_id").agg(F.sum("value").alias("total"))
    g = {r.user_id: round(r.total, 6) for r in final.collect()}
    w = {r.user_id: round(r.total, 6) for r in want.collect()}
    assert g == w


def test_streaming_count_buckets_equals_batch(spark, batch_events):
    # live group(Count(5)).reduce — only *closed* buckets emit in live
    # mode (no termination event), so compare against batch full buckets
    from scespet_spark import Count, Stream
    from scespet_spark.streaming.live import count_reduce

    live = count_reduce(read_events_stream(spark, SF), ["user_id"], 5, "value")
    got = _sorted_rows(run_available_now(live, "append"),
                       ["user_id", "bucket", "n"])

    s = Stream(batch_events, t="ts", seq="event_id").by("user_id", name="user_id")
    full = (s.group(Count(5)).reduce(n=F.count("*"))
            .df.filter("n = 5"))
    w = full.groupBy("user_id").count().collect()
    want_counts = {r.user_id: r["count"] for r in w}
    got_counts = {}
    for uid, bucket, n in got:
        assert n == 5
        got_counts[uid] = got_counts.get(uid, 0) + 1
    assert got_counts == want_counts


def test_streaming_zip_latest_equals_batch(spark, batch_events):
    from scespet_spark import Stream
    from scespet_spark.streaming.live import zip_latest

    src = read_events_stream(spark, SF)
    lt = src.filter(F.col("event_type") == "click")
    rt = src.filter(F.col("event_type") == "purchase")
    live = zip_latest(lt.withColumn("cv", F.col("value")),
                      rt.withColumn("pv", F.col("value")),
                      ["user_id"], "cv", "pv")
    got = _sorted_rows(run_available_now(live, "append"),
                       ["user_id", "event_id", "cv", "pv"])

    ev = Stream(batch_events, t="ts", seq="event_id")
    clicks = (ev.filter(F.col("event_type") == "click")
              .by("user_id", name="user_id").map(cv=F.col("value")))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .by("user_id", name="user_id").map(pv=F.col("value")))
    want = _sorted_rows(
        clicks.zip_join(purchases, ["cv"], ["pv"]).df,
        ["user_id", "event_id", "cv", "pv"])
    assert got == want


def test_livestream_fluent_pipeline_equals_batch(spark, batch_events):
    # the SAME expression shape on the batch Stream and the LiveStream
    # must produce identical aggregates (the reference's one-API-two-
    # modes contract, EventSource.java:3-6)
    from scespet_spark import Every, Stream
    from scespet_spark.streaming.live import LiveStream

    live = (LiveStream.from_events(spark, SF)
            .filter(F.col("event_type") == "purchase")
            .map(v2=F.col("value") * 2)
            .by("user_id")
            .group(Every("1 day"))
            .reduce(total=F.sum("v2"), n=F.count("*"))
            .run("complete"))
    got = _sorted_rows(live, ["user_id", "win_start", "n"])

    batch = (Stream(batch_events, t="ts", seq="event_id")
             .filter(F.col("event_type") == "purchase")
             .map(v2=F.col("value") * 2)
             .by("user_id", name="user_id")
             .group(Every("1 day"))
             .reduce(total=F.sum("v2"), n=F.count("*")))
    want_df = batch.df.withColumn(
        "win_start", F.date_trunc("day", F.col("ts")))
    want = _sorted_rows(
        want_df.groupBy("user_id", "win_start").agg(
            F.sum("n").alias("n")), ["user_id", "win_start", "n"])
    assert got == want


def test_livestream_count_reduce(spark):
    from scespet_spark.streaming.live import LiveStream
    live = (LiveStream.from_events(spark, SF)
            .by("user_id").count_reduce(4, "value").run("append"))
    assert live.count() > 0
    assert set(live.columns) == {"user_id", "bucket", "total", "n"}
    assert live.filter("n <> 4").count() == 0


def _closed_trigger_buckets_batch(spark, batch_events, spec):
    """Batch per-bucket aggregates restricted to *closed* buckets.

    The open bucket's id per key equals that key's boundary count for
    both alignments (BEFORE: inclusive running sum ends at B; AFTER:
    exclusive sum gives post-last-boundary events id B), so closed
    buckets are exactly ``bucket < B``.
    """
    from scespet_spark import Stream
    from scespet_spark.core.stream import GroupedStream

    s = Stream(batch_events, t="ts", seq="event_id").by("user_id",
                                                        name="user_id")
    b = GroupedStream(s, spec)._with_bucket().df
    per_bucket = b.groupBy("user_id", "__bucket").agg(
        F.sum("value").alias("total"), F.count("*").alias("n"))
    nb = (batch_events.filter(F.col("event_type") == "signup")
          .groupBy("user_id").agg(F.count("*").alias("__nb")))
    return (per_bucket.join(nb, "user_id")
            .filter(F.col("__bucket") < F.col("__nb"))
            .select("user_id", F.col("__bucket").alias("bucket"),
                    "total", "n"))


def _rounded(df):
    return sorted((r.user_id, r.bucket, round(r.total, 6), r.n)
                  for r in df.collect())


@pytest.mark.parametrize("align", ["AFTER", "BEFORE"])
def test_streaming_trigger_buckets_equals_batch(spark, batch_events, align):
    # live group(Trigger(cond)).reduce — data-driven slicing as per-key
    # stateful streaming; bucket ids and membership must match the batch
    # engine for both alignments (SliceAlign, util/package.scala:27-42)
    from scespet_spark.core.stream import Trigger
    from scespet_spark.streaming.live import trigger_reduce

    live = trigger_reduce(read_events_stream(spark, SF), ["user_id"],
                          F.col("event_type") == "signup", "value", align)
    got = _rounded(run_available_now(live, "append"))
    want = _rounded(_closed_trigger_buckets_batch(
        spark, batch_events, Trigger(F.col("event_type") == "signup", align)))
    assert got == want and len(got) > 0


@pytest.mark.parametrize("align", ["AFTER", "BEFORE"])
def test_streaming_trigger_stream_slicing_equals_batch(spark, batch_events,
                                                       align):
    # live slicing of one stream by ANOTHER stream's events (per-key
    # vector trigger, VectSliceTriggerSpec) — clicks sliced by signups
    from scespet_spark import Stream
    from scespet_spark.core.stream import GroupedStream, TriggerStream
    from scespet_spark.streaming.live import trigger_stream_reduce

    src = read_events_stream(spark, SF)
    live = trigger_stream_reduce(
        src.filter(F.col("event_type") == "click"),
        src.filter(F.col("event_type") == "signup"),
        ["user_id"], "value", align)
    got = _rounded(run_available_now(live, "append"))

    ev = Stream(batch_events, t="ts", seq="event_id")
    clicks = (ev.filter(F.col("event_type") == "click")
              .by("user_id", name="user_id"))
    signups = (ev.filter(F.col("event_type") == "signup")
               .by("user_id", name="user_id"))
    b = GroupedStream(clicks,
                      TriggerStream(signups, align))._with_bucket().df
    per_bucket = b.groupBy("user_id", "__bucket").agg(
        F.sum("value").alias("total"), F.count("*").alias("n"))
    nb = (batch_events.filter(F.col("event_type") == "signup")
          .groupBy("user_id").agg(F.count("*").alias("__nb")))
    want = _rounded(
        per_bucket.join(nb, "user_id")
        .filter(F.col("__bucket") < F.col("__nb"))
        .select("user_id", F.col("__bucket").alias("bucket"), "total", "n"))
    assert got == want and len(got) > 0


def test_streaming_session_windows_equals_batch(spark, batch_events):
    # live group(Session(gap)).reduce — native session_window state vs
    # the batch lag/running-sum session ids: identical session
    # membership and aggregates (complete mode emits open sessions too,
    # matching the batch termination flush)
    from scespet_spark import Session, Stream
    from scespet_spark.streaming.live import LiveStream

    live = (LiveStream.from_events(spark, SF)
            .by("user_id")
            .group(Session("2 hours"))
            .reduce(total=F.sum("value"), n=F.count("*"))
            .run("complete"))
    got = sorted((r.user_id, round(r.total, 6), r.n) for r in live.collect())

    batch = (Stream(batch_events, t="ts", seq="event_id")
             .by("user_id", name="user_id")
             .group(Session("2 hours"))
             .reduce(total=F.sum("value"), n=F.count("*")))
    want = sorted((r.user_id, round(r.total, 6), r.n)
                  for r in batch.df.collect())
    assert got == want and len(got) > 0


def test_streaming_sliding_windows_equals_batch(spark, batch_events):
    from scespet_spark import Sliding, Stream
    from scespet_spark.streaming.live import LiveStream

    live = (LiveStream.from_events(spark, SF)
            .by("user_id")
            .group(Sliding("2 days", "1 day"))
            .reduce(n=F.count("*"))
            .run("complete"))
    got = sorted((r.user_id, r.win_start, r.n) for r in live.collect())

    batch = (Stream(batch_events, t="ts", seq="event_id")
             .by("user_id", name="user_id")
             .group(Sliding("2 days", "1 day"))
             .reduce(n=F.count("*")))
    want = sorted((r.user_id, r.win_start, r.n) for r in batch.df.collect())
    assert got == want and len(got) > 0


def test_streaming_asof_equals_batch(spark, batch_events):
    # live take (as-of join) == batch take on the same click/purchase split
    from scespet_spark.core.stream import Stream
    from scespet_spark.streaming.live import asof_latest
    src = read_events_stream(spark, SF)
    live = asof_latest(
        src.filter(F.col("event_type") == "click").withColumn("cv", F.col("value")),
        src.filter(F.col("event_type") == "purchase").withColumn("pv", F.col("value")),
        ["user_id"], ["cv"], ["pv"])
    got = run_available_now(live, "append")
    ev = Stream(batch_events, t="ts", seq="event_id")
    clicks = (ev.filter(F.col("event_type") == "click")
                .by("user_id", name="user_id").map(cv=F.col("value")))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                   .by("user_id", name="user_id").map(pv=F.col("value")))
    want = clicks.take(purchases, ["cv"], ["pv"]).df
    cols = ["user_id", "event_id", "cv", "pv"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_streaming_sample_snapshots_latest(spark):
    # sample: trigger rows snapshot the left's last value; null before first
    from scespet_spark.streaming.live import LiveStream
    import pandas as pd
    data = [(0, 0, 1, 10.0, 0), (2, 2, 1, 20.0, 0),
            (1, 1, 1, None, 1), (3, 3, 1, None, 1)]
    pdf = pd.DataFrame(data, columns=["ts", "event_id", "k", "v", "is_trig"])
    df = spark.createDataFrame(pdf)
    df = df.withColumn("ts", F.timestamp_micros((F.col("ts") * 1000000).cast("long")))
    import tempfile, os
    d = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(d)
    sdf = spark.readStream.schema(df.schema).parquet(d)
    left = LiveStream(sdf.filter(F.col("is_trig") == 0), keys=("k",))
    trig = LiveStream(sdf.filter(F.col("is_trig") == 1), keys=("k",))
    got = run_available_now(left.sample(trig, ["v"]).df, "append")
    rows = {r.event_id: r.v for r in got.collect()}
    assert rows == {1: 10.0, 3: 20.0}


def test_streaming_gated_window_equals_batch(spark, batch_events):
    from scespet_spark.core.stream import Stream
    from scespet_spark.streaming.live import LiveStream
    live = (LiveStream.from_events(spark, SF).by("user_id")
            .window(F.col("value") >= 100, "value", quantize=100))
    got = run_available_now(live.df, "append")
    s = Stream(batch_events, t="ts", seq="event_id").by("user_id", name="user_id")
    want = s.window(F.col("value") >= 100).reduce(
        n=F.count("*"), win_seq=F.min("event_id")).df
    cols = ["user_id", "win_seq", "n"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_session_exact_gap_boundary_batch_equals_live(spark):
    # exact-gap tie rule, verified against the NATIVE engine: an event
    # exactly `gap` after the previous one MERGES into the session (new
    # session only when strictly greater) — F.session_window and the
    # batch Session spec must agree on this boundary
    from scespet_spark.core.stream import Session, Stream
    import tempfile
    rows = [(0, 0, 1, 1.0), (10, 1, 1, 2.0),    # == gap: merges
            (15, 2, 1, 4.0), (26, 3, 1, 8.0)]   # 11s > gap: new session
    df = spark.createDataFrame(rows, "sec long, event_id long, user_id long, value double") \
        .withColumn("ts", F.timestamp_micros((F.col("sec") * 1000000).cast("long"))).drop("sec")
    batch = (Stream(df, t="ts", seq="event_id").by("user_id", name="user_id")
             .group(Session("10 seconds"))
             .reduce(n=F.count("*"), total=F.sum("value")))
    got_batch = sorted((r.n, r.total) for r in batch.df.collect())
    assert got_batch == [(1, 8.0), (3, 7.0)]

    d = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(d)
    sdf = spark.readStream.schema(df.schema).parquet(d)
    from scespet_spark.streaming.live import LiveStream
    live = (LiveStream(sdf).by("user_id")
            .group(Session("10 seconds"))
            .reduce(n=F.count("*"), total=F.sum("value")))
    got_live = sorted((r.n, r.total) for r in live.run("complete").collect())
    assert got_live == got_batch


def test_stateful_ops_across_micro_batches(spark, batch_events):
    # split events into 3 time-ordered files; maxFilesPerTrigger=1 gives
    # 3 micro-batches, so per-key state must carry across batch
    # boundaries (the single-file tests only ever exercise one batch)
    import os
    import tempfile
    from scespet_spark.core.stream import Stream
    from scespet_spark.streaming.live import asof_latest, stateful_scan

    d = tempfile.mkdtemp()
    ev = batch_events.orderBy("ts", "event_id")
    cuts = ev.approxQuantile("event_id", [0.33, 0.66], 0.0)
    lo, hi = int(cuts[0]), int(cuts[1])
    for i, cond in enumerate([F.col("event_id") <= lo,
                              (F.col("event_id") > lo) & (F.col("event_id") <= hi),
                              F.col("event_id") > hi]):
        ev.filter(cond).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, f"f{i}"))
    # stage as one dir of files named in time order
    stage = tempfile.mkdtemp()
    n = 0
    for i in range(3):
        src_dir = os.path.join(d, f"f{i}")
        part = next(p for p in os.listdir(src_dir) if p.endswith(".parquet"))
        os.symlink(os.path.join(src_dir, part),
                   os.path.join(stage, f"batch-{i}.parquet"))
        n += 1
    sdf = (spark.readStream.schema(batch_events.schema)
           .option("maxFilesPerTrigger", 1).parquet(stage))

    # running per-user count via stateful scan, 3 batches deep
    def step(st, pdf):
        rows = []
        for _ in range(len(pdf)):
            st["n"] += 1
        rows.append({"n": st["n"]})
        return rows

    live = stateful_scan(sdf, ["user_id"], {"n": 0.0}, step,
                         "user_id long, n double")
    got = run_available_now(live, "append")
    final = {r.user_id: r.n for r in
             got.groupBy("user_id").agg(F.max("n").alias("n")).collect()}
    want = {r.user_id: float(r.n) for r in
            batch_events.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    assert final == want

    # as-of join state must also survive batch boundaries
    live2 = asof_latest(
        sdf.filter(F.col("event_type") == "click").withColumn("cv", F.col("value")),
        sdf.filter(F.col("event_type") == "purchase").withColumn("pv", F.col("value")),
        ["user_id"], ["cv"], ["pv"])
    got2 = run_available_now(live2, "append")
    evs = Stream(batch_events, t="ts", seq="event_id")
    clicks = (evs.filter(F.col("event_type") == "click")
              .by("user_id", name="user_id").map(cv=F.col("value")))
    purchases = (evs.filter(F.col("event_type") == "purchase")
                 .by("user_id", name="user_id").map(pv=F.col("value")))
    want2 = clicks.take(purchases, ["cv"], ["pv"]).df
    cols = ["user_id", "event_id", "cv", "pv"]
    assert _sorted_rows(got2, cols) == _sorted_rows(want2, cols)


def test_streaming_typed_asof_equals_batch(spark, batch_events):
    # typed payloads: the left carries a STRING (props) and a LONG —
    # live state must keep both types end-to-end, matching batch take
    from scespet_spark.core.stream import Stream
    from scespet_spark.streaming.live import asof_latest
    src = read_events_stream(spark, SF)
    live = asof_latest(
        src.filter(F.col("event_type") == "click")
           .withColumn("sv", F.col("props"))
           .withColumn("lv", F.col("event_id") * 2),
        src.filter(F.col("event_type") == "purchase")
           .withColumn("pv", F.col("value")),
        ["user_id"], ["sv", "lv"], ["pv"])
    got = run_available_now(live, "append")
    assert dict(got.dtypes)["sv"] == "string"
    assert dict(got.dtypes)["lv"] == "bigint"
    ev = Stream(batch_events, t="ts", seq="event_id")
    clicks = (ev.filter(F.col("event_type") == "click")
                .by("user_id", name="user_id")
                .map(sv=F.col("props"), lv=F.col("event_id") * 2))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                   .by("user_id", name="user_id").map(pv=F.col("value")))
    want = clicks.take(purchases, ["sv", "lv"], ["pv"]).df
    cols = ["user_id", "event_id", "sv", "lv", "pv"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_streaming_typed_zip_equals_batch(spark, batch_events):
    # typed zip: string left payload, double right — value-identical to
    # the batch zip join on the same split
    from scespet_spark.core.stream import Stream
    from scespet_spark.streaming.live import zip_latest
    src = read_events_stream(spark, SF)
    live = zip_latest(
        src.filter(F.col("event_type") == "click")
           .withColumn("sv", F.col("props")),
        src.filter(F.col("event_type") == "purchase")
           .withColumn("pv", F.col("value")),
        ["user_id"], "sv", "pv")
    got = run_available_now(live, "append")
    assert dict(got.dtypes)["sv"] == "string"
    ev = Stream(batch_events, t="ts", seq="event_id")
    clicks = (ev.filter(F.col("event_type") == "click")
                .by("user_id", name="user_id").map(sv=F.col("props")))
    purchases = (ev.filter(F.col("event_type") == "purchase")
                   .by("user_id", name="user_id").map(pv=F.col("value")))
    want = clicks.zip_join(purchases, ["sv"], ["pv"]).df
    cols = ["user_id", "event_id", "sv", "pv"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_live_map_keys_equals_batch(spark, batch_events):
    from scespet_spark.core.stream import Stream
    from scespet_spark.streaming.live import LiveStream
    live = (LiveStream.from_events(spark, SF).by("user_id")
            .map_keys(F.when(F.col("user_id") < 10, F.col("user_id") % 3),
                      name="key"))
    got = run_available_now(
        live.df.groupBy("key").agg(F.count("*").alias("n")), "complete")
    s = (Stream(batch_events, t="ts", seq="event_id")
         .by("user_id", name="user_id")
         .map_keys(F.when(F.col("user_id") < 10, F.col("user_id") % 3),
                   name="key"))
    want = s.df.groupBy("key").agg(F.count("*").alias("n"))
    cols = ["key", "n"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)
    # the null mapping dropped users >= 10
    assert {r.key for r in got.collect()} == {0, 1, 2}


def test_live_key_to_stream_binds_static_factory(spark, batch_events):
    # each discovered key emits its factory rows; unbound keys keep a
    # null row — mirrors batch key_to_stream (VectTerm.scala:435-440)
    from scespet_spark.streaming.live import LiveStream
    factory = spark.createDataFrame(
        [(u, f"cfg{u}") for u in range(5)], "user_id long, cfg string")
    live = (LiveStream.from_events(spark, SF).by("user_id")
            .key_to_stream(factory))
    got = run_available_now(live.df, "append").select("user_id", "cfg")
    rows = {r.user_id: r.cfg for r in got.collect()}
    n_users = batch_events.select("user_id").distinct().count()
    assert len(rows) == n_users           # one row per discovered key
    for u in range(5):
        assert rows[u] == f"cfg{u}"       # bound cells carry factory data
    assert all(v is None for u, v in rows.items() if u >= 5)  # unbound


def test_streaming_map_vector_equals_batch(spark, batch_events):
    # live cross-key running aggregate == the batch map_vector form
    from scespet_spark import Stream
    from scespet_spark.streaming.live import LiveStream, run_available_now

    live = (LiveStream.from_events(spark, SF)
            .by("user_id")
            .map_vector(n_events=("count",), vmax=("max", "value"),
                        vsum=("sum", "value"), vmin=("min", "value")))
    out = run_available_now(live.df, "append")
    got = sorted((r.event_id, r.n_events, round(r.vmax, 9),
                  round(r.vsum, 6), round(r.vmin, 9))
                 for r in out.collect())

    batch = (Stream(batch_events, t="ts", seq="event_id")
             .by("user_id", name="user_id")
             .map_vector(n_events=F.count("*"), vmax=F.max("value"),
                         vsum=F.sum("value"), vmin=F.min("value")))
    want = sorted((r.event_id, r.n_events, round(r.vmax, 9),
                   round(r.vsum, 6), round(r.vmin, 9))
                  for r in batch.df.collect())
    assert got == want and len(got) > 0


def test_parquet_sink_checkpoint_exactly_once(spark, batch_events, tmp_path):
    # the durable output path: AvailableNow parquet write; re-running
    # against the same checkpoint must be a no-op (offset log replays
    # nothing), so restarts never duplicate rows downstream
    from scespet_spark.streaming.live import LiveStream

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    live = (LiveStream.from_events(spark, SF)
            .filter(F.col("event_type") == "purchase"))
    live.to_parquet(out, ckpt)
    n_want = batch_events.filter(F.col("event_type") == "purchase").count()
    assert spark.read.parquet(out).count() == n_want

    live2 = (LiveStream.from_events(spark, SF)
             .filter(F.col("event_type") == "purchase"))
    live2.to_parquet(out, ckpt)  # same checkpoint: exactly-once
    assert spark.read.parquet(out).count() == n_want


def test_streaming_map_vector_null_values(spark, tmp_path):
    # null values must not poison persisted state: a null contributes
    # nothing to sum, max/min carry through — matching batch F.sum/F.max
    # windows, which ignore nulls (the state survives across micro-batch
    # boundaries, so the all-important case is a null at a batch edge)
    from scespet_spark.streaming.live import LiveStream, run_available_now

    bdf = (spark.createDataFrame(
        [(i, i, v) for i, v in enumerate([None, 2.0, None, 8.0, None, 1.0])],
        "t long, event_id long, value double")
        .withColumn("ts", F.timestamp_seconds(F.col("t"))).drop("t"))
    src_dir = str(tmp_path / "src")
    bdf.coalesce(1).write.parquet(src_dir)
    sdf = (spark.readStream.schema(bdf.schema)
           .option("maxFilesPerTrigger", 1).parquet(src_dir))
    live = LiveStream(sdf).map_vector(
        n=("count",), vsum=("sum", "value"), vmax=("max", "value"))
    out = {r.event_id: (r.n, r.vsum, r.vmax)
           for r in run_available_now(live.df, "append").collect()}
    # row 0: sum is NULL (not 0.0) before the first non-null value —
    # exactly what batch F.sum running windows emit
    assert out == {0: (1, None, None), 1: (2, 2.0, 2.0), 2: (3, 2.0, 2.0),
                   3: (4, 10.0, 8.0), 4: (5, 10.0, 8.0), 5: (6, 11.0, 8.0)}


def test_watermark_drops_too_late_events(spark, tmp_path):
    # the late-data policy, demonstrated end-to-end: an event arriving
    # after the watermark passed its window is DROPPED (its finalized
    # window does not change), while late-but-within-watermark data
    # lands in its correct window.  Files process in arrival order
    # (maxFilesPerTrigger=1), so file 1 advances the watermark before
    # file 2's stragglers arrive.
    # Empirically pinned semantic (Spark 4.1): the late filter uses the
    # PRIOR batch's eviction boundary — a straggler is dropped once its
    # window was already finalized in an earlier batch; a straggler
    # arriving in the same batch its window finalizes still counts.
    import time as _time
    from scespet_spark.streaming.live import tumbling

    def mk(rows):
        return (spark.createDataFrame(rows, "t long, value double")
                .select(F.timestamp_seconds(F.col("t")).alias("ts"), "value"))

    day = 86400
    src = str(tmp_path / "src")
    # batch 0: two day-1 events + a day-3 event (watermark -> day3-1h)
    mk([(0, 1.0), (3600, 1.0), (2 * day + 43200, 1.0)]) \
        .coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.1)  # file-source ordering is by modification time
    # batch 1: a day-5 sentinel — end of this batch evicts+emits the
    # day-1 and day-3 windows
    mk([(4 * day, 1.0)]).coalesce(1).write.mode("append").parquet(src)
    _time.sleep(1.1)
    # batch 2: a day-1 straggler — its window is long gone: DROPPED
    mk([(7200, 100.0)]).coalesce(1).write.mode("append").parquet(src)

    sdf = (spark.readStream.schema(mk([(0, 0.0)]).schema)
           .option("maxFilesPerTrigger", 1).parquet(src))
    out = tumbling(sdf, "1 day", watermark="1 hour",
                   n=F.count("*"), total=F.sum("value"))
    q = (out.writeStream.format("memory").queryName("late_demo")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    dropped = sum(p["stateOperators"][0]["numRowsDroppedByWatermark"]
                  for p in q.recentProgress)
    got = {r.win_start.day: (r.n, r.total)
           for r in spark.table("late_demo").collect()}
    # the straggler (value 100.0) is nowhere; the metric confirms the
    # drop happened at the stateful operator, not by accident
    assert got[1] == (2, 2.0)
    assert got[3] == (1, 1.0)
    assert dropped == 1


def test_live_string_keyed_stateful_op(spark):
    # live state ops type key columns from the input schema — a stream
    # keyed on a STRING column must work (batch supports any key type)
    from scespet_spark.streaming.live import count_reduce, run_available_now
    live = count_reduce(read_events_stream(spark, SF), ["event_type"],
                        10, "value")
    out = run_available_now(live, "append")
    assert out.count() > 0
    assert out.schema["event_type"].dataType.simpleString() == "string"


def test_live_count_buckets_null_values(spark, tmp_path):
    # a null value contributes nothing to the bucket total (matching
    # batch F.sum) but still counts toward the bucket size
    from scespet_spark.streaming.live import count_reduce, run_available_now
    rows = [(i, i, 1, v) for i, v in
            enumerate([1.0, None, 3.0, 4.0, 5.0, None, 7.0, 8.0])]
    bdf = (spark.createDataFrame(
        rows, "t long, event_id long, user_id long, value double")
        .withColumn("ts", F.timestamp_seconds(F.col("t"))).drop("t"))
    src = str(tmp_path / "src")
    bdf.coalesce(1).write.parquet(src)
    sdf = spark.readStream.schema(bdf.schema).parquet(src)
    out = run_available_now(count_reduce(sdf, ["user_id"], 4, "value"),
                            "append")
    got = {r.bucket: (r.total, r.n) for r in out.collect()}
    assert got == {0: (8.0, 4), 1: (20.0, 4)}


def test_stateful_scan_step_may_emit_nothing(spark):
    # a conditional-emission step returning [] for a batch must be a
    # clean no-op, not a zero-column-frame Arrow crash
    from scespet_spark.streaming.live import stateful_scan
    def step(st, pdf):
        st["n"] += len(pdf)
        return []  # never emits
    live = stateful_scan(read_events_stream(spark, SF), ["user_id"],
                         {"n": 0.0}, step, "user_id long, n long")
    assert run_available_now(live, "append").count() == 0


def test_streaming_exact_dedup_across_micro_batches(spark, tmp_path):
    """Streaming exact dedup must suppress duplicates ACROSS
    micro-batches (state outlives the batch): two parquet drops with
    overlapping content, maxFilesPerTrigger=1 -> two batches, the
    second batch's repeats must not re-emit."""
    from scespet_spark.operators.hashing import h64
    from scespet_spark.streaming.live import run_available_now
    d = tmp_path / "drops"
    d.mkdir()
    spark.createDataFrame([(1, "alpha"), (2, "beta")],
                          "doc_id long, text string") \
        .coalesce(1).write.parquet(str(d / "f1"))
    spark.createDataFrame([(3, "beta"), (4, "gamma"), (5, "alpha")],
                          "doc_id long, text string") \
        .coalesce(1).write.parquet(str(d / "f2"))
    # flatten the two drops into one source dir
    import shutil
    files = sorted(p for sub in ("f1", "f2")
                   for p in (d / sub).glob("*.parquet"))
    src = tmp_path / "src"
    src.mkdir()
    for i, p in enumerate(files):
        shutil.copy(p, src / f"drop_{i}.parquet")
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    out = run_available_now(
        stream.select(h64(F.col("text")).alias("content_hash"))
              .dropDuplicates(["content_hash"]),
        "append")
    batch_digests = {r.content_hash for r in
                     spark.read.parquet(str(src))
                     .select(h64(F.col("text")).alias("content_hash"))
                     .collect()}
    got = [r.content_hash for r in out.collect()]
    assert len(got) == len(set(got)) == 3  # no cross-batch re-emission
    assert set(got) == batch_digests


def test_typed_live_joins_preserve_big_longs(spark, tmp_path):
    """bigint payloads above 2^53 must survive the live zip/asof state
    machinery exactly: the union's padding makes value columns nullable,
    and a nullable int64 reaches pandas as float64 — the transport layer
    must not let that round the payload."""
    from scespet_spark.streaming.live import asof_latest, zip_latest, run_available_now
    big = (1 << 53) + 1      # not representable as float64
    big2 = (1 << 60) + 7
    rows_l = [(1, 1, 10, big)]
    rows_r = [(1, 2, 11, big2)]
    schema_l = "user_id long, t long, event_id long, lv bigint"
    schema_r = "user_id long, t long, event_id long, rv bigint"

    def as_stream(rows, schema, sub):
        bdf = (spark.createDataFrame(rows, schema)
               .withColumn("ts", F.timestamp_seconds(F.col("t"))).drop("t"))
        d = tmp_path / sub
        bdf.coalesce(1).write.parquet(str(d))
        return (spark.readStream.schema(bdf.schema)
                .option("maxFilesPerTrigger", 1).parquet(str(d)))

    l = as_stream(rows_l, schema_l, "l")
    r = as_stream(rows_r, schema_r, "r")
    z = run_available_now(
        zip_latest(l, r, ["user_id"], "lv", "rv"), "append").collect()
    assert {(row.lv, row.rv) for row in z} == {(big, None), (big, big2)}
    a = run_available_now(
        asof_latest(l, r, ["user_id"], ["lv"], ["rv"]), "append").collect()
    assert [(row.lv, row.rv) for row in a] == [(big, big2)]


def test_live_asof_null_left_value_is_a_real_update(spark, tmp_path):
    """A left event with a NULL payload must make the live as-of state
    null (batch marker-struct semantics) — not keep the prior value."""
    from scespet_spark.streaming.live import asof_latest, run_available_now
    rows_l = [(1, 1, 10, 5.0), (1, 3, 12, None)]
    rows_r = [(1, 2, 11, 1.0), (1, 4, 13, 2.0)]
    sl = "user_id long, t long, event_id long, lv double"
    sr = "user_id long, t long, event_id long, rv double"

    def as_stream(rows, schema, sub):
        bdf = (spark.createDataFrame(rows, schema)
               .withColumn("ts", F.timestamp_seconds(F.col("t"))).drop("t"))
        d = tmp_path / sub
        bdf.coalesce(1).write.parquet(str(d))
        return (spark.readStream.schema(bdf.schema)
                .option("maxFilesPerTrigger", 1).parquet(str(d)))

    out = run_available_now(
        asof_latest(as_stream(rows_l, sl, "l"), as_stream(rows_r, sr, "r"),
                    ["user_id"], ["lv"], ["rv"]), "append")
    got = {r.event_id: r.lv for r in out.collect()}
    assert got == {11: 5.0, 13: None}  # the null at seq 12 IS an update


@pytest.fixture(scope="module")
def staged_events_3(spark, batch_events, tmp_path_factory):
    """events split into 3 time-ordered files; with maxFilesPerTrigger=1
    every stateful op sees 3 micro-batches and must carry state across
    the boundaries."""
    import os
    d = tmp_path_factory.mktemp("split3")
    stage = tmp_path_factory.mktemp("stage3")
    ev = batch_events
    cuts = ev.approxQuantile("event_id", [0.33, 0.66], 0.0)
    lo, hi = int(cuts[0]), int(cuts[1])
    for i, cond in enumerate([F.col("event_id") <= lo,
                              (F.col("event_id") > lo) & (F.col("event_id") <= hi),
                              F.col("event_id") > hi]):
        ev.filter(cond).coalesce(1).write.mode("overwrite").parquet(
            str(d / f"f{i}"))
        part = next(p for p in os.listdir(d / f"f{i}")
                    if p.endswith(".parquet"))
        os.symlink(str(d / f"f{i}" / part), str(stage / f"batch-{i}.parquet"))

    def make():
        return (spark.readStream.schema(ev.schema)
                .option("maxFilesPerTrigger", 1).parquet(str(stage)))
    return make


def _live3(make_src, **kw):
    from scespet_spark.streaming.live import LiveStream
    return LiveStream(make_src(), **kw)


def test_live_keymap_joins_equal_batch_across_batches(spark, batch_events,
                                                      staged_events_3):
    """take/zip with key_map: the per-bucket cell table and latest-right
    state must survive micro-batch boundaries; emissions must equal the
    batch _keymap_take_join / _keymap_zip_join forms exactly."""
    from scespet_spark.core.stream import Stream

    def split_live():
        s = _live3(staged_events_3)
        p = (s.filter(F.col("event_type") == "purchase")
             .map(xv=F.col("value")).by("user_id"))
        c = (s.filter(F.col("event_type") == "click")
             .map(bucket=F.col("user_id") % 5, yv=F.col("value"))
             .by("bucket"))
        return p, c

    ev = Stream(batch_events, t="ts", seq="event_id")
    bp = (ev.filter(F.col("event_type") == "purchase")
          .by("user_id", name="user_id").map(xv=F.col("value")))
    bc_df = (batch_events.filter(F.col("event_type") == "click")
             .select((F.col("user_id") % 5).alias("bucket"),
                     "ts", "event_id", F.col("value").alias("yv")))
    bc = Stream(bc_df, t="ts", seq="event_id", keys=("bucket",))
    cols = ["user_id", "event_id", "xv", "yv"]

    p, c = split_live()
    got_take = run_available_now(
        p.take(c, ["xv"], ["yv"], key_map=F.col("user_id") % 5).df, "append")
    want_take = bp.take(bc, ["xv"], ["yv"], key_map=F.col("user_id") % 5).df
    assert _sorted_rows(got_take, cols) == _sorted_rows(want_take, cols)

    p, c = split_live()
    got_zip = run_available_now(
        p.zip_join(c, "xv", "yv", key_map=F.col("user_id") % 5).df, "append")
    want_zip = bp.zip_join(bc, ["xv"], ["yv"],
                           key_map=F.col("user_id") % 5).df
    assert _sorted_rows(got_zip, cols) == _sorted_rows(want_zip, cols)


def test_live_window_from_equals_batch_across_batches(spark, batch_events,
                                                      staged_events_3):
    """gate state (current gate + open-window partial) must survive
    micro-batch boundaries; emissions equal batch window_from.reduce."""
    from scespet_spark.core.stream import Stream

    s = _live3(staged_events_3)
    data = s.filter(F.col("event_type") == "purchase").by("user_id")
    gate = (s.filter(F.col("event_type") == "click")
            .map(g=F.col("value") >= 100).by("user_id"))
    got = run_available_now(
        data.window_from(gate, "g", "value", quantize=100).df, "append")

    ev = Stream(batch_events, t="ts", seq="event_id")
    bd = ev.filter(F.col("event_type") == "purchase").by("user_id",
                                                         name="user_id")
    bg = (ev.filter(F.col("event_type") == "click")
          .by("user_id", name="user_id").map(g=F.col("value") >= 100))
    want = bd.window_from(bg, "g").reduce(
        total=F.sum(F.col("value").cast("decimal(18,2)")).cast("double"),
        n=F.count("*"), win_seq=F.min("event_id")).df
    cols = ["user_id", "win_seq", "total", "n"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_live_sliding_scan_equals_batch_across_batches(spark, batch_events,
                                                       staged_events_3):
    """per-(key, window) running state must survive micro-batch
    boundaries; emissions equal batch group(Sliding).scan."""
    from scespet_spark import Sliding
    from scespet_spark.core.stream import Stream

    s = _live3(staged_events_3).by("user_id")
    got = run_available_now(
        s.group(Sliding("2 days", "1 day")).scan("value", quantize=100).df,
        "append")

    ev = Stream(batch_events, t="ts", seq="event_id").by("user_id",
                                                         name="user_id")
    want = (ev.group(Sliding("2 days", "1 day"))
            .scan(running_total=F.sum(F.col("value").cast("decimal(18,2)")),
                  running_n=F.count("*")).df
            .withColumn("running_total",
                        F.col("running_total").cast("double")))
    cols = ["user_id", "event_id", "win_start", "running_total", "running_n"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_live_keymap_edge_semantics(spark, tmp_path):
    """Pinned reference edges: a right event before any live cell emits
    nothing but IS visible to a later-created cell (bind-time
    calculate(), VectorJoin.scala:50-70); dict multi-map raises
    (VectorJoin.scala:38-40); non-JSON-safe payloads are rejected."""
    import os
    from scespet_spark.streaming.live import LiveStream, keymap_latest

    rows = [
        # (ts-second, event_id, side: l/r, key-or-bucket, value)
        (1, 1, "r", 0, 500.0),   # right fires bucket 0 pre-cell: no emit
        (2, 2, "l", 10, 1.0),    # cell 10 (bucket 0) created
        (3, 3, "r", 0, 600.0),   # fires cell 10
    ]
    import pandas as pd
    left = pd.DataFrame([
        {"ts": pd.Timestamp(2024, 1, 1, 0, 0, s), "event_id": e,
         "user_id": k, "xv": v}
        for s, e, side, k, v in rows if side == "l"])
    right = pd.DataFrame([
        {"ts": pd.Timestamp(2024, 1, 1, 0, 0, s), "event_id": e,
         "bucket": k, "yv": v}
        for s, e, side, k, v in rows if side == "r"])
    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    spark.createDataFrame(left).coalesce(1).write.parquet(ldir)
    spark.createDataFrame(right).coalesce(1).write.parquet(rdir)

    def stream(d):
        schema = spark.read.parquet(d).schema
        return spark.readStream.schema(schema).parquet(d)

    # zip: pre-cell right value visible at the cell's first left fire
    out = keymap_latest(stream(ldir), stream(rdir), "user_id", "bucket",
                        F.col("user_id") % 10, ["xv"], ["yv"], emit="both")
    got = sorted(tuple(r) for r in run_available_now(out, "append")
                 .select("user_id", "event_id", "xv", "yv").collect())
    assert got == [(10, 2, 1.0, 500.0),   # left fire sees pre-cell right
                   (10, 3, 1.0, 600.0)]   # right fire; e1 emitted nothing

    # take: only right fires emit, pre-cell right emits nothing
    out = keymap_latest(stream(ldir), stream(rdir), "user_id", "bucket",
                        F.col("user_id") % 10, ["xv"], ["yv"], emit="right")
    got = sorted(tuple(r) for r in run_available_now(out, "append")
                 .select("user_id", "event_id", "xv", "yv").collect())
    assert got == [(10, 3, 1.0, 600.0)]

    # dict multi-map guard — wording pinned: key_map maps LEFT -> RIGHT,
    # so the message must read "binds left key(s) ... to multiple right
    # keys" (same direction as the batch form), not the inverse
    with pytest.raises(ValueError,
                       match=r"binds left key\(s\) \[10\] to multiple "
                             r"right keys \[0, 1\]"):
        keymap_latest(stream(ldir), stream(rdir), "user_id", "bucket",
                      {10: 0}.items() and [(10, 0), (10, 1)],
                      ["xv"], ["yv"], emit="right")

    # non-JSON-safe payload type rejected loudly
    with pytest.raises(TypeError, match="JSON|state carries"):
        keymap_latest(stream(ldir).withColumn("bad", F.col("ts")),
                      stream(rdir), "user_id", "bucket",
                      F.col("user_id") % 10, ["bad"], ["yv"], emit="right")


def test_live_sliding_scan_watermark_ttl_same_results(spark, batch_events,
                                                      staged_events_3):
    """Bounded-state mode: with a watermark, closed-window state is
    purged on event-time timeout — on an in-order multi-batch stream the
    emissions must be IDENTICAL to the exact NoTimeout mode (purging
    only ever removes state that can no longer receive rows)."""
    exact = _live3(staged_events_3).by("user_id")
    got_exact = run_available_now(
        exact.group(__import__("scespet_spark").Sliding("2 days", "1 day"))
        .scan("value", quantize=100).df, "append")

    ttl = _live3(staged_events_3).by("user_id")
    got_ttl = run_available_now(
        ttl.sliding_scan("2 days", "1 day", "value", quantize=100,
                         watermark="1 day").df, "append")
    cols = ["user_id", "event_id", "win_start", "running_total", "running_n"]
    assert _sorted_rows(got_ttl, cols) == _sorted_rows(got_exact, cols)


def test_live_keymap_unmapped_left_and_null_right_key(spark, tmp_path):
    """Dict-form edges: an UNMAPPED left cell zips to a forever-null
    right side (emitting on its own fires) and never receives right
    events; a right row with a NULL key joins nothing (batch equi-join
    semantics) rather than firing the unmapped cells."""
    import pandas as pd
    from scespet_spark.streaming.live import keymap_latest

    left = pd.DataFrame([
        {"ts": pd.Timestamp(2024, 1, 1, 0, 0, 1), "event_id": 1,
         "user_id": 10, "xv": 1.0},    # mapped -> bucket 0
        {"ts": pd.Timestamp(2024, 1, 1, 0, 0, 2), "event_id": 2,
         "user_id": 99, "xv": 9.0}])   # NOT in the dict -> unmapped
    right = pd.DataFrame([
        {"ts": pd.Timestamp(2024, 1, 1, 0, 0, 3), "event_id": 3,
         "bucket": 0.0, "yv": 100.0},
        {"ts": pd.Timestamp(2024, 1, 1, 0, 0, 4), "event_id": 4,
         "bucket": None, "yv": 666.0}])  # null key: joins nothing
    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    spark.createDataFrame(left).coalesce(1).write.parquet(ldir)
    spark.createDataFrame(right).coalesce(1).write.parquet(rdir)

    def stream(d):
        return spark.readStream.schema(
            spark.read.parquet(d).schema).parquet(d)

    out = keymap_latest(stream(ldir), stream(rdir), "user_id", "bucket",
                        {10: 0.0}, ["xv"], ["yv"], emit="both")
    got = sorted(tuple(r) for r in run_available_now(out, "append")
                 .select("user_id", "event_id", "xv", "yv").collect())
    assert got == [
        (10, 1, 1.0, None),     # mapped cell's own fire, no y yet
        (10, 3, 1.0, 100.0),    # bucket-0 right fires the mapped cell
        (99, 2, 9.0, None),     # unmapped cell: own fire, null y forever
    ]  # and the null-key right row (event 4) fired NOTHING


def test_live_collapse_bucket_state_survives_batches(spark, batch_events,
                                                     staged_events_3):
    """The cloudpickled bucket OBJECT must carry across micro-batch
    boundaries: live_collapse('last') over 3 batches equals the batch
    collapse restricted to closed (non-final per key) buckets; 'all'
    mode equals the batch CUMULATIVE emission everywhere."""
    import pandas as pd
    from scespet_spark import Every, Stream
    from scespet_spark.operators.buckets import CycleBucket, collapse
    from scespet_spark.streaming.live import live_collapse

    class Stats(CycleBucket):
        def open(self):
            self.n = 0
            self.total = 0.0

        def add_cycle(self, cycle):
            self.n += len(cycle)
            for v in cycle["value"]:
                self.total += float(v)

        def value(self):
            return {"n": self.n, "total": self.total}

    got = run_available_now(
        live_collapse(staged_events_3(), ["user_id"], Stats, "1 day",
                      "n long, total double"), "append")

    s = Stream(batch_events, t="ts", seq="event_id").by("user_id",
                                                        name="user_id")
    want_all = collapse(s.group(Every("1 day")), Stats,
                        "user_id long, ts timestamp, event_id long, "
                        "n long, total double")
    # closed = drop each key's final (max-day) bucket
    last_day = (want_all
                .withColumn("day", F.date_trunc("day", "ts"))
                .groupBy("user_id").agg(F.max("day").alias("last_day")))
    want = (want_all.withColumn("day", F.date_trunc("day", "ts"))
            .join(last_day, "user_id")
            .filter(F.col("day") < F.col("last_day"))
            .drop("day", "last_day"))
    cols = ["user_id", "event_id", "n", "total"]
    got_r = [(u, e, n, round(t_, 6)) for u, e, n, t_ in _sorted_rows(got, cols)]
    want_r = [(u, e, n, round(t_, 6)) for u, e, n, t_ in _sorted_rows(want, cols)]
    assert got_r == want_r

    # CUMULATIVE: every CLOSED cycle emits the running value; the
    # final pending cycle per key never emits (r11: the open cycle is
    # buffered until a later cycle proves it complete — the rendezvous
    # fix; live_bind contract)
    got_all = run_available_now(
        live_collapse(staged_events_3(), ["user_id"], Stats, "1 day",
                      "n long, total double", emit="all"), "append")
    want_cum = collapse(s.group(Every("1 day")), Stats,
                        "user_id long, ts timestamp, event_id long, "
                        "n long, total double", emit="all")
    last_cycle = (want_cum.groupBy("user_id")
                  .agg(F.max("ts").alias("__maxts")))
    want_cum = (want_cum.join(last_cycle, "user_id")
                .filter(F.col("ts") < F.col("__maxts"))
                .drop("__maxts"))
    got_r = [(u, e, n, round(t_, 6)) for u, e, n, t_
             in _sorted_rows(got_all, cols)]
    want_r = [(u, e, n, round(t_, 6)) for u, e, n, t_
              in _sorted_rows(want_cum, cols)]
    assert got_r == want_r


def test_rocksdb_state_store_runs_stateful_op(spark):
    """The production state-store setting must actually execute: run a
    stateful live op with the RocksDB provider (a runtime SQL conf,
    read at streaming-query start) and check results are unchanged."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming.state."
                        "RocksDBStateStoreProvider")
    try:
        from scespet_spark.streaming.live import LiveStream
        out = (LiveStream.from_events(spark, SF).by("user_id")
               .count_reduce(5, "value").run("append"))
        assert out.count() > 0
        assert out.filter("n <> 5").count() == 0
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_new_live_verbs_reject_bad_usage(spark):
    """Error paths: mismatched keys on window_from, bad emit mode on
    keymap/live_collapse, non-Sliding live scan spec."""
    from scespet_spark import Count
    from scespet_spark.streaming.live import LiveStream, keymap_latest

    s = LiveStream.from_events(spark, SF)
    a = s.by("user_id")
    b = s.map(bucket=F.col("user_id") % 2).by("bucket")
    with pytest.raises(ValueError, match="identical keys"):
        a.window_from(b, "g", "value")
    with pytest.raises(ValueError, match="single-key|identical"):
        LiveStream(a.df, keys=("user_id", "event_type")).take(
            b, ["value"], [], key_map=F.col("user_id") % 2)
    with pytest.raises(ValueError, match="emit"):
        keymap_latest(a.df, b.df, "user_id", "bucket",
                      F.col("user_id") % 2, ["value"], [], emit="bogus")
    from scespet_spark.core.stream import Termination
    with pytest.raises(TypeError, match="scan_state"):
        a.group(Termination()).scan("value")
    with pytest.raises(ValueError, match="emit"):
        from scespet_spark.streaming.live import live_collapse
        live_collapse(a.df, ["user_id"], object, "1 day", "n long",
                      emit="bogus")


def test_keymap_idle_ttl_parity_and_purge(spark, batch_events,
                                          staged_events_3):
    """idle_ttl on the keymap join: with a horizon longer than the
    stream, results are identical to the unbounded form; with a tiny
    horizon, state rows are actually purged mid-run."""
    from scespet_spark.streaming.live import keymap_latest

    def build(src, ttl):
        lt = (src.filter(F.col("event_type") == "purchase")
              .withColumn("xv", F.col("value")))
        rt = (src.filter(F.col("event_type") == "click")
              .withColumn("bucket", F.col("user_id") % 5)
              .withColumn("yv", F.col("value")))
        return keymap_latest(lt, rt, "user_id", "bucket",
                             F.col("user_id") % 5, ["xv"], ["yv"],
                             emit="right", idle_ttl=ttl)

    cols = ["user_id", "event_id", "xv", "yv"]
    got = run_available_now(build(staged_events_3(), "365 days"), "append")
    want = run_available_now(build(staged_events_3(), None), "append")
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)

    # tiny horizon: confirm the state store actually removes rows
    q = (build(staged_events_3(), "1 hour")
         .writeStream.format("memory").queryName("ttl_probe")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    removed = sum(p["stateOperators"][0]["numRowsRemoved"]
                  for p in q.recentProgress if p["stateOperators"])
    assert removed > 0


def test_live_ann_serving_across_micro_batches(spark, tmp_path):
    """Queries arriving in separate micro-batches each get their exact
    per-query top-k; results equal the batch index-serving form."""
    import os
    from scespet_spark.operators.similarity import (ann_topk_stream,
                                                    ivf_assign,
                                                    ivf_topk_from_index,
                                                    label_centroids)
    emb = load_table(spark, SF, "embeddings")
    cents = label_centroids(emb).persist()
    codes = ivf_assign(emb, cents).persist()

    qb = (emb.filter(F.col("vec_id") < 4)
          .select(F.col("vec_id").alias("q_id"),
                  F.col("embedding").alias("q_vec")))
    stage = tmp_path / "qstream"
    stage.mkdir()
    for i, cond in enumerate([F.col("q_id") < 2, F.col("q_id") >= 2]):
        d = tmp_path / f"qf{i}"
        qb.filter(cond).coalesce(1).write.parquet(str(d))
        part = next(p for p in os.listdir(d) if p.endswith(".parquet"))
        os.symlink(str(d / part), str(stage / f"b{i}.parquet"))
    qs = (spark.readStream.schema(qb.schema)
          .option("maxFilesPerTrigger", 1).parquet(str(stage)))

    got = run_available_now(
        ann_topk_stream(qs, emb, cents, codes, k=5, nprobe=2), "append")
    got_rows = _sorted_rows(got, ["q_id", "rnk", "vec_id", "score"])

    want_rows = []
    for r in qb.collect():
        top = ivf_topk_from_index(emb, codes, cents, r.q_vec,
                                  k=5, nprobe=2).collect()
        want_rows += [(r.q_id, i + 1, x.vec_id, x.score)
                      for i, x in enumerate(top)]
    assert got_rows == sorted(want_rows)
    cents.unpersist(); codes.unpersist()


def test_sliced_scan_carry_across_batches(spark, batch_events,
                                          staged_events_3):
    """Count/Trigger/Session cumulative scans must carry the open
    bucket's partial (and, for Trigger AFTER, the post-boundary open
    bucket id — a batch ending on a boundary row must NOT merge the
    next batch into the closed bucket) across micro-batch boundaries:
    live equals batch scan for all three specs."""
    from scespet_spark import AFTER, Count, Session, Stream, Trigger

    b = Stream(batch_events, t="ts", seq="event_id").by("user_id",
                                                        name="user_id")
    cols = ["user_id", "event_id", "total", "n"]
    for spec in (Count(7), Trigger(F.col("event_type") == "signup", AFTER),
                 Session("12 hours")):
        live = (_live3(staged_events_3).by("user_id")
                .group(spec).scan("value", quantize=100))
        got = _sorted_rows(run_available_now(live.df, "append"), cols)
        want_df = (b.group(spec)
                   .scan(total=F.sum(F.col("value").cast("decimal(18,2)")),
                         n=F.count("*")).df
                   .withColumn("total", F.col("total").cast("double")))
        want = _sorted_rows(want_df, cols)
        assert got == want, type(spec).__name__


def test_stream_sliced_and_gated_scans_across_batches(spark, batch_events,
                                                      staged_events_3):
    """trigger_stream_scan and window_from_scan carry their open-bucket
    partials and gate/boundary state across micro-batches: live equals
    batch for both shapes."""
    from scespet_spark import Stream, TriggerStream

    cols = ["user_id", "event_id", "total", "n"]
    ev = Stream(batch_events, t="ts", seq="event_id")

    # trigger-stream scan
    s = _live3(staged_events_3)
    lc = s.filter(F.col("event_type") == "click").by("user_id")
    lp = s.filter(F.col("event_type") == "purchase").by("user_id")
    got = run_available_now(
        lc.trigger_stream_scan(lp, "value", "AFTER", quantize=100).df,
        "append")
    bc = ev.filter(F.col("event_type") == "click").by("user_id",
                                                      name="user_id")
    bp = ev.filter(F.col("event_type") == "purchase").by("user_id",
                                                         name="user_id")
    want = (bc.group(TriggerStream(bp, "AFTER"))
            .scan(total=F.sum(F.col("value").cast("decimal(18,2)")),
                  n=F.count("*")).df
            .withColumn("total", F.col("total").cast("double")))
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)

    # window_from scan
    s2 = _live3(staged_events_3)
    data = s2.filter(F.col("event_type") == "purchase").by("user_id")
    gate = (s2.filter(F.col("event_type") == "click")
            .map(g=F.col("value") >= 100).by("user_id"))
    got2 = run_available_now(
        data.window_from_scan(gate, "g", "value", quantize=100).df,
        "append")
    bg = (ev.filter(F.col("event_type") == "click")
          .by("user_id", name="user_id").map(g=F.col("value") >= 100))
    bd = ev.filter(F.col("event_type") == "purchase").by("user_id",
                                                         name="user_id")
    want2 = (bd.window_from(bg, "g")
             .scan(total=F.sum(F.col("value").cast("decimal(18,2)")),
                   n=F.count("*")).df
             .withColumn("total", F.col("total").cast("double")))
    assert _sorted_rows(got2, cols) == _sorted_rows(want2, cols)


def test_streaming_first_wins_across_micro_batches(spark, tmp_path):
    """first_wins: arrival drop beats the batch tie-break ACROSS
    micro-batches (doc 9 loses 'beta' to drop-1's doc 2 despite the
    smaller id), while WITHIN one drop the min-(order_cols) row wins
    (doc 4 beats doc 6 for 'gamma'); a winner's key never re-emits."""
    from scespet_spark.streaming.live import first_wins, run_available_now
    import shutil
    d = tmp_path / "drops"
    d.mkdir()
    spark.createDataFrame([(5, "alpha"), (2, "beta")],
                          "doc_id long, k string") \
        .coalesce(1).write.parquet(str(d / "f1"))
    spark.createDataFrame([(9, "beta"), (6, "gamma"), (4, "gamma")],
                          "doc_id long, k string") \
        .coalesce(1).write.parquet(str(d / "f2"))
    src = tmp_path / "src"
    src.mkdir()
    files = sorted(p for sub in ("f1", "f2")
                   for p in (d / sub).glob("*.parquet"))
    import os
    import time
    now = time.time()
    for i, p in enumerate(files):
        dst = src / f"drop_{i}.parquet"
        shutil.copy(p, dst)
        # the file source orders drops by modification time: pin
        # distinct mtimes so drop_0 is unambiguously the earlier batch
        os.utime(dst, (now - 100 + i * 10, now - 100 + i * 10))
    stream = (spark.readStream.schema("doc_id long, k string")
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    out = run_available_now(
        first_wins(stream, keys=["k"], order_cols=["doc_id"],
                   payload_cols=["doc_id"]), "append")
    got = {r.k: r.doc_id for r in out.collect()}
    assert got == {"alpha": 5, "beta": 2, "gamma": 4}
    assert out.count() == 3  # one row per key, ever

    # payload overlapping the key is a usage error
    import pytest as _pytest
    with _pytest.raises(ValueError, match="duplicate key"):
        first_wins(stream, keys=["k"], order_cols=["doc_id"],
                   payload_cols=["k", "doc_id"])


def test_live_lm_scoring_across_micro_batches_equals_batch(spark, tmp_path):
    """Snapshot-LM scoring on a 2-drop crawl stream: the final
    complete-mode table must equal scoring the union in batch (stream-
    static joins re-run per batch; state-free, so late drops only ADD
    rows)."""
    import os
    import shutil
    import time
    from scespet_spark.operators.text import bigram_lm_apply, bigram_lm_model
    from scespet_spark.streaming.live import run_available_now
    fit = spark.createDataFrame(
        [(100, "the cat sat on the mat"), (101, "the dog sat on the rug")],
        "doc_id long, text string")
    model = bigram_lm_model(fit)
    crawl = [(1, "the cat sat quietly"), (2, "zz qq unknown tokens"),
             (3, "the dog sat on the mat")]
    d = tmp_path / "drops"; d.mkdir()
    src = tmp_path / "src"; src.mkdir()
    now = time.time()
    for i, row in enumerate(crawl):
        spark.createDataFrame([row], "doc_id long, text string") \
            .coalesce(1).write.parquet(str(d / f"f{i}"))
        f = next((d / f"f{i}").glob("*.parquet"))
        dst = src / f"drop_{i}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (now - 100 + i, now - 100 + i))
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    live = run_available_now(bigram_lm_apply(stream, model), "complete")
    batch = bigram_lm_apply(
        spark.createDataFrame(crawl, "doc_id long, text string"), model)
    assert sorted(map(tuple, live.collect())) == \
        sorted(map(tuple, batch.collect()))


def test_epoch_ms_localizes_session_zone():
    """State-expiry epoch math must treat worker-side wall-clock values
    as session-zone local, not UTC: west of UTC the naive-cast epoch is
    hours early and state purges inside the watermark horizon."""
    import pandas as pd
    from scespet_spark.streaming.live import _epoch_ms

    wall = pd.Timestamp("2024-06-01 00:00:00")        # LA wall clock
    assert _epoch_ms(wall, "America/Los_Angeles") == \
        int(pd.Timestamp("2024-06-01 07:00:00", tz="UTC").value // 1e6)
    assert _epoch_ms(wall, "UTC") == \
        int(pd.Timestamp("2024-06-01 00:00:00", tz="UTC").value // 1e6)
    # DST fall-back: 2024-11-03 01:30 LA occurs twice; ambiguous=True
    # resolves to the DST (earlier, UTC-7) instant instead of raising
    # AmbiguousTimeError and killing the streaming query
    fold = pd.Timestamp("2024-11-03 01:30:00")
    assert _epoch_ms(fold, "America/Los_Angeles") == \
        int(pd.Timestamp("2024-11-03 08:30:00", tz="UTC").value // 1e6)
    # spring-forward gap: 2024-03-10 02:30 LA does not exist;
    # shift_forward lands on 03:00 PDT (UTC-7) instead of raising
    gap = pd.Timestamp("2024-03-10 02:30:00")
    assert _epoch_ms(gap, "America/Los_Angeles") == \
        int(pd.Timestamp("2024-03-10 10:00:00", tz="UTC").value // 1e6)


def test_live_sliding_scan_ttl_parity_west_of_utc(spark, staged_events_3):
    """The watermark/TTL purge must be zone-correct: under a session
    timezone west of UTC, bounded-state sliding_scan emissions must
    still equal the exact NoTimeout mode (pre-fix, expiry was computed
    hours early and running state could purge mid-window)."""
    from scespet_spark import Sliding

    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        exact = _live3(staged_events_3).by("user_id")
        got_exact = run_available_now(
            exact.group(Sliding("2 days", "1 day"))
            .scan("value", quantize=100).df, "append")
        ttl = _live3(staged_events_3).by("user_id")
        got_ttl = run_available_now(
            ttl.sliding_scan("2 days", "1 day", "value", quantize=100,
                             watermark="1 day").df, "append")
        cols = ["user_id", "event_id", "win_start",
                "running_total", "running_n"]
        assert _sorted_rows(got_ttl, cols) == _sorted_rows(got_exact, cols)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_first_wins_idle_ttl_self_watermarks(spark, tmp_path):
    """first_wins(idle_ttl=...) must apply its own watermark: the
    EventTimeTimeout plan fails at start on an unwatermarked input, and
    the docstring advertises idle_ttl without that caveat."""
    import pandas as pd
    from scespet_spark.streaming.live import first_wins

    rows = pd.DataFrame([
        {"ts": pd.Timestamp(2024, 1, 1, 0, 0, s), "doc_id": i,
         "k": i % 2, "v": float(i)}
        for s, i in [(1, 3), (2, 1), (3, 2), (4, 0)]])
    d = str(tmp_path / "p")
    spark.createDataFrame(rows).coalesce(1).write.parquet(d)
    stream = (spark.readStream.schema(spark.read.parquet(d).schema)
              .parquet(d))
    out = run_available_now(
        first_wins(stream, keys=["k"], order_cols=["doc_id"],
                   payload_cols=["doc_id", "v"], idle_ttl="1 hour"),
        "append")
    got = sorted(tuple(r) for r in out.select("k", "doc_id").collect())
    assert got == [(0, 0), (1, 1)]  # batch-tie-break min(doc_id) per key


def _bind_hourly(src):
    from scespet_spark.streaming.live import live_bind

    class _XY:
        """Test bucket: counts cycles where each / both sides fired.
        Defined in-closure: cloudpickle serializes local classes by
        VALUE — a module-level test class would pickle by reference
        and fail to import on the executors."""

        def open(self):
            self.c = self.p = self.b = 0

        def add_cycle(self, cycle):
            hc = bool((cycle["side"] == "click").any())
            hp = bool((cycle["side"] == "purchase").any())
            self.c += int(hc)
            self.p += int(hp)
            self.b += int(hc and hp)

        def value(self):
            return {"nc": self.c, "np": self.p, "nb": self.b}

        def complete(self):
            pass
    clicks = (src.filter(F.col("event_type") == "click")
              .withColumn("cyc", F.date_trunc("hour", "ts")))
    purchases = (src.filter(F.col("event_type") == "purchase")
                 .withColumn("cyc", F.date_trunc("hour", "ts")))
    return live_bind(
        {"click": (clicks, ["cyc", "value"]),
         "purchase": (purchases, ["cyc", "value"])},
        ["user_id"], _XY, "1 day", "nc long, np long, nb long",
        cycle_col="cyc")


def test_live_bind_parity_across_micro_batches(spark, batch_events,
                                               staged_events_3):
    """live_bind: N-way rendezvous state (pending cycle + bucket) must
    survive micro-batch boundaries — 3 staged drops emit exactly what a
    single-batch replay emits."""
    from scespet_spark.streaming.live import run_available_now

    got3 = run_available_now(_bind_hourly(staged_events_3()), "append")
    # single-drop source: the same events as ONE file stream batch
    import tempfile
    d = tempfile.mkdtemp()
    batch_events.coalesce(1).write.mode("overwrite").parquet(d + "/one")
    src1 = (spark.readStream
            .schema(batch_events.schema).parquet(d + "/one"))
    got1 = run_available_now(_bind_hourly(src1), "append")
    cols = ["user_id", "ts", "event_id", "nc", "np", "nb"]
    assert _sorted_rows(got3, cols) == _sorted_rows(got1, cols)
    assert got3.count() > 0


def test_live_bind_cycle_split_across_batches_fires_once(spark, tmp_path):
    """The rendezvous contract: one (user, hour) cycle whose click
    lands in drop 1 and purchase in drop 2 must fire add_cycle ONCE,
    with both sides visible (n_both counts it) — the single-stream
    live_collapse would have folded it twice."""
    import os
    import pandas as pd
    from scespet_spark.streaming.live import run_available_now

    rows = [
        # (ts, event_id, type): hour 10 cycle split across drops;
        # hour 12 and day+1 rows close the cycle and the bucket
        [(pd.Timestamp(2024, 1, 1, 10, 0, 5), 1, "click", 1.0)],
        [(pd.Timestamp(2024, 1, 1, 10, 0, 9), 2, "purchase", 2.0),
         (pd.Timestamp(2024, 1, 1, 12, 0, 0), 3, "click", 3.0)],
        [(pd.Timestamp(2024, 1, 2, 1, 0, 0), 4, "purchase", 4.0),
         (pd.Timestamp(2024, 1, 3, 1, 0, 0), 5, "click", 5.0)],
    ]
    src = tmp_path / "drops"
    src.mkdir()
    now = __import__("time").time()
    for i, drop in enumerate(rows):
        pdf = pd.DataFrame(drop, columns=["ts", "event_id",
                                          "event_type", "value"])
        pdf["user_id"] = 7
        d = tmp_path / f"f{i}"
        spark.createDataFrame(pdf).coalesce(1).write.parquet(str(d))
        part = next(p for p in os.listdir(d) if p.endswith(".parquet"))
        dst = src / f"drop-{i}.parquet"
        import shutil
        shutil.copy(str(d / part), str(dst))
        os.utime(dst, (now - 100 + i, now - 100 + i))
    stream = (spark.readStream
              .schema("ts timestamp, event_id long, event_type string, "
                      "value double, user_id long")
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    out = run_available_now(_bind_hourly(stream), "append")
    got = sorted(tuple(r) for r in
                 out.select("user_id", "event_id", "nc", "np", "nb")
                 .collect())
    # day 1 bucket: cycle h10 (click+purchase, split) + cycle h12
    # (click only) -> nc=2, np=1, nb=1, emitted at its last fired
    # event (event 3); day 2's single cycle closes via day 3's row
    assert got == [(7, 3, 2, 1, 1), (7, 4, 0, 1, 0)]


def test_live_bind_slice_not_multiple_of_cycle_fires_once(spark, tmp_path):
    """The slice id must derive from the CYCLE value, not per-row t:
    with hourly cycles and every='90 minutes', the 01:00 cycle's rows
    at 01:15 and 01:45 straddle the 01:30 slice boundary — a per-row-t
    bid would split the (bid, cyc) group and fire add_cycle twice
    (nb=0); cycle-derived bids keep it one rendezvous (nb=1)."""
    import pandas as pd
    from scespet_spark.streaming.live import live_bind, run_available_now

    class _XY:
        def open(self):
            self.c = self.p = self.b = 0

        def add_cycle(self, cycle):
            hc = bool((cycle["side"] == "click").any())
            hp = bool((cycle["side"] == "purchase").any())
            self.c += int(hc)
            self.p += int(hp)
            self.b += int(hc and hp)

        def value(self):
            return {"nc": self.c, "np": self.p, "nb": self.b}

        def complete(self):
            pass

    rows = [(pd.Timestamp(2024, 1, 1, 1, 15), 1, "click", 1.0),
            (pd.Timestamp(2024, 1, 1, 1, 45), 2, "purchase", 2.0),
            (pd.Timestamp(2024, 1, 1, 3, 10), 3, "click", 3.0),
            (pd.Timestamp(2024, 1, 2, 9, 0), 4, "purchase", 4.0)]
    pdf = pd.DataFrame(rows, columns=["ts", "event_id",
                                      "event_type", "value"])
    pdf["user_id"] = 7
    d = tmp_path / "one"
    spark.createDataFrame(pdf).coalesce(1).write.parquet(str(d))
    stream = (spark.readStream
              .schema("ts timestamp, event_id long, event_type string, "
                      "value double, user_id long").parquet(str(d)))
    clicks = (stream.filter(F.col("event_type") == "click")
              .withColumn("cyc", F.date_trunc("hour", "ts")))
    purchases = (stream.filter(F.col("event_type") == "purchase")
                 .withColumn("cyc", F.date_trunc("hour", "ts")))
    out = run_available_now(live_bind(
        {"click": (clicks, ["cyc", "value"]),
         "purchase": (purchases, ["cyc", "value"])},
        ["user_id"], _XY, "90 minutes", "nc long, np long, nb long",
        cycle_col="cyc"), "append")
    got = sorted(tuple(r) for r in
                 out.select("user_id", "event_id", "nc", "np", "nb")
                 .collect())
    # slice 1: cycle 01:00 rendezvous fires ONCE with both sides
    # (nb=1); slice 2: cycle 03:00 click-only, closed by day 2's row
    assert got == [(7, 2, 1, 1, 1), (7, 3, 1, 0, 0)]


def test_live_bind_rejects_non_timestamp_cycle_col(spark, tmp_path):
    """cycle_col must be an event-time truncation (timestamp): the
    slice id derives from it, so a non-timestamp cycle is a contract
    error, not a silent mis-slicing."""
    import pandas as pd
    import pytest
    from scespet_spark.streaming.live import live_bind

    pdf = pd.DataFrame({"ts": [pd.Timestamp(2024, 1, 1)], "event_id": [1],
                        "user_id": [1], "value": [1.0], "cyc": [5]})
    d = tmp_path / "one"
    spark.createDataFrame(pdf).coalesce(1).write.parquet(str(d))
    stream = (spark.readStream
              .schema("ts timestamp, event_id long, user_id long, "
                      "value double, cyc long").parquet(str(d)))
    with pytest.raises(ValueError, match="cycle_col"):
        live_bind({"a": (stream, ["cyc", "value"])}, ["user_id"],
                  object, "1 hour", "n long", cycle_col="cyc")


def test_live_quality_classifier_across_drops_equals_batch(spark, tmp_path):
    """Stream-static classifier scoring must be drop-invariant: docs
    arriving across 3 micro-batches score identically to the batch
    apply (complete-mode per-doc aggregation; each doc's tokens land in
    one batch)."""
    import os
    import shutil
    import time as _time
    from scespet_spark.operators.text import (quality_classifier_apply,
                                              quality_classifier_fit)
    from scespet_spark.sources.batch import load_table
    from scespet_spark.streaming.live import run_available_now

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    model = quality_classifier_fit(
        docs.withColumn("label", (F.col("lang") == "en").cast("int")),
        n_buckets=512)
    src = tmp_path / "drops"
    src.mkdir()
    now = _time.time()
    for i in range(3):
        part = docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i)
        d = tmp_path / f"f{i}"
        part.coalesce(1).write.parquet(str(d))
        f = next(p for p in os.listdir(d) if p.endswith(".parquet"))
        dst = src / f"drop-{i}.parquet"
        shutil.copy(str(d / f), str(dst))
        os.utime(dst, (now - 100 + i, now - 100 + i))
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    live = run_available_now(
        quality_classifier_apply(stream, model, n_buckets=512), "complete")
    batch = quality_classifier_apply(docs, model, n_buckets=512)
    assert sorted(map(tuple, live.collect())) == \
        sorted(map(tuple, batch.collect()))


def test_live_lang_id_across_drops_equals_batch(spark, tmp_path):
    """Stream-static language classification must be drop-invariant:
    docs arriving across 3 micro-batches predict identically to the
    batch apply (complete-mode per-doc aggregation over the broadcast
    bucket-weight attach)."""
    import os
    import shutil
    import time as _time
    from scespet_spark.operators.text import lang_id_apply, lang_id_fit
    from scespet_spark.sources.batch import load_table
    from scespet_spark.streaming.live import run_available_now

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    model = lang_id_fit(docs.filter(F.col("doc_id") % 3 == 0),
                        n_buckets=512)
    src = tmp_path / "drops"
    src.mkdir()
    now = _time.time()
    for i in range(3):
        part = docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i)
        d = tmp_path / f"f{i}"
        part.coalesce(1).write.parquet(str(d))
        f = next(p for p in os.listdir(d) if p.endswith(".parquet"))
        dst = src / f"drop-{i}.parquet"
        shutil.copy(str(d / f), str(dst))
        os.utime(dst, (now - 100 + i, now - 100 + i))
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    live = run_available_now(
        lang_id_apply(stream, model, n_buckets=512), "complete")
    batch = lang_id_apply(docs, model, n_buckets=512)
    assert sorted(map(tuple, live.collect())) == \
        sorted(map(tuple, batch.collect()))


def test_streaming_cap_first_k_across_micro_batches(spark, tmp_path):
    """cap_first_k: per key, the first k rows in ARRIVAL order win —
    drop 1 fills 2 of host A's 3 slots, drop 2 contributes exactly one
    more (its order_cols-minimal row) and everything later is
    suppressed; a key at quota emits nothing ever again."""
    from scespet_spark.streaming.live import cap_first_k, run_available_now
    import os
    import shutil
    import time
    d = tmp_path / "drops"
    d.mkdir()
    spark.createDataFrame([(1, "A"), (2, "A"), (3, "B")],
                          "doc_id long, k string") \
        .coalesce(1).write.parquet(str(d / "f1"))
    spark.createDataFrame([(0, "A"), (4, "A"), (5, "A"), (6, "B")],
                          "doc_id long, k string") \
        .coalesce(1).write.parquet(str(d / "f2"))
    src = tmp_path / "src"
    src.mkdir()
    files = sorted(p for sub in ("f1", "f2")
                   for p in (d / sub).glob("*.parquet"))
    now = time.time()
    for i, p in enumerate(files):
        dst = src / f"drop_{i}.parquet"
        shutil.copy(p, dst)
        os.utime(dst, (now - 100 + i * 10, now - 100 + i * 10))
    stream = (spark.readStream.schema("doc_id long, k string")
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    out = run_available_now(
        cap_first_k(stream, 3, keys=["k"], order_cols=["doc_id"],
                    payload_cols=["doc_id"]), "append")
    got = {}
    for r in out.collect():
        got.setdefault(r.k, []).append(r.doc_id)
    # A: drop 1 gives {1,2}; drop 2's minimal row (0) takes the last
    # slot — 4 and 5 are suppressed.  B: 3 then 6, under quota.
    assert sorted(got["A"]) == [0, 1, 2]
    assert sorted(got["B"]) == [3, 6]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="k >= 1"):
        cap_first_k(stream, 0, keys=["k"], order_cols=["doc_id"],
                    payload_cols=["doc_id"])


def test_gated_from_gate_only_batch_preserves_open_window(spark, tmp_path):
    """A micro-batch carrying ONLY gate rows for a key must not touch
    the open window: batch closed-ness depends exclusively on DATA-row
    forward-filled gates (core.WindowedStream.reduce derives
    __last_gate over data rows), so a gate=True heartbeat in its own
    batch must neither force-emit (reduce) nor reset (scan) the carried
    window."""
    import os
    from scespet_spark.streaming.live import (gated_reduce_from,
                                              gated_scan_from,
                                              run_available_now)
    dschema = "user_id long, ts long, event_id long, value double"
    gschema = "user_id long, ts long, event_id long, g boolean"
    data_batches = [[(1, 1, 10, 10.0), (1, 2, 11, 20.0)],
                    [],                              # gate-only batch
                    [(1, 6, 12, 40.0), (1, 8, 13, 5.0)]]
    gate_batches = [[(1, 0, 100, True)],
                    [(1, 3, 101, True)],             # heartbeat
                    [(1, 7, 102, False)]]            # closes before t=8

    def stage(batches, schema, name):
        raw = tmp_path / name
        st = tmp_path / f"{name}_stage"
        os.makedirs(st)
        for i, rows in enumerate(batches):
            (spark.createDataFrame(rows, schema).coalesce(1)
             .write.mode("overwrite").parquet(str(raw / f"f{i}")))
            part = next(p for p in os.listdir(raw / f"f{i}")
                        if p.endswith(".parquet"))
            os.symlink(str(raw / f"f{i}" / part),
                       str(st / f"batch-{i}.parquet"))
        from pyspark.sql.types import _parse_datatype_string
        return lambda: (spark.readStream
                        .schema(_parse_datatype_string(schema))
                        .option("maxFilesPerTrigger", 1)
                        .parquet(str(st)))

    dmk = stage(data_batches, dschema, "d")
    gmk = stage(gate_batches, gschema, "g")

    red = run_available_now(
        gated_reduce_from(dmk(), gmk(), ["user_id"], "g", "value"),
        "append").collect()
    # ONE window spanning the heartbeat batch: 10+20+40, closed by the
    # t=8 data row whose filled gate is false
    assert [(r.win_seq, r.total, r.n) for r in red] == [(10, 70.0, 3)]

    sc = run_available_now(
        gated_scan_from(dmk(), gmk(), ["user_id"], "g", "value"),
        "append").orderBy("event_id").collect()
    assert [(r.event_id, r.total, r.n) for r in sc] == [
        (10, 10.0, 1), (11, 30.0, 2), (12, 70.0, 3)]


def test_live_rrf_fuse_matches_batch_rrf(spark, tmp_path):
    """Streaming hybrid fusion equals batch rrf_fuse over the same two
    candidate lists, per query, across separate micro-batches."""
    import os
    from scespet_spark.operators.similarity import (ivf_assign,
                                                    label_centroids,
                                                    rrf_fuse,
                                                    rrf_fuse_stream)
    emb = load_table(spark, SF, "embeddings")
    cents = label_centroids(emb).persist()
    codes = ivf_assign(emb, cents).persist()

    # synthetic static lexical lists per query: deterministic scores
    lexical = (emb.select("vec_id").crossJoin(
        spark.range(3).select(F.col("id").alias("q_id")))
        .filter((F.col("vec_id") + F.col("q_id")) % 7 < 3)
        .select("q_id", "vec_id",
                F.round((F.col("vec_id") * 37 % 101) / 101.0, 6)
                .alias("score"))).persist()

    qb = (emb.filter(F.col("vec_id") < 3)
          .select(F.col("vec_id").alias("q_id"),
                  F.col("embedding").alias("q_vec")))
    stage = tmp_path / "qstream"
    stage.mkdir()
    for i, cond in enumerate([F.col("q_id") < 2, F.col("q_id") >= 2]):
        d = tmp_path / f"qf{i}"
        qb.filter(cond).coalesce(1).write.parquet(str(d))
        part = next(p for p in os.listdir(d) if p.endswith(".parquet"))
        os.symlink(str(d / part), str(stage / f"b{i}.parquet"))
    qs = (spark.readStream.schema(qb.schema)
          .option("maxFilesPerTrigger", 1).parquet(str(stage)))

    got = run_available_now(
        rrf_fuse_stream(qs, lexical, emb, cents, codes,
                        topk_each=20, nprobe=2), "append")
    got_rows = _sorted_rows(got, ["q_id", "vec_id", "rrf_score",
                                  "rank_0", "rank_1"])

    # batch expectation: per query, rrf_fuse of (lexical list, IVF
    # candidate list) each truncated to topk_each
    from scespet_spark.operators.similarity import ivf_topk_from_index
    want = []
    for r in qb.collect():
        lex_q = (lexical.filter(F.col("q_id") == r.q_id)
                 .select("vec_id", "score")
                 .orderBy(F.desc("score"), "vec_id").limit(20))
        sem_q = ivf_topk_from_index(emb, codes, cents, r.q_vec,
                                    k=20, nprobe=2).select("vec_id",
                                                           "score")
        fused = rrf_fuse([lex_q, sem_q], ["vec_id"], k=60)
        want += [(r.q_id, x.vec_id, x.rrf_score, x.rank_0, x.rank_1)
                 for x in fused.collect()]
    assert got_rows == sorted(want)
    cents.unpersist(); codes.unpersist(); lexical.unpersist()


def test_live_collapse_cycle_split_across_batches_fires_once(spark,
                                                             tmp_path):
    """Rendezvous across micro-batches: one cycle (two rows at the SAME
    ts) split across two drops must fire add_cycle ONCE with both rows
    — the eager per-batch fold would count it twice (live_bind already
    buffers the open cycle; collapse must too)."""
    import os
    import shutil
    import time
    import pandas as pd
    from scespet_spark.operators.buckets import CycleBucket
    from scespet_spark.streaming.live import (live_collapse,
                                              run_available_now)

    class Probe(CycleBucket):
        def open(self):
            self.n_cycles = 0
            self.n_events = 0

        def add_cycle(self, cycle):
            self.n_cycles += 1
            self.n_events += len(cycle)

        def value(self):
            return {"n_cycles": self.n_cycles, "n_events": self.n_events}

    drops = [
        [(pd.Timestamp(2024, 1, 1, 10, 0, 5), 1, 1.0)],
        # second row of the SAME 10:00:05 cycle lands in drop 2,
        # plus a later cycle that closes it
        [(pd.Timestamp(2024, 1, 1, 10, 0, 5), 2, 2.0),
         (pd.Timestamp(2024, 1, 1, 12, 0, 0), 3, 3.0)],
        # a next-day row closes the day-1 bucket
        [(pd.Timestamp(2024, 1, 2, 9, 0, 0), 4, 4.0),
         (pd.Timestamp(2024, 1, 3, 9, 0, 0), 5, 5.0)],
    ]
    src = tmp_path / "drops"
    src.mkdir()
    now = time.time()
    for i, drop in enumerate(drops):
        pdf = pd.DataFrame(drop, columns=["ts", "event_id", "value"])
        pdf["user_id"] = 7
        d = tmp_path / f"f{i}"
        spark.createDataFrame(pdf).coalesce(1).write.parquet(str(d))
        part = next(p for p in os.listdir(d) if p.endswith(".parquet"))
        dst = src / f"drop-{i}.parquet"
        shutil.copy(str(d / part), str(dst))
        os.utime(dst, (now - 100 + i, now - 100 + i))
    stream = (spark.readStream
              .schema("ts timestamp, event_id long, value double, "
                      "user_id long")
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    out = run_available_now(
        live_collapse(stream, ["user_id"], Probe, "1 day",
                      "n_cycles long, n_events long"), "append")
    got = sorted(tuple(r) for r in
                 out.select("user_id", "event_id", "n_cycles",
                            "n_events").collect())
    # day 1: cycle 10:00:05 (2 rows, split across drops) + cycle 12:00
    # -> n_cycles=2, n_events=3, emitted at event 3; day 2's single
    # cycle closes via day 3's row
    assert got == [(7, 3, 2, 3), (7, 4, 1, 1)]

    # emit='all': one emission per CLOSED cycle, running values; the
    # final pending cycle (day 3) defers until a later cycle proves it
    # complete — which never comes, so it does not emit
    out_all = run_available_now(
        live_collapse(stream, ["user_id"], Probe, "1 day",
                      "n_cycles long, n_events long", emit="all"),
        "append")
    got_all = sorted(tuple(r) for r in
                     out_all.select("user_id", "event_id", "n_cycles",
                                    "n_events").collect())
    assert got_all == [(7, 2, 1, 2), (7, 3, 2, 3), (7, 4, 1, 1)]


def _staged_drops(spark, base, name, schema, batches):
    """Write one parquet file per batch (empty batches allowed) with
    ascending mtimes; read back with maxFilesPerTrigger=1 so batch i
    is exactly ``batches[i]``."""
    import os
    import shutil
    import time
    src = base / name
    src.mkdir()
    now = time.time()
    for i, rows in enumerate(batches):
        d = base / f"{name}_f{i}"
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.parquet(str(d))
        part = next(p for p in os.listdir(d) if p.endswith(".parquet"))
        dst = src / f"drop-{i}.parquet"
        shutil.copy(str(d / part), str(dst))
        os.utime(dst, (now - 100 + i, now - 100 + i))
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(str(src)))


def test_live_zip_single_side_and_duplicate_t_across_batches(spark,
                                                             tmp_path):
    """Boundary battery for zip_latest (r10 verdict item #7): empty-
    side batches, single-side batches, and a duplicate timestamp
    split across the batch boundary must fold exactly like the
    sequential arrival order."""
    from datetime import datetime
    from scespet_spark.streaming.live import run_available_now, zip_latest
    ts = lambda s: datetime(2024, 1, 1, 0, 0, s)
    sl = "user_id long, ts timestamp, event_id long, lv double"
    sr = "user_id long, ts timestamp, event_id long, rv double"
    left = _staged_drops(spark, tmp_path, "zl", sl, [
        [(1, ts(1), 1, 10.0)],
        [],                                   # left empty in batch 2
        [(1, ts(3), 3, 11.0)],                # duplicate t=3 (vs e4)
    ])
    right = _staged_drops(spark, tmp_path, "zr", sr, [
        [],                                   # right empty in batch 1
        [(1, ts(1), 2, 100.0), (1, ts(3), 4, 101.0)],
        [],
    ])
    out = run_available_now(
        zip_latest(left, right, ["user_id"], "lv", "rv"), "append")
    got = {r.event_id: (r.lv, r.rv) for r in out.collect()}
    assert got == {1: (10.0, None), 2: (10.0, 100.0),
                   4: (10.0, 101.0), 3: (11.0, 101.0)}


def test_live_asof_equal_t_across_batch_boundary(spark, tmp_path):
    """A right trigger at the SAME event time as a left update from an
    EARLIER batch must see that left value (arrival order = fold
    order across batches); a right-only first batch emits null left."""
    from datetime import datetime
    from scespet_spark.streaming.live import asof_latest, run_available_now
    ts = lambda s: datetime(2024, 1, 1, 0, 0, s)
    sl = "user_id long, ts timestamp, event_id long, lv double"
    sr = "user_id long, ts timestamp, event_id long, rv double"
    left = _staged_drops(spark, tmp_path, "al", sl, [
        [],
        [(1, ts(5), 2, 7.5)],                 # left-only batch
        [],
    ])
    right = _staged_drops(spark, tmp_path, "ar", sr, [
        [(1, ts(4), 1, 0.5)],                 # right before any left
        [],
        [(1, ts(5), 3, 1.0)],                 # same t as e2, later batch
    ])
    out = run_available_now(
        asof_latest(left, right, ["user_id"], ["lv"], ["rv"]), "append")
    got = {r.event_id: (r.lv, r.rv) for r in out.collect()}
    assert got == {1: (None, 0.5), 3: (7.5, 1.0)}


def test_live_sliced_scan_duplicate_t_across_batch_boundary(spark,
                                                            tmp_path):
    """Count(2) slicing with a timestamp duplicated across the batch
    boundary: bucket ids come from the COUNT carry, never from t, so
    the split must not merge or double-count."""
    from datetime import datetime
    from scespet_spark import Count
    from scespet_spark.streaming.live import run_available_now, sliced_scan
    ts = lambda s: datetime(2024, 1, 1, 0, 0, s)
    s = "user_id long, ts timestamp, event_id long, value double"
    src = _staged_drops(spark, tmp_path, "cs", s, [
        [(1, ts(1), 1, 1.0), (1, ts(2), 2, 2.0)],
        [(1, ts(2), 3, 4.0),                  # duplicate t=2 across
         (1, ts(2), 4, 8.0)],                 # the boundary
    ])
    out = run_available_now(
        sliced_scan(src, ["user_id"], Count(2), "value"), "append")
    got = {r.event_id: (r.total, r.n) for r in out.collect()}
    assert got == {1: (1.0, 1), 2: (3.0, 2), 3: (4.0, 1), 4: (12.0, 2)}


def test_live_keymap_equal_t_across_batch_boundary(spark, tmp_path):
    """keymap zip: a right fire at the SAME ts as the cell-creating
    left event but in a LATER batch must see the cell (and emit with
    the left's latest value); a later right-only batch re-fires it."""
    from datetime import datetime
    from scespet_spark.streaming.live import keymap_latest, run_available_now
    ts = lambda s: datetime(2024, 1, 1, 0, 0, s)
    sl = "user_id long, ts timestamp, event_id long, xv double"
    sr = "bucket long, ts timestamp, event_id long, yv double"
    left = _staged_drops(spark, tmp_path, "kl", sl, [
        [(10, ts(2), 1, 1.0)],
        [],
        [],
    ])
    right = _staged_drops(spark, tmp_path, "kr", sr, [
        [],
        [(0, ts(2), 2, 50.0)],                # same ts, later batch
        [(0, ts(3), 3, 60.0)],                # right-only batch
    ])
    out = keymap_latest(left, right, "user_id", "bucket",
                        F.col("user_id") % 10, ["xv"], ["yv"],
                        emit="both")
    got = sorted(tuple(r) for r in run_available_now(out, "append")
                 .select("user_id", "event_id", "xv", "yv").collect())
    assert got == [(10, 1, 1.0, None), (10, 2, 1.0, 50.0),
                   (10, 3, 1.0, 60.0)]


def test_live_collapse_rejects_non_timestamp_cycle_col(spark, tmp_path):
    # the every-slice id derives from the cycle value (one cycle can
    # never straddle a slice boundary), so a non-timestamp cycle_col
    # must raise — same contract as live_bind
    import pytest
    from datetime import datetime
    from scespet_spark.operators.buckets import CycleBucket
    from scespet_spark.streaming.live import live_collapse

    class B(CycleBucket):
        def open(self): self.n = 0
        def add_cycle(self, c): self.n += len(c)
        def value(self): return {"n": self.n}

    d = tmp_path / "src"
    spark.createDataFrame(
        [(1, datetime(2024, 1, 1), 1, 5)],
        "user_id long, ts timestamp, event_id long, cyc long"
    ).write.parquet(str(d))
    stream = (spark.readStream
              .schema("user_id long, ts timestamp, event_id long, "
                      "cyc long").parquet(str(d)))
    with pytest.raises(ValueError, match="timestamp"):
        live_collapse(stream, ["user_id"], B, "1 day", "n long",
                      cycle_col="cyc")


def test_live_collapse_cycle_spanning_three_batches(spark, tmp_path):
    """A cycle whose rows arrive across THREE micro-batches still fires
    add_cycle once with all rows (the pending buffer re-pends)."""
    import pandas as pd
    from scespet_spark.operators.buckets import CycleBucket
    from scespet_spark.streaming.live import (live_collapse,
                                              run_available_now)

    class Probe(CycleBucket):
        def open(self):
            self.n_cycles = 0
            self.n_events = 0

        def add_cycle(self, cycle):
            self.n_cycles += 1
            self.n_events += len(cycle)

        def value(self):
            return {"n_cycles": self.n_cycles, "n_events": self.n_events}

    t0 = pd.Timestamp(2024, 1, 1, 10, 0, 5)
    drops = [
        [(t0, 1, 1.0)],
        [(t0, 2, 2.0)],
        [(t0, 3, 3.0),
         (pd.Timestamp(2024, 1, 2, 9, 0, 0), 4, 4.0),
         (pd.Timestamp(2024, 1, 3, 9, 0, 0), 5, 5.0)],
    ]
    schema = "ts timestamp, event_id long, value double, user_id long"
    batches = [[(r[0].to_pydatetime(), r[1], r[2], 7) for r in d]
               for d in drops]
    src = _staged_drops(spark, tmp_path, "c3", schema, batches)
    out = run_available_now(
        live_collapse(src, ["user_id"], Probe, "1 day",
                      "n_cycles long, n_events long"), "append")
    got = sorted(tuple(r) for r in
                 out.select("user_id", "event_id", "n_cycles",
                            "n_events").collect())
    # day 1 = ONE cycle of 3 rows (split across all three drops)
    assert got == [(7, 3, 1, 3), (7, 4, 1, 1)]


def test_live_serving_dedups_in_batch_duplicate_query(spark, tmp_path):
    """A query event duplicated WITHIN one micro-batch (at-least-once
    sources) doubles every candidate row; without in-step dedup the
    same doc occupies two ranks in ann_topk_stream's top-k (crowding
    real neighbors out) and shifts every RRF rank below the first
    duplicate.  Red-tested against the pre-fix step: top-5 came back
    [(d,1),(d,2),...].  Both serving steps must emit results identical
    to the single-event batch forms."""
    from scespet_spark.operators.similarity import (ann_topk_stream,
                                                    ivf_assign,
                                                    ivf_topk_from_index,
                                                    label_centroids,
                                                    rrf_fuse,
                                                    rrf_fuse_stream)
    emb = load_table(spark, SF, "embeddings")
    cents = label_centroids(emb).persist()
    codes = ivf_assign(emb, cents).persist()
    qb = (emb.filter(F.col("vec_id") < 2)
          .select(F.col("vec_id").alias("q_id"),
                  F.col("embedding").alias("q_vec")))
    # q_id 0 appears TWICE in the same staged file -> same micro-batch
    dup = qb.unionByName(qb.filter(F.col("q_id") == 0))
    d = tmp_path / "qfiles"
    dup.coalesce(1).write.parquet(str(d))

    def qstream():
        return spark.readStream.schema(qb.schema).parquet(str(d))

    got = run_available_now(
        ann_topk_stream(qstream(), emb, cents, codes, k=5, nprobe=2),
        "append")
    for r in qb.collect():
        want = [(x.vec_id, i + 1, x.score) for i, x in enumerate(
            ivf_topk_from_index(emb, codes, cents, r.q_vec,
                                k=5, nprobe=2).collect())]
        got_q = sorted(((x.vec_id, x.rnk, x.score)
                        for x in got.collect() if x.q_id == r.q_id),
                       key=lambda t: t[1])
        assert got_q == want, f"q {r.q_id}: {got_q} != {want}"

    lexical = (emb.select("vec_id").crossJoin(
        spark.range(2).select(F.col("id").alias("q_id")))
        .filter((F.col("vec_id") + F.col("q_id")) % 7 < 3)
        .select("q_id", "vec_id",
                F.round((F.col("vec_id") * 37 % 101) / 101.0, 6)
                .alias("score"))).persist()
    fused = run_available_now(
        rrf_fuse_stream(qstream(), lexical, emb, cents, codes,
                        topk_each=20, nprobe=2), "append")
    for r in qb.collect():
        lex_q = (lexical.filter(F.col("q_id") == r.q_id)
                 .select("vec_id", "score")
                 .orderBy(F.desc("score"), "vec_id").limit(20))
        sem_q = ivf_topk_from_index(emb, codes, cents, r.q_vec,
                                    k=20, nprobe=2).select("vec_id",
                                                           "score")
        want = sorted((x.vec_id, x.rrf_score, x.rank_0, x.rank_1)
                      for x in rrf_fuse([lex_q, sem_q], ["vec_id"],
                                        k=60).collect())
        got_q = sorted((x.vec_id, x.rrf_score, x.rank_0, x.rank_1)
                       for x in fused.collect() if x.q_id == r.q_id)
        assert got_q == want, f"rrf q {r.q_id} diverged"
    cents.unpersist(); codes.unpersist(); lexical.unpersist()


def _route_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


_RA = "alpha beta gamma delta epsilon zeta eta theta"
_RB = "one two three four five six seven eight nine"
_RC = "red orange yellow green blue indigo violet colors"
_RD = "totally unrelated singleton content never repeated anywhere"


def test_cluster_route_agrees_with_incremental_components(spark, tmp_path):
    """Single-drop routing == the next offline generational merge: every
    drop doc's served label equals what `incremental_components` will
    write to the clusters artifact — including TWO NOVEL NEAR-DUPS
    ARRIVING IN ONE DROP, which must elect a COMMON label (min doc_id
    among in-drop band mates) rather than each claiming itself."""
    from scespet_spark.operators.dedup import (connected_components,
                                               incremental_components,
                                               lsh_candidate_pairs)
    from scespet_spark.operators.snapshot import (read_clusters,
                                                  read_snapshot,
                                                  write_snapshot)
    from scespet_spark.streaming.live import cluster_route

    prior = _route_docs(spark, [(100, _RA), (101, _RA), (102, _RB)])
    snap = str(tmp_path / "snap")
    write_snapshot(snap, docs=prior, cluster_labels=True)

    drop = _route_docs(spark, [
        (200, _RA),            # joins the prior {100,101} cluster
        (201, _RC), (202, _RC),  # novel in-drop near-dups
        (203, _RD),            # novel singleton
        (204, _RB),            # near-dup of the prior SINGLETON 102
    ])
    d = tmp_path / "drop"
    drop.coalesce(1).write.parquet(str(d))
    stream = spark.readStream.schema(drop.schema).parquet(str(d))
    got = {r.doc_id: r.cluster for r in run_available_now(
        cluster_route(stream, read_snapshot(spark, snap)["bands"],
                      read_clusters(spark, snap)), "append").collect()}
    assert got == {200: 100, 201: 201, 202: 201, 203: 203, 204: 102}

    # ground truth: the offline generational merge over the same drop
    prior_labels = (
        prior.select(F.col("doc_id").alias("id"))
        .join(connected_components(lsh_candidate_pairs(prior)),
              "id", "left")
        .select("id", F.coalesce("cluster", F.col("id")).alias("cluster")))
    new_pairs = (lsh_candidate_pairs(prior.unionByName(drop))
                 .filter((F.col("id_a") >= 200) | (F.col("id_b") >= 200)))
    want = {r.id: r.cluster
            for r in incremental_components(prior_labels,
                                            new_pairs).collect()}
    for did in got:
        assert got[did] == want.get(did, did), (did, got[did], want)


def test_cluster_route_cross_drop_mates_remembered(spark, tmp_path):
    """A novel doc arriving in a LATER drop still routes to its earlier
    novel near-dup: the band-bucket self-join retains earlier drops'
    band rows in join state, so doc_id-ordered arrival serves labels
    consistent with the eventual offline merge even before the
    snapshot refolds."""
    import os
    from scespet_spark.operators.snapshot import (read_clusters,
                                                  read_snapshot,
                                                  write_snapshot)
    from scespet_spark.streaming.live import cluster_route

    prior = _route_docs(spark, [(100, _RA)])
    snap = str(tmp_path / "snap")
    write_snapshot(snap, docs=prior, cluster_labels=True)

    drops = [_route_docs(spark, [(201, _RC)]),
             _route_docs(spark, [(202, _RC), (203, _RD)])]
    stage = tmp_path / "stage"
    os.makedirs(stage)
    for i, dr in enumerate(drops):
        d = tmp_path / f"d{i}"
        dr.coalesce(1).write.parquet(str(d))
        part = next(p for p in os.listdir(d) if p.endswith(".parquet"))
        os.symlink(str(d / part), str(stage / f"batch-{i}.parquet"))
    stream = (spark.readStream.schema(drops[0].schema)
              .option("maxFilesPerTrigger", 1).parquet(str(stage)))
    got = {r.doc_id: r.cluster for r in run_available_now(
        cluster_route(stream, read_snapshot(spark, snap)["bands"],
                      read_clusters(spark, snap)), "append").collect()}
    assert got == {201: 201, 202: 201, 203: 203}


def test_live_bind_equals_batch_minus_final_bucket(spark, batch_events):
    """Emission-contract matrix row (COVERAGE.md): live_bind emits
    exactly the batch bind+collapse rows MINUS each key's final daily
    bucket (the bucket holding the final pending cycle — no
    termination event live, batch owns the flush,
    SimpleEnv.scala:93)."""
    import tempfile
    from scespet_spark import Every, Stream
    from scespet_spark.operators.buckets import CycleBucket, bind, collapse

    d = tempfile.mkdtemp()
    batch_events.coalesce(1).write.mode("overwrite").parquet(d + "/one")
    src = (spark.readStream.schema(batch_events.schema)
           .parquet(d + "/one"))
    got = run_available_now(_bind_hourly(src), "append")

    class XY(CycleBucket):
        def open(self):
            self.c = self.p = self.b = 0

        def add_cycle(self, cycle):
            hc = bool((cycle["side"] == "click").any())
            hp = bool((cycle["side"] == "purchase").any())
            self.c += int(hc)
            self.p += int(hp)
            self.b += int(hc and hp)

        def value(self):
            return {"nc": self.c, "np": self.p, "nb": self.b}

    def side(tp):
        df = (batch_events.filter(F.col("event_type") == tp)
              .withColumn("cyc", F.date_trunc("hour", "ts")))
        return Stream(df, t="ts", seq="event_id", keys=("user_id",))

    u = bind({"click": (side("click"), ["cyc", "value"]),
              "purchase": (side("purchase"), ["cyc", "value"])})
    s = Stream(u.df, t="ts", seq="event_id").by("user_id",
                                                name="user_id")
    want_all = collapse(s.group(Every("1 day")), XY,
                        "user_id long, ts timestamp, event_id long, "
                        "nc long, np long, nb long", cycle_col="cyc")
    last_day = (want_all.withColumn("day", F.date_trunc("day", "ts"))
                .groupBy("user_id").agg(F.max("day").alias("ld")))
    want = (want_all.withColumn("day", F.date_trunc("day", "ts"))
            .join(last_day, "user_id")
            .filter(F.col("day") < F.col("ld")).drop("day", "ld"))
    cols = ["user_id", "event_id", "nc", "np", "nb"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)
    assert got.count() > 0


@pytest.mark.parametrize("op", ["first_wins", "cap_first_k"])
def test_election_idle_ttl_purge_and_reemergence(spark, tmp_path, op):
    """idle_ttl on the election cores (first_wins / cap_first_k): a key
    idle past the TTL is PURGED from the state store, so a later
    re-appearance elects AGAIN (the documented bounded-state trade);
    without idle_ttl the key is suppressed forever.  An active key
    re-arms its expiry every batch and is never purged."""
    import os
    from scespet_spark.streaming.live import cap_first_k, first_wins

    def mk(rows):
        return spark.createDataFrame(
            rows, "ts timestamp, k string, doc_id long")

    import datetime as dt

    def day(d):
        return dt.datetime(2024, 1, d)

    drops = [mk([(day(1), "a", 1), (day(1), "a", 8), (day(1), "b", 2)]),
             mk([(day(3), "b", 3)]),
             mk([(day(5), "b", 4)]),   # watermark passes a's expiry
             mk([(day(7), "b", 5)]),   # a times out here (no a rows)
             mk([(day(9), "a", 6), (day(9), "b", 7)])]  # a re-emerges
    stage = tmp_path / "stage"
    os.makedirs(stage)
    import time as _time
    now = _time.time()
    for i, dr in enumerate(drops):
        d = tmp_path / f"d{i}"
        dr.coalesce(1).write.parquet(str(d))
        part = next(p for p in os.listdir(d) if p.endswith(".parquet"))
        dst = stage / f"drop-{i}.parquet"
        os.symlink(str(d / part), str(dst))
        os.utime(str(d / part), (now - 100 + i, now - 100 + i))

    def run(ttl):
        stream = (spark.readStream.schema(drops[0].schema)
                  .option("maxFilesPerTrigger", 1).parquet(str(stage)))
        if op == "first_wins":
            out = first_wins(stream, keys=["k"], order_cols=["doc_id"],
                             payload_cols=["doc_id"], t="ts",
                             idle_ttl=ttl)
        else:
            out = cap_first_k(stream, 2, keys=["k"],
                              order_cols=["doc_id"],
                              payload_cols=["doc_id"], t="ts",
                              idle_ttl=ttl)
        res = run_available_now(out, "append")
        got = {}
        for r in res.collect():
            got.setdefault(r.k, set()).add(r.doc_id)
        return got

    exact = run(None)
    ttl = run("1 day")
    if op == "first_wins":
        assert exact == {"a": {1}, "b": {2}}
        # a purged after idling past the ttl -> re-elects doc 6;
        # b active every drop -> expiry re-arms, never purged
        assert ttl == {"a": {1, 6}, "b": {2}}
    else:
        # a fills its k=2 cap in drop 0; the purge RESETS the counter,
        # so the re-emerged key elects doc 6 beyond its lifetime cap
        assert exact == {"a": {1, 8}, "b": {2, 3}}
        assert ttl == {"a": {1, 8, 6}, "b": {2, 3}}


def test_checkpoint_keeps_its_state_partition_count(spark, batch_events,
                                                    tmp_path):
    """A checkpoint keeps the state-store partition count it started
    with: Spark restores ``spark.sql.shuffle.partitions`` from the
    offset log, so a scan_state query begun under 8 partitions resumes
    under a session set to 2 with all 8 stores and its per-key state
    intact — checkpoints written before the per-core default still
    resume, and their output still equals the batch scan."""
    import importlib
    import os
    from scespet_spark.streaming.live import LiveStream

    def step(st, pdf):
        import numpy as np
        run = st["acc"] + np.cumsum(
            np.round(pdf["value"].to_numpy(dtype="float64") * 100))
        st["acc"] = float(run[-1])
        out = pdf[["event_id", "ts"]].copy()
        out["running_total"] = run / 100.0
        return out

    drops, stage = tmp_path / "drops", tmp_path / "stage"
    stage.mkdir()
    cut = batch_events.approxQuantile("event_id", [0.5], 0.0)[0]
    for i, cond in enumerate([F.col("event_id") <= cut,
                              F.col("event_id") > cut]):
        batch_events.filter(cond).coalesce(1).write.parquet(
            str(drops / f"d{i}"))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain(drop):
        part = next(p for p in os.listdir(drops / f"d{drop}")
                    if p.endswith(".parquet"))
        os.symlink(str(drops / f"d{drop}" / part),
                   str(stage / f"drop-{drop}.parquet"))
        src = (spark.readStream.schema(batch_events.schema)
               .option("maxFilesPerTrigger", 1).parquet(str(stage)))
        live = (LiveStream(src).by("user_id")
                .scan_state({"acc": 0.0}, step,
                            "user_id long, event_id long, ts timestamp, "
                            "running_total double"))
        q = (live.df.writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt).outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return [p["stateOperators"][0]["numStateStoreInstances"]
                for p in q.recentProgress if p["numInputRows"] > 0]

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "8")
        first = drain(0)
        spark.conf.set(key, "2")
        resumed = drain(1)
    finally:
        spark.conf.set(key, old)
    assert (first, resumed) == ([8], [8])

    cols = ["event_id", "ts", "user_id", "running_total"]
    want = importlib.import_module("__spark_entry__").queries()[
        "scan_running_sum"](spark, SF)
    assert (_sorted_rows(spark.read.parquet(out), cols)
            == _sorted_rows(want, cols))
