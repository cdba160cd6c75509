"""Multi-input bucket semantics: tagged-union bind, atomic same-cycle
rendezvous, and open/add/complete lifecycle with both emission modes
(reference behavior: SlicedBucket.scala rendezvous, TestMultiBucketing
XYCollector; re-expressed, not ported)."""

from pyspark.sql import functions as F

from scespet_spark import Count, Stream, Termination
from scespet_spark.operators.buckets import CycleBucket, bind, collapse


def _keyed(spark, rows, schema="k string, ts long, seq long, val long"):
    return Stream(spark.createDataFrame(rows, schema), t="ts", seq="seq",
                  keys=("k",))


def make_probe():
    # defined inside a function so cloudpickle ships the class by value
    # to executors (a test module isn't importable on workers)
    class Probe(CycleBucket):
        """Records cycle sizes; value = (#cycles, #events, running sum)."""

        def open(self):
            self.cycles = []
            self.total = 0

        def add_cycle(self, cycle):
            self.cycles.append(len(cycle))
            self.total += int(cycle["val"].sum())

        def value(self):
            return {"n_cycles": len(self.cycles),
                    "n_events": sum(self.cycles), "total": self.total}

    return Probe


SCHEMA = "k string, ts long, seq long, n_cycles long, n_events long, total long"


def test_bind_tagged_union(spark):
    a = _keyed(spark, [("x", 1, 0, 10)]).map(av=F.col("val")).map(val=F.lit(None))
    b = _keyed(spark, [("x", 2, 1, 20)]).map(bv=F.col("val")).map(val=F.lit(None))
    u = bind({"a": (a, ["av"]), "b": (b, ["bv"])})
    rows = u.df.orderBy("ts").collect()
    assert [r.side for r in rows] == ["a", "b"]
    assert rows[0].av == 10 and rows[0].bv is None
    assert rows[1].bv == 20 and rows[1].av is None


def test_collapse_rendezvous_atomic_cycles(spark):
    # ts=5 carries two simultaneous events -> ONE add_cycle call with both
    s = _keyed(spark, [("x", 1, 0, 1), ("x", 5, 1, 2), ("x", 5, 2, 3),
                       ("x", 9, 3, 4)])
    out = collapse(s.group(Termination()), make_probe(), SCHEMA, emit="last").collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_cycles, r.n_events, r.total) == (3, 4, 10)
    assert (r.ts, r.seq) == (9, 3)


def test_collapse_emit_all_per_cycle(spark):
    s = _keyed(spark, [("x", 1, 0, 1), ("x", 5, 1, 2), ("x", 5, 2, 3),
                       ("x", 9, 3, 4)])
    rows = (collapse(s.group(Termination()), make_probe(), SCHEMA, emit="all")
            .orderBy("ts", "seq").collect())
    # one emission per cycle (not per event), cumulative within the slice
    assert [(r.ts, r.n_events, r.total) for r in rows] == [
        (1, 1, 1), (5, 3, 6), (9, 4, 10)]


def test_collapse_reopens_per_slice(spark):
    # Count(2) -> two slices; open() must reset state between them
    s = _keyed(spark, [("x", 1, 0, 1), ("x", 2, 1, 2), ("x", 3, 2, 3),
                       ("x", 4, 3, 4)])
    rows = (collapse(s.group(Count(2)), make_probe(), SCHEMA, emit="last")
            .orderBy("ts").collect())
    assert [(r.n_events, r.total) for r in rows] == [(2, 3), (2, 7)]


def test_collapse_per_key_isolation(spark):
    s = _keyed(spark, [("x", 1, 0, 1), ("y", 1, 1, 10), ("y", 2, 2, 20)])
    rows = (collapse(s.group(Termination()), make_probe(), SCHEMA, emit="last")
            .orderBy("k").collect())
    assert [(r.k, r.n_events, r.total) for r in rows] == [
        ("x", 1, 1), ("y", 2, 30)]


def test_collapse_repartitions_to_default_parallelism(spark):
    # a column-only repartition is coalesced by AQE to one task for a
    # small shuffle; the fixed count keeps the Python fold on every core
    s = _keyed(spark, [("x", 1, 0, 1), ("y", 1, 1, 10)])
    df = collapse(s.group(Termination()), make_probe(), SCHEMA, emit="last")
    plan = df._jdf.queryExecution().executedPlan().toString()
    n = spark.sparkContext.defaultParallelism
    exchanges = [l for l in plan.splitlines() if "Exchange" in l]
    assert len(exchanges) == 1, plan
    assert f", {n}), REPARTITION_BY_NUM" in exchanges[0], plan


def test_trigger_stream_slice_alignment(spark):
    # slice [1,2,3,4]@t0..3 by an external trigger firing at t=2
    # (reference: MacroTerm as slice spec, SliceTriggerSpec.scala:57-73;
    # alignment semantics: TestSingleTerms.scala:157-181)
    from scespet_spark import AFTER, BEFORE, Stream, TriggerStream
    data = Stream(spark.createDataFrame(
        [(i, i, i + 1) for i in range(4)], "ts long, seq long, v long"),
        t="ts", seq="seq")
    trig = Stream(spark.createDataFrame(
        [(2, 100)], "ts long, seq long"), t="ts", seq="seq")
    after = data.group(TriggerStream(trig, AFTER)).reduce(s=F.sum("v"))
    got_after = sorted((r.ts, r.s) for r in after.df.collect())
    assert got_after == [(2, 6), (3, 4)]  # {1,2,3} closes at t2, {4} after
    before = data.group(TriggerStream(trig, BEFORE)).reduce(s=F.sum("v"))
    got_before = sorted((r.ts, r.s) for r in before.df.collect())
    assert got_before == [(1, 3), (3, 7)]  # {1,2} then {3,4}


def test_trigger_stream_slice_per_key(spark):
    # per-key vector trigger (VectSliceTriggerSpec, SliceTriggerSpec.scala:76-118):
    # key 'a' sliced at t=1, key 'b' never -> one bucket
    from scespet_spark import AFTER, Stream, TriggerStream
    data = Stream(spark.createDataFrame(
        [(0, 0, "a", 1), (1, 1, "a", 2), (2, 2, "a", 3),
         (0, 3, "b", 10), (2, 4, "b", 20)],
        "ts long, seq long, k string, v long"), t="ts", seq="seq", keys=("k",))
    trig = Stream(spark.createDataFrame(
        [(1, 100, "a")], "ts long, seq long, k string"),
        t="ts", seq="seq", keys=("k",))
    out = data.group(TriggerStream(trig, AFTER)).reduce(s=F.sum("v"))
    got = sorted((r.k, r.ts, r.s) for r in out.df.collect())
    assert got == [("a", 1, 3), ("a", 2, 3), ("b", 2, 30)]


def test_session_window_gap(spark):
    # 10s-gap sessions over ts 0,5,12,14 | 40,41,42; scan + reduce
    from scespet_spark import Session, Stream
    rows = [(t * 1_000_000, i, 1) for i, t in enumerate([0, 5, 12, 14, 40, 41, 42])]
    df = spark.createDataFrame(rows, "us long, seq long, v long").select(
        F.timestamp_micros("us").alias("ts"), "seq", "v")
    s = Stream(df, t="ts", seq="seq")
    red = s.group(Session("10 seconds")).reduce(n=F.count("*"))
    assert sorted(r.n for r in red.df.collect()) == [3, 4]
    scan = s.group(Session("10 seconds")).scan(n=F.count("*"))
    assert [r.n for r in scan.df.orderBy("seq").collect()] == [1, 2, 3, 4, 1, 2, 3]


def test_sliding_window_membership(spark):
    # 20s windows sliding 10s: each event in exactly 2 windows
    from scespet_spark import Sliding, Stream
    rows = [(t * 1_000_000, i, 1) for i, t in enumerate([0, 5, 12])]
    df = spark.createDataFrame(rows, "us long, seq long, v long").select(
        F.timestamp_micros("us").alias("ts"), "seq", "v")
    s = Stream(df, t="ts", seq="seq")
    out = s.group(Sliding("20 seconds", "10 seconds")).reduce(n=F.count("*"))
    got = sorted((str(r.win_start)[11:19], r.n) for r in out.df.collect())
    assert got == [("00:00:00", 3), ("00:00:10", 1), ("23:59:50", 2)]


def test_sliding_scan_running_per_window(spark):
    # CUMULATIVE emission on sliding windows: each (event, window) pair
    # carries that window's running aggregate (golden, hand-computed)
    from scespet_spark import Sliding, Stream
    rows = [(t * 1_000_000, i, 1) for i, t in enumerate([0, 5, 12])]
    df = spark.createDataFrame(rows, "us long, seq long, v long").select(
        F.timestamp_micros("us").alias("ts"), "seq", "v")
    s = Stream(df, t="ts", seq="seq")
    out = s.group(Sliding("20 seconds", "10 seconds")).scan(n=F.count("*"))
    got = sorted((str(r.win_start)[11:19], r.seq, r.n)
                 for r in out.df.collect())
    assert got == [("00:00:00", 0, 1), ("00:00:00", 1, 2), ("00:00:00", 2, 3),
                   ("00:00:10", 2, 1),
                   ("23:59:50", 0, 1), ("23:59:50", 1, 2)]


def test_window_from_keyed_gate_streams(spark):
    # per-key boolean window streams (reference: VectTerm.scala:530-543):
    # key a gated [1,5) (close beats data at t=5), key b gated [2,..) and
    # never closed -> reduce emits nothing for b
    from scespet_spark import Stream
    data = Stream(spark.createDataFrame(
        [(t, 100 + t, k, t) for t in range(8) for k in ("a", "b")],
        "ts long, seq long, k string, v long"), t="ts", seq="seq", keys=("k",))
    gate = Stream(spark.createDataFrame(
        [(1, 0, "a", True), (5, 1, "a", False), (2, 2, "b", True)],
        "ts long, seq long, k string, g boolean"),
        t="ts", seq="seq", keys=("k",))
    red = data.window_from(gate, "g").reduce(vs=F.collect_list("v"))
    got = {r.k: sorted(r.vs) for r in red.df.collect()}
    assert got == {"a": [1, 2, 3, 4]}


def test_collapse_carries_buckets_and_cycles_across_arrow_batches(spark):
    # force 3-row Arrow batches so buckets AND cycles span batch
    # boundaries inside mapInPandas — exercises the leftover-cycle
    # carry and the open-bucket carry, which full-size batches never hit
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    try:
        # one key, Count(5) slices, a 4-event cycle at ts=7 that spans
        # the 3-row batch edge, interleaved second key
        rows = []
        seq = 0
        for k in ("x", "y"):
            for ts, n in [(1, 1), (3, 2), (7, 4), (9, 1), (11, 2), (12, 1)]:
                for _ in range(n):
                    rows.append((k, ts, seq, ts))
                    seq += 1
        s = _keyed(spark, rows)
        got = (collapse(s.group(Count(5)), make_probe(), SCHEMA, emit="last")
               .orderBy("k", "ts").collect())
        # per key: 11 events -> slices of 5/5/1 by (ts, seq) order
        for k in ("x", "y"):
            mine = [(r.n_cycles, r.n_events, r.total)
                    for r in got if r.k == k]
            # slice 1: ts 1,3,3,7,7 -> cycles {1},{3,3},{7,7} = 3 cycles
            # slice 2: ts 7,7,9,11,11 -> cycles {7,7},{9},{11,11}
            # slice 3: ts 12 -> 1 cycle
            assert mine == [(3, 5, 21), (3, 5, 45), (1, 1, 12)], (k, mine)
        # emit='all' cumulative across the same forced boundaries
        all_rows = (collapse(s.group(Count(5)), make_probe(), SCHEMA,
                             emit="all").orderBy("k", "ts", "seq").collect())
        x = [(r.ts, r.n_cycles, r.n_events) for r in all_rows if r.k == "x"]
        assert x == [(1, 1, 1), (3, 2, 3), (7, 3, 5),
                     (7, 1, 2), (9, 2, 3), (11, 3, 5),
                     (12, 1, 1)], x
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_collapse_rejects_decreasing_cycle_col(spark):
    # boundary detection is adjacent-change in (t, seq) order: a custom
    # cycle value that DECREASES (and so could recur non-adjacently)
    # must raise, not silently split one logical cycle into several
    import pytest
    s = Stream(spark.createDataFrame(
        [("x", 1, 0, 10, 5), ("x", 2, 1, 20, 3)],
        "k string, ts long, seq long, val long, cyc long"),
        t="ts", seq="seq", keys=("k",))
    df = collapse(s.group(Termination()), make_probe(), SCHEMA,
                  emit="last", cycle_col="cyc")
    with pytest.raises(Exception, match="decreases"):
        df.collect()


def test_collapse_rejects_nan_cycle_col(spark):
    import pytest
    s = Stream(spark.createDataFrame(
        [("x", 1, 0, 10, 1.0), ("x", 2, 1, 20, float("nan"))],
        "k string, ts long, seq long, val long, cyc double"),
        t="ts", seq="seq", keys=("k",))
    df = collapse(s.group(Termination()), make_probe(), SCHEMA,
                  emit="last", cycle_col="cyc")
    with pytest.raises(Exception, match="NaN"):
        df.collect()
