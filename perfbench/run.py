#!/usr/bin/env python3
"""Benchmark of the spark-graft engine: one workload at one seed.

  python3 perfbench/run.py --workload cep_replay --seed 1 --seconds 5 --trace 0

Run from the root of a checkout.  The inputs are generated from
``--seed`` (``perfbench/gen.py``); the program sees only the generated
parquet.  Everything runs in this one process on ``local[<cores>]``
through the package's public entry points, with only the program's own
Spark settings (plus the event log when tracing).

A run is: ``engine.get_spark`` -> one cold pass over the batch items,
whose outputs are kept for the oracle check -> warm passes until
``--seconds`` have elapsed (at least one) -> the oracle check against
DuckDB.  A warm pass builds and executes every batch item of the
workload, then drains every drop through each live op.  A batch item is
timed in two phases, *build* (the call that constructs the DataFrame)
and *execute* (a noop-sink write), each under the job group
``<workload>:<item>:<phase>``.  A live op gets a fresh checkpoint and
runs with ``availableNow`` and one drop per micro-batch: a closed loop,
the next drop is read when the previous batch has committed.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs the same
phases, then restarts the session with Spark's event log on and runs one
more pass; it prints the per-layer metrics and the tracing overhead
(that pass's time minus the untraced ``pass_s``).
Both write the spans and a detailed result under ``perfbench/_out/``.
The last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads as W  # noqa: E402
from tracing import Spans, progress_time, read_event_log  # noqa: E402

_T0 = time.time()


def _log(msg: str) -> None:
    print(f"perfbench: +{time.time() - _T0:.1f}s {msg}", file=sys.stderr,
          flush=True)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


class Bench:
    """One workload's passes inside one Spark session."""

    def __init__(self, spark, workload: str, in_dir: str, work: str,
                 spans: Spans, parent: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.in_dir = in_dir
        self.work = work
        self.spans = spans
        self.parent = parent
        self.failures: list[str] = []
        self.attempted = 0
        self.outputs: dict = {}

    def _jobs(self, group: str) -> set[int]:
        # the status store is fed by the asynchronous listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(self.sc.statusTracker().getJobIdsForGroup(group))

    def _phase(self, item: str, phase: str, label: str, fn, parent: int):
        """Run ``fn`` under the item's job group; returns its result, the
        wall time and the number of jobs it started."""
        group = f"{self.workload}:{item}:{phase}"
        before = self._jobs(group)
        self.sc.setJobGroup(group, label)
        with self.spans.span(phase, parent) as sid:
            out = fn()
        s = self.spans.spans[sid]
        return out, s["end"] - s["start"], len(self._jobs(group) - before)

    @staticmethod
    def _release() -> int:
        from scespet_spark.functions import reducers
        from scespet_spark.operators import dedup, similarity, text
        return (dedup.release_cached() + similarity.release_cached()
                + text.release_cached() + reducers.release_cached())

    def _fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"perfbench: FAILED {what}\n{traceback.format_exc()}",
              file=sys.stderr)

    def _item(self, n: int, item: str, check: bool, rec: dict, ps: int):
        label = f"pass={n}"
        item_dir = os.path.join(self.work, "items", f"{n}-{item}")
        os.makedirs(item_dir)
        with self.spans.span(item, ps,
                             module=W.BATCH[self.workload][item]) as s:
            try:
                df, b_s, b_j = self._phase(
                    item, "build", label, lambda: W.build_batch(
                        item, self.spark, self.in_dir, item_dir), s)
                e_s = e_j = 0
                if df is not None:
                    _, e_s, e_j = self._phase(
                        item, "execute", label, lambda: df.write
                        .format("noop").mode("overwrite").save(), s)
                rec["items"][item] = {"build_s": b_s, "build_jobs": b_j,
                                      "exec_s": e_s, "exec_jobs": e_j}
                if df is None:
                    rec["snapshot_bytes"] += _du(item_dir)
                if check:
                    c0 = time.time()
                    self.sc.setJobGroup(f"{self.workload}:{item}:check",
                                        label)
                    if df is None:
                        import pandas as pd
                        out = pd.DataFrame([W.snapshot_check(
                            self.spark, self.in_dir, item_dir)])
                    else:
                        out = df.toPandas()
                    self.outputs[item] = out
                    rec["check_s"] += time.time() - c0
            except Exception:  # noqa: BLE001 - counted and reported
                self._fail(f"{item} (pass {n})")
            finally:
                rec["persisted"] += self._release()
        shutil.rmtree(item_dir, ignore_errors=True)

    def _op(self, n: int, op: str, check: bool, rec: dict, ps: int):
        mode = W.LIVE[self.workload][op][1]
        name = f"perfbench_{op}_{n}"
        ckpt = os.path.join(self.work, "ckpt", f"{n}-{op}")
        with self.spans.span(op, ps, module="streaming.live") as s:
            try:
                t0 = time.time()
                sdf = W.build_live(op, self.spark, self.in_dir)
                q = (sdf.writeStream.format("memory").queryName(name)
                     .outputMode(mode).option("checkpointLocation", ckpt)
                     .trigger(availableNow=True).start())
                q.awaitTermination()
                drain_s = time.time() - t0
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))
                progress = [p for p in q.recentProgress
                            if p["numInputRows"] > 0]
                for p in progress:
                    start = progress_time(p)
                    self.spans.add(f"micro-batch {p['batchId']}", start,
                                   start + p["batchDuration"] / 1e3, s)
                rec["ops"][op] = {"drain_s": drain_s, "progress": progress}
                if check:
                    c0 = time.time()
                    self.outputs[op] = self.spark.table(name).toPandas()
                    rec["check_s"] += time.time() - c0
            except Exception:  # noqa: BLE001 - counted and reported
                self._fail(f"{op} (pass {n})")
            finally:
                for q in self.spark.streams.active:
                    q.stop()
                self.spark.catalog.dropTempView(name)
                shutil.rmtree(ckpt, ignore_errors=True)

    def run_pass(self, n: int) -> dict:
        """Pass ``n``: every batch item, then every live op.  Pass 0, the
        cold pass, keeps the items' outputs for the check and runs no live
        op: an op costs the same on its first drain as on later ones, and
        its first drain keeps its output.  Keeping outputs is excluded
        from ``wall_s``."""
        rec = {"items": {}, "ops": {}, "check_s": 0.0, "persisted": 0,
               "snapshot_bytes": 0}
        with self.spans.span(f"pass {n}", self.parent) as ps:
            t0 = time.time()
            for item in W.BATCH[self.workload]:
                self.attempted += 1
                self._item(n, item, n == 0, rec, ps)
            for op in W.LIVE[self.workload] if n else ():
                self.attempted += 1
                self._op(n, op, op not in self.outputs, rec, ps)
            rec["wall_s"] = time.time() - t0 - rec["check_s"]
        return rec

    def check_outputs(self) -> None:
        """Compare every kept output with its oracle on the generated
        inputs; a mismatch or a missing output is a failure."""
        import __spark_entry__
        import oracle
        sqls = __spark_entry__.oracle_sql()
        want = {i: (W.SNAPSHOT_ORACLE if i == "snapshot_build" else sqls[i])
                for i in W.BATCH[self.workload]}
        want.update({op: sqls[twin] for op, (twin, _)
                     in W.LIVE[self.workload].items()})
        con = oracle.connect(self.in_dir)
        try:
            for name, sql in want.items():
                self.attempted += 1
                if name not in self.outputs:
                    self.failures.append(f"{name}: no output to check")
                    continue
                why = oracle.mismatch(self.outputs[name],
                                      con.execute(sql).df())
                if why is not None:
                    self.failures.append(f"{name}: oracle mismatch: {why}")
                    print(f"perfbench: MISMATCH {name}: {why}",
                          file=sys.stderr)
        finally:
            con.close()


# -- metrics ----------------------------------------------------------------

def _results(p: dict) -> list[float]:
    """Time from the start of each item or op to its complete result."""
    return ([r["build_s"] + r["exec_s"] for r in p["items"].values()]
            + [o["drain_s"] for o in p["ops"].values()])


def end_to_end(setup_s: float, warm: list[dict]) -> dict:
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "pass_s": {"value": _median([p["wall_s"] for p in warm]),
                   "unit": "s"},
    }


def _per_pass(warm: list[dict], fn) -> float:
    return _median([fn(p) for p in warm])


def batch_layers(workload: str, warm: list[dict]) -> dict[str, float]:
    """Per-pass sums over each layer's items, median over warm passes."""
    owner = W.BATCH[workload]
    return {f"{layer}.{k}": _per_pass(warm, lambda p: sum(
        r[k] for i, r in p["items"].items() if owner[i] == layer))
        for layer in W.LAYERS
        for k in ("build_s", "build_jobs", "exec_s", "exec_jobs")}


def traced_layers(workload: str, events: dict, traced: dict,
                  cores: int) -> dict[str, float]:
    """Per-layer Spark counters from the event log of the traced pass
    (pass 1 of the traced session)."""
    owner = W.BATCH[workload]
    keys = ("stages", "tasks", "executor_run_s", "executor_cpu_s",
            "shuffle_write_bytes", "spill_bytes", "python_s")
    out = {}
    for layer in W.LAYERS:
        items = [i for i, m in owner.items() if m == layer]

        def total(k, phases=("build", "execute")):
            return sum(events.get((f"{workload}:{i}:{ph}", "pass=1"),
                                  {}).get(k, 0)
                       for i in items for ph in phases)
        for k in keys:
            out[f"{layer}.{k}"] = total(k)
        exec_s = sum(traced["items"][i]["exec_s"] for i in items
                     if i in traced["items"])
        out[f"{layer}.slot_idle_frac"] = (
            1.0 - total("executor_run_s", ("execute",)) / (exec_s * cores)
            if exec_s else 0.0)
    return out


def live_layers(warm: list[dict], rows: int) -> dict[str, float]:
    """``streaming.live`` metrics from the progress reports: medians over
    the data-carrying micro-batches of the warm passes; state size at
    the end of the last pass; late rows dropped in the last pass."""
    batches = [b for p in warm for o in p["ops"].values()
               for b in o["progress"]]
    last = [o["progress"] for o in warm[-1]["ops"].values()]

    def dur(*ks):
        return _median([sum(b["durationMs"].get(k, 0) for k in ks) / 1e3
                        for b in batches])

    def state(b, k):
        return sum(s.get(k, 0) for s in b.get("stateOperators") or ())
    drain_s = _per_pass(warm, lambda p: sum(o["drain_s"]
                                            for o in p["ops"].values()))
    return {
        "streaming.live.drain_s": drain_s,
        "streaming.live.drain_rows_per_s": (
            rows * len(last) / drain_s if drain_s else 0.0),
        "streaming.live.batch_s.p50": dur("triggerExecution"),
        "streaming.live.batch_add_s": dur("addBatch"),
        "streaming.live.batch_commit_s": dur("walCommit", "commitOffsets"),
        "streaming.live.batch_plan_s": dur("queryPlanning"),
        "streaming.live.state_commit_s": _median(
            [state(b, "commitTimeMs") / 1e3 for b in batches]),
        "streaming.live.state_rows": sum(state(p[-1], "numRowsTotal")
                                         for p in last if p),
        "streaming.live.state_mem_bytes": sum(
            state(p[-1], "memoryUsedBytes") for p in last if p),
        "streaming.live.rows_late_dropped": sum(
            state(b, "numRowsDroppedByWatermark") for p in last for b in p),
    }


#: unit of each per-layer metric, by the name's last component
UNITS = {
    "build_s": "s", "build_jobs": "count", "exec_s": "s",
    "exec_jobs": "count", "stages": "count", "tasks": "count",
    "executor_run_s": "s", "executor_cpu_s": "s",
    "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "python_s": "s",
    "slot_idle_frac": "ratio", "drain_s": "s", "drain_rows_per_s": "rows/s",
    "p50": "s", "batch_add_s": "s", "batch_commit_s": "s",
    "batch_plan_s": "s", "state_commit_s": "s", "state_rows": "count",
    "state_mem_bytes": "bytes", "rows_late_dropped": "count",
    "session_s": "s", "persisted": "count", "bytes_written": "bytes",
}


# -- running ----------------------------------------------------------------

def _confine(root: str, work: str) -> None:
    """Keep every file the run writes inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} -Djava.io.tmpdir={tmp}"
        " -XX:-UsePerfData").strip()
    # Python workers import the program from the checkout root, and the
    # live ops' fold functions from here
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, HERE, os.environ.get("PYTHONPATH")) if p)
    import tempfile
    tempfile.tempdir = None
    sys.path.insert(0, root)


def _session(cores: int, conf: dict | None = None):
    from scespet_spark.engine import get_spark
    t0 = time.time()
    spark = get_spark(app_name="perfbench", cpus=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.time() - t0


def _passes(spark, workload, in_dir, work, spans, parent, seconds, t0):
    """The cold pass (outputs kept), then warm passes for ``seconds``."""
    bench = Bench(spark, workload, in_dir, work, spans, parent)
    cold = bench.run_pass(0)
    setup_s = time.time() - t0 - cold["check_s"]
    _log(f"cold pass: setup_s={setup_s:.2f}")
    warm, t_w = [], time.time()
    while not warm or time.time() - t_w < seconds:
        warm.append(bench.run_pass(len(warm) + 1))
        _log(f"warm pass {len(warm)}: {warm[-1]['wall_s']:.2f}s")
    return bench, setup_s, cold, warm


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def execute(workload: str, seed: int, seconds: float, trace: bool,
            root: str, work: str, sizes: dict) -> dict:
    _confine(root, work)
    cores = len(os.sched_getaffinity(0))
    in_dir = os.path.join(work, "in")
    info = gen.write(workload, seed, in_dir, sizes)
    rows = sum(info["rows"].values())
    print(f"inputs {workload} seed={seed} rows={info['rows']} "
          f"digest={info['digest']}", flush=True)

    spans = Spans()
    with spans.span("run", workload=workload, seed=seed) as rs:
        t0 = time.time()
        spark, session_s = _session(cores)
        try:
            bench, setup_s, cold, warm = _passes(
                spark, workload, in_dir, work, spans, rs, seconds, t0)
            if trace:
                # one more pass in a fresh session with the event log on
                spark.stop()
                logs = os.path.join(work, "eventlog")
                os.makedirs(logs)
                spark, _ = _session(cores, {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + logs,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                })
                tbench = Bench(spark, workload, in_dir, work, spans, rs)
                tbench.outputs = bench.outputs
                traced = tbench.run_pass(1)
                _log(f"traced pass: {traced['wall_s']:.2f}s")
        finally:
            _stop(spark)
        if trace:
            events: dict = {}
            for d, _, files in os.walk(logs):
                for f in files:
                    events.update(read_event_log(os.path.join(d, f)))
    bench.check_outputs()
    _log("oracle check done")

    benches = [bench] + ([tbench] if trace else [])
    failures = [f for b in benches for f in b.failures]
    attempted = sum(b.attempted for b in benches)
    layers = batch_layers(workload, warm)
    layers.update(live_layers(warm, rows))
    layers["engine.session_s"] = session_s
    layers["operators._cache.persisted"] = _per_pass(
        warm, lambda p: p["persisted"])
    layers["operators.snapshot.bytes_written"] = _per_pass(
        warm, lambda p: p["snapshot_bytes"])
    metrics = end_to_end(setup_s, warm)
    summary = {
        "workload": workload, "seed": seed, "cores": cores,
        "inputs": info["rows"], "digest": info["digest"],
        "warm_passes": len(warm),
        "result_s.p50": _median([t for p in warm for t in _results(p)]),
        "result_samples": sum(len(_results(p)) for p in warm),
        "failed_frac": len(failures) / attempted, "failures": failures,
        "metrics": metrics, "cold": cold, "warm": warm,
    }
    if trace:
        layers.update(traced_layers(workload, events, traced, cores))
        summary["tracing_overhead_s"] = (traced["wall_s"]
                                         - metrics["pass_s"]["value"])
        summary["traced_pass"] = traced
    summary["layers"] = layers
    return {"summary": summary, "spans": spans, "failed": len(failures),
            "attempted": attempted}


def run(workload: str, seed: int, seconds: float, trace: bool, root: str,
        sizes: dict | None = None) -> dict:
    """One run in a work directory under ``perfbench/_work`` (removed
    afterwards); the spans and the detailed result are written to
    ``perfbench/_out``."""
    out_dir = os.path.join(HERE, "_out")
    work = os.path.join(HERE, "_work", f"{workload}-{seed}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    try:
        res = execute(workload, seed, seconds, trace, root, work,
                      sizes or gen.SIZES)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    tag = f"{workload}-{seed}-trace{int(trace)}"
    res["spans"].write(os.path.join(out_dir, f"spans-{tag}.json"))
    with open(os.path.join(out_dir, f"result-{tag}.json"), "w") as f:
        json.dump(res["summary"], f, default=str)
    return res


def report(res: dict, trace: bool) -> dict:
    """Print the summary lines; returns the result object: the
    end-to-end metrics, or with ``trace`` the per-layer ones."""
    s = res["summary"]
    print(f"summary {s['workload']} seed={s['seed']}: failed_frac="
          f"{s['failed_frac']:.4f} ({res['failed']}/{res['attempted']}) "
          f"warm_passes={s['warm_passes']} " + " ".join(
              f"{k}={v['value']:.6g}{v['unit']}"
              for k, v in s["metrics"].items())
          + f" result_s.p50={s['result_s.p50']:.6g}s (of "
          f"{s['result_samples']} results)", flush=True)
    for f in s["failures"]:
        print(f"failed: {f}", flush=True)
    if trace:
        print(f"tracing overhead: {s['tracing_overhead_s']:+.4f} s per pass "
              "(traced pass minus untraced pass_s)", flush=True)
        metrics = {k: {"value": v, "unit": UNITS[k.rsplit(".", 1)[-1]]}
                   for k, v in s["layers"].items()}
    else:
        metrics = s["metrics"]
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def program_root() -> str | None:
    """The working directory, if it is a checkout of the program."""
    root = os.getcwd()
    if (os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(root, "scespet_spark"))):
        return root
    print("perfbench: run from the root of a checkout of the program "
          "(__spark_entry__.py and scespet_spark/ not found)",
          file=sys.stderr)
    return None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = program_root()
    if root is None:
        return 2
    res = run(args.workload, args.seed, args.seconds, bool(args.trace), root)
    print(json.dumps(report(res, bool(args.trace))), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
