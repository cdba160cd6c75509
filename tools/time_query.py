#!/usr/bin/env python
"""Time individual declared queries with the bench's exact methodology
(noop sink, min of N samples, per-query cache release) and optionally
dump .explain('formatted') to a file.

Usage:
  python tools/time_query.py [--sf DIR] [--n N] [--explain-dir DIR] q1 q2 ...

Each sample is timed in two phases: *build* (the call that constructs
the DataFrame, with any model fits and censuses it runs) and *exec* (the
noop-sink write).  Prints one line per query: name, min total seconds,
then per sample the build and exec seconds, the Spark jobs each phase
started and the classes codegen compiled during the sample.  A warm
session that re-runs a query should compile nothing.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from scespet_spark import get_spark  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                                   "/root/testdata/sf0.1"))
    ap.add_argument("--n", type=int, default=3)
    ap.add_argument("--explain-dir", default=None)
    args = ap.parse_args()

    spark = get_spark(app_name="scespet-spark-timeq")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()

    # same warm-up as bench.py
    queries["q1_pricing_summary"](spark, args.sf).write.format("noop").mode(
        "overwrite").save()
    import pandas as pd  # noqa: F401
    warm = spark.range(10_000, numPartitions=64)
    warm.mapInPandas(lambda it: it, "id long").write.format("noop").mode(
        "overwrite").save()
    from scespet_spark.sources.batch import TABLES, load_table
    for tbl in TABLES:
        load_table(spark, args.sf, tbl).write.format("noop").mode(
            "overwrite").save()

    from scespet_spark.operators import dedup, similarity, text
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())
    for name in args.names:
        samples = []
        for i in range(args.n):
            group = f"timeq-{name}-{i}"
            c0 = compiles.getCount()
            sc.setJobGroup(f"{group}:build", f"timeq: {name}")
            t0 = time.time()
            df = queries[name](spark, args.sf)
            t1 = time.time()
            sc.setJobGroup(f"{group}:exec", f"timeq: {name}")
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            samples.append({
                "build": round(t1 - t0, 3), "exec": round(t2 - t1, 3),
                "build_jobs": len(tracker.getJobIdsForGroup(f"{group}:build")),
                "exec_jobs": len(tracker.getJobIdsForGroup(f"{group}:exec")),
                "compiles": compiles.getCount() - c0})
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            df = queries[name](spark, args.sf)
            with open(os.path.join(args.explain_dir, f"{name}.txt"),
                      "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        dedup.release_cached()
        similarity.release_cached()
        text.release_cached()
        total = min(x["build"] + x["exec"] for x in samples)
        print(f"{name}: min={total:.3f}  " + "  ".join(
            f"{k}={[x[k] for x in samples]}" for k in samples[0]), flush=True)


if __name__ == "__main__":
    main()
