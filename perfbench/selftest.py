#!/usr/bin/env python3
"""Self-test of the benchmark on tiny inputs (``gen.TINY``).

    python3 perfbench/selftest.py

Run from the root of a checkout; takes a few minutes.  It checks that:

* the same seed gives the same input digest and another seed another one;
* a traced ``cep_replay`` run passes every oracle check and prints every
  per-layer metric ``BENCHMARK.json`` declares, with its unit;
* an untraced ``corpus_curation`` run prints every end-to-end metric with
  its unit, and when one item's output is deliberately altered (one row
  duplicated) exactly that item is counted as failed.

Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402

ALTERED = "lang_id_classifier"


def _declared(root: str, kind: str) -> dict[str, str]:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _printed(result: dict) -> dict[str, str]:
    return {k: v["unit"] for k, v in result["metrics"].items()}


def main() -> int:
    root = run.program_root()
    if root is None:
        return 2
    failed = []

    def check(ok: bool, what: str) -> None:
        print(f"{'PASS' if ok else 'FAIL'} {what}", flush=True)
        if not ok:
            failed.append(what)

    for w in W.WORKLOADS:
        a, b, c = (gen.digest(gen.build(w, s, gen.TINY)) for s in (1, 1, 2))
        check(a == b, f"{w}: the same seed gives the same digest")
        check(a != c, f"{w}: another seed gives another digest")

    res = run.run("cep_replay", 1, 0, True, root, gen.TINY)
    out = run.report(res, True)
    check(out["correct"] and out["failed"] == 0,
          f"cep_replay: every oracle check passes "
          f"({res['summary']['failures']})")
    check(_printed(out) == _declared(root, "per_layer"),
          "cep_replay --trace 1: every per-layer metric, with its unit")

    build = W.build_batch

    def altered(name, spark, in_dir, item_dir):
        df = build(name, spark, in_dir, item_dir)
        return df.union(df.limit(1)) if name == ALTERED else df
    W.build_batch = altered
    try:
        res = run.run("corpus_curation", 1, 0, False, root, gen.TINY)
    finally:
        W.build_batch = build
    out = run.report(res, False)
    check(_printed(out) == _declared(root, "end_to_end"),
          "corpus_curation --trace 0: every end-to-end metric, with its unit")
    fails = res["summary"]["failures"]
    check(out["failed"] == 1 and not out["correct"]
          and fails[0].startswith(f"{ALTERED}: oracle mismatch"),
          f"corpus_curation: the altered {ALTERED} output, and only it, "
          f"counts as failed ({fails})")

    print(f"selftest: {'FAILED ' + str(failed) if failed else 'all passed'}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
