"""The workloads: what each one runs and which module owns it.

Every batch item is a registered query of ``__spark_entry__.queries()``
except ``snapshot_build``, which calls ``operators.snapshot.write_snapshot``
the way the artifact-serving queries' per-process snapshot job does.
Every live op is built with ``streaming.live.LiveStream`` over the drop
directory and started by the benchmark itself, so it can read the
query's ``recentProgress``.

An item is attributed to the module whose public functions it calls;
those module names are the per-layer metric prefixes.
"""

from __future__ import annotations

import os

#: batch items per workload -> owning module
BATCH = {
    "cep_replay": {
        "by_reduce_total": "core.stream",
        "scan_running_sum": "core.stream",
        "group_count_reduce": "core.stream",
        "slice_before_signup": "core.stream",
        "window_gated_reduce": "core.stream",
        "zip_click_purchase": "core.stream",
        "session_windows_user": "core.stream",
        "ewma_final_per_user": "functions.reducers",
        "bucket_collapse_stats": "operators.buckets",
        "zip_keymap_region_value": "core.stream",
    },
    "corpus_curation": {
        "dedup_minhash_lsh": "operators.dedup",
        "dedup_semantic": "operators.similarity",
        "lang_id_classifier": "operators.text",
        "bpe_tokenize_docs": "operators.tokenizer",
        "filter_funnel_report": "operators.pipeline",
        "snapshot_build": "operators.snapshot",
    },
}

#: live ops per workload -> (batch twin whose oracle checks the op's final
#: output, sink output mode); they run after the batch items of a pass
LIVE = {
    "cep_replay": {
        "scan_state_running_sum": ("scan_running_sum", "append"),
    },
    "corpus_curation": {},
}

LAYERS = (
    "core.stream", "functions.reducers", "operators.buckets",
    "operators.dedup", "operators.similarity", "operators.text",
    "operators.tokenizer", "operators.pipeline", "operators.snapshot",
)
WORKLOADS = tuple(BATCH)

SNAPSHOT_BANDS = 4  # write_snapshot's default ``bands``


def build_batch(name: str, spark, in_dir: str, item_dir: str):
    """Construct item ``name``; returns the DataFrame to execute, or
    ``None`` for ``snapshot_build``, whose construction is the write."""
    if name == "snapshot_build":
        from pyspark.sql import functions as F
        from scespet_spark.operators.snapshot import write_snapshot
        from scespet_spark.sources.batch import load_table
        prior = load_table(spark, in_dir, "documents").filter(
            F.col("doc_id") % 3 == 0)
        write_snapshot(os.path.join(item_dir, "snap"), docs=prior,
                       cluster_labels=True, doc_freq=True,
                       doc_families=("bands",), bloom_fpp=0.01)
        return None
    import __spark_entry__
    return __spark_entry__.queries()[name](spark, in_dir)


def snapshot_check(spark, in_dir: str, item_dir: str) -> dict[str, int]:
    """What the ``snapshot_build`` oracle predicts: the band table holds
    one row per (prior doc, band), and every cluster label belongs to a
    prior doc."""
    from pyspark.sql import functions as F
    from scespet_spark.operators.snapshot import read_clusters, read_snapshot
    from scespet_spark.sources.batch import load_table
    snap = os.path.join(item_dir, "snap")
    prior = load_table(spark, in_dir, "documents").filter(
        F.col("doc_id") % 3 == 0).select(F.col("doc_id").alias("id"))
    return {"band_rows": read_snapshot(spark, snap)["bands"].count(),
            "stray_labels": read_clusters(spark, snap).join(
                prior, "id", "left_anti").count()}


SNAPSHOT_ORACLE = f"""
SELECT COUNT(*) * {SNAPSHOT_BANDS} AS band_rows, 0 AS stray_labels
FROM documents WHERE doc_id % 3 = 0
"""


def _cents_running_sum(st, pdf):
    # the per-key fold of live_scan_running_sum: integer cents keep the
    # running decimal sum exact across micro-batches
    import numpy as np
    run = st["acc"] + np.cumsum(
        np.round(pdf["value"].to_numpy(dtype="float64") * 100))
    st["acc"] = float(run[-1])
    out = pdf[["event_id", "ts"]].copy()
    out["running_total"] = run / 100.0
    return out


def build_live(name: str, spark, in_dir: str):
    """The streaming DataFrame of live op ``name`` over the drop files of
    ``in_dir/events.parquet/``, one drop per micro-batch."""
    from scespet_spark.streaming.live import LiveStream
    if name != "scan_state_running_sum":
        raise KeyError(name)
    return (LiveStream.from_events(spark, in_dir).by("user_id")
            .scan_state({"acc": 0.0}, _cents_running_sum,
                        "user_id long, event_id long, ts timestamp, "
                        "running_total double")
            .df.select("event_id", "ts", "user_id", "running_total"))
