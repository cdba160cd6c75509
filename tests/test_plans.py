"""Physical-plan invariants — the scale contract, asserted.

Correctness tests prove the operators compute the right answer at small
scale; these tests prove the *plans* are the ones that survive a 100x
scale-up: no cartesian products anywhere, Python only via Arrow-batched
operators (never row-at-a-time BatchEvalPython), filters pushed into the
parquet scan, unneeded columns pruned, and small dimension tables
broadcast instead of shuffled.
"""

import contextlib
import importlib
import io

import pytest

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def entry():
    return importlib.import_module("__spark_entry__")


@pytest.fixture(autouse=True)
def _production_constraint_propagation(spark):
    """Plans here are asserted under the optimizer production sessions
    run: ``engine.get_spark`` leaves constraint propagation on (it
    infers the IsNotNull filters pushed into scans), while the shared
    test session turns it off for speed (conftest.py)."""
    key = "spark.sql.constraintPropagation.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def test_no_cartesian_no_row_python_anywhere(spark, all_query_dfs):
    """Every declared query plans without CartesianProduct (quadratic
    shuffle — fatal at scale) and without BatchEvalPython (row-at-a-time
    Python UDF — the 10-100x-slower non-Arrow path).  Queries come from
    the session-shared construction fixture (building all ~250 — model
    fits included — is the expensive part, and the schema-pin sweep
    needs the same set)."""
    violations = {}
    for name, df in all_query_dfs.items():
        plan = _plan(df)
        hits = [op for op in ("CartesianProduct", "BatchEvalPython")
                if op in plan]
        if hits:
            violations[name] = hits
    assert not violations, violations


def test_q1_scan_prunes_and_pushes(spark, entry):
    """q1 touches 7 of lineitem's 16 columns; the parquet scan must read
    only those (ReadSchema pruning).  A scan reading all columns for a
    narrow aggregate is wrong at any scale (SURVEY: 100TB goal)."""
    plan = _plan(entry.queries()["q1_pricing_summary"](spark, SF))
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read, plan
    line_schema = next(l for l in read if "l_quantity" in l)
    n_cols = line_schema.count(":")
    assert n_cols <= 7, line_schema


def test_q3_broadcasts_dims_and_pushes_filters(spark, entry):
    """The multi-join queries must broadcast the small sides (no
    SortMergeJoin of a dim against the fact at this size) and push the
    dim filters into the scans."""
    plan = _plan(entry.queries()["region_revenue"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [IsNotNull" in plan


def test_events_scan_pushes_type_filter(spark, entry):
    """A filtered event query pushes the event_type predicate into the
    parquet scan (partition/rowgroup pruning at scale)."""
    plan = _plan(entry.queries()["filter_type_purchase"](spark, SF))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("event_type" in l for l in pushed), pushed

def test_jaccard_verifies_candidates_not_all_pairs(spark, entry):
    """dedup_ngram_jaccard must verify LSH candidate pairs (id-equi-joins)
    rather than a blocked all-pairs self-join: no join in the plan may
    key on the fixed-cardinality lang column (O(n^2/|langs|) at scale)."""
    plan = _plan(entry.queries()["dedup_ngram_jaccard"](spark, SF))
    join_lines = [l for l in plan.splitlines()
                  if "Join" in l or "join" in l.lower()]
    assert not any("lang" in l for l in join_lines), join_lines
    assert "id_a" in plan and "id_b" in plan


def test_embedding_near_dup_blocks_on_lsh_code(spark, entry):
    """dedup_embedding_cosine must block on the computed sign-LSH coarse
    code (cardinality scales by construction), never the fixed label."""
    plan = _plan(entry.queries()["dedup_embedding_cosine"](spark, SF))
    join_lines = [l for l in plan.splitlines() if "Join" in l]
    assert not any("label" in l for l in join_lines), join_lines
    assert "__blk" in plan


def test_decontaminate_broadcasts_eval_side(spark, entry):
    """The eval n-gram set must broadcast (benchmarks are MBs); the train
    corpus must never be the shuffled side of the overlap join."""
    plan = _plan(entry.queries()["decontaminate_eval_overlap"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_shuffle_deterministic_has_no_global_sort(spark, entry):
    """Deterministic shuffle assigns shard + sort key without a global
    sort barrier (no range-partitioning exchange)."""
    plan = _plan(entry.queries()["shuffle_deterministic_shards"](spark, SF))
    assert "rangepartitioning" not in plan.lower()
    assert "SinglePartition" not in plan


def test_corpus_idf_never_shuffles_text(spark, entry):
    """text_corpus_idf shuffles (token, id) pairs and the vocabulary
    table — the text column must not appear in any Exchange input (it
    would ship the whole corpus twice)."""
    plan = _plan(entry.queries()["text_corpus_idf"](spark, SF))
    lines = plan.splitlines()
    for i, l in enumerate(lines):
        if l.strip().startswith("Input") and "text#" in l:
            # find the nearest preceding operator header
            hdr = next(x for x in reversed(lines[:i]) if x.strip().startswith("("))
            assert "Exchange" not in hdr, (hdr, l)


def test_source_quota_broadcasts_counts(spark, entry):
    """sample_source_quota's count-derived cutoff is one row per source:
    it must broadcast-join (a map-side filter), never sort-merge."""
    plan = _plan(entry.queries()["sample_source_quota"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pq_broadcasts_codebooks_and_lut(spark, entry):
    """ann_pq_adc_topk: centroids/LUT/shortlist are tiny — every join in
    the serving path must be broadcast; the corpus is never the shuffled
    side."""
    plan = _plan(entry.queries()["ann_pq_adc_topk"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_minhash_reads_only_id_and_text(spark, entry):
    """dedup_minhash_lsh projects (doc_id, text) before hashing: the scan
    must prune the other document columns."""
    plan = _plan(entry.queries()["dedup_minhash_lsh"](spark, SF))
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert reads
    for l in reads:
        assert "source" not in l and "lang" not in l, l


def test_broadcast_asof_never_shuffles_fact_side(spark, entry):
    """asof_broadcast_purchase_last_click: the only (non-broadcast)
    Exchange allowed is the small state side's interval window — the
    fact stream must reach its BroadcastHashJoin unshuffled."""
    plan = _plan(entry.queries()["asof_broadcast_purchase_last_click"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    headers = [l for l in plan.splitlines()
               if l.strip().startswith("(") and "Exchange" in l]
    shuffles = [h for h in headers if "BroadcastExchange" not in h]
    assert len(shuffles) <= 1, shuffles


def test_q6_pushes_all_filters(spark, entry):
    """q6 is the pushdown showcase: shipdate range, discount range, and
    quantity predicates must all reach the parquet scan."""
    plan = _plan(entry.queries()["q6_forecast_revenue"](spark, SF))
    pushed = " ".join(l for l in plan.splitlines() if "PushedFilters" in l)
    for c in ("l_shipdate", "l_discount", "l_quantity"):
        assert c in pushed, (c, pushed)


def test_keymap_take_no_prewindow_replication(spark, entry):
    """keymap_take_region_value compiles to the compact interval join:
    the only Window sorts LEFT rows (no Union of both streams feeding a
    window, which is the zip form's replicate-then-sort shape), and
    right rows reach the join unreplicated."""
    plan = _plan(entry.queries()["keymap_take_region_value"](spark, SF))
    assert "Union" not in plan, "right events replicated into the window"
    assert plan.count("Window") >= 1


def test_single_fact_scan_for_derived_relation_queries(spark, entry):
    """Q2/Q11/Q17/Q21 reference a derived relation (per-part min/avg,
    global threshold, per-order supplier sets) that a naive plan
    recomputes — scanning lineitem once per reference.  The window-based
    forms must scan each fact table exactly once."""
    for name, table_col in [
        ("q2_min_cost_supplier", "l_partkey"),
        ("q11_important_stock", "l_partkey"),
        ("q17_small_quantity_revenue", "l_partkey"),
        ("q21_waiting_suppliers", "l_orderkey"),
    ]:
        plan = _plan(entry.queries()[name](spark, SF))
        # formatted explain names the file only in each scan's detail
        # block ("Location: ... lineitem.parquet")
        li_scans = [l for l in plan.splitlines()
                    if "Location" in l and "lineitem" in l]
        assert len(li_scans) == 1, (name, li_scans)


def test_mixture_sample_is_map_side_only(spark, entry):
    """mixture_sample: the per-source cutoffs (one row per declared
    source) must broadcast; the corpus itself is filtered in place — no
    sort-merge join and no exchange of the document rows (the only
    exchanges belong to the #sources-row count aggregation)."""
    plan = _plan(entry.queries()["mixture_sample_sources"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the corpus text column must never enter an Exchange (the count
    # agg exchanges only (source, count) rows)
    lines = plan.splitlines()
    for i, l in enumerate(lines):
        if l.strip().startswith("Input") and "text#" in l:
            hdr = next(x for x in reversed(lines[:i])
                       if x.strip().startswith("("))
            assert "Exchange" not in hdr, (hdr, l)


def test_incremental_dedup_shuffles_digests_not_text(spark, entry):
    """dedup_incremental anti-joins digest-vs-digest: raw text must not
    appear in any Exchange input (only (content_hash, id) rows move),
    and the within-batch first-wins is an aggregate, not a window sort."""
    plan = _plan(entry.queries()["dedup_incremental"](spark, SF))
    assert "LeftAnti" in plan, plan
    lines = plan.splitlines()
    for i, l in enumerate(lines):
        if l.strip().startswith("Input") and "text#" in l:
            hdr = next(x for x in reversed(lines[:i])
                       if x.strip().startswith("("))
            assert "Exchange" not in hdr, (hdr, l)
    assert "Window" not in plan


def test_segment_dedup_election_shuffles_ints_only(spark, entry):
    """dedup_segments: the winner election (groupBy segment digest) and
    the kept-list rollup must shuffle int rows only — no text and no
    token array may enter a HASH-partitioned Exchange.  (The one
    round-robin `_spread` repartition may carry the scan rows: it is
    the documented small-file parallelism fix that vanishes when the
    scan is already parallel.)  Election must be a combinable min-agg,
    never a window sort."""
    plan = _plan(entry.queries()["dedup_segments"](spark, SF))
    lines = plan.splitlines()
    for i, l in enumerate(lines):
        if l.strip().startswith("Input") and ("text#" in l or "__t#" in l):
            hdr = next(x for x in reversed(lines[:i])
                       if x.strip().startswith("("))
            if "Exchange" in hdr:
                args = next(x for x in lines[i:]
                            if x.strip().startswith("Arguments"))
                assert "hashpartitioning" not in args, (hdr, l, args)
    assert "Window" not in plan
    assert "partial_min" in plan  # map-side combinable election


def test_top_ngrams_windows_count_table_not_facts(spark, entry):
    """top_ngrams_source: the n-gram count must be a partial/final
    hash aggregate (map-side combine absorbs the Zipf head) and the
    rank window must sit ABOVE the final aggregate — the window sort
    runs over the count table, never the exploded fact rows."""
    plan = _plan(entry.queries()["top_ngrams_source"](spark, SF))
    assert "partial_count" in plan or "partial_count_distinct" in plan, plan
    assert "Window" in plan
    # in the tree section the Window node must appear ABOVE (before)
    # the Generate (explode) node that produces the n-gram rows
    tree = plan.split("(1) ")[0]
    assert tree.index("Window") < tree.index("Generate"), tree


def test_contamination_fraction_broadcasts_eval_digests(spark, entry):
    """contamination_fraction: the eval digest set must broadcast (a
    map-side pass over the corpus) and the corpus text must never enter
    an Exchange — only digests and ids move."""
    plan = _plan(entry.queries()["contamination_fraction_docs"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    lines = plan.splitlines()
    for i, l in enumerate(lines):
        if l.strip().startswith("Input") and "text#" in l:
            hdr = next(x for x in reversed(lines[:i])
                       if x.strip().startswith("("))
            if "Exchange" in hdr:
                args = next(x for x in lines[i:]
                            if x.strip().startswith("Arguments"))
                assert "hashpartitioning" not in args, (hdr, l, args)


def test_semantic_dedup_joins_cells_never_cross(spark, entry):
    """dedup_semantic: the pair check must be a cell equi-join (the
    SemDeDup blocking), never a cartesian product over the corpus."""
    plan = _plan(entry.queries()["dedup_semantic"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "cell" in plan


def test_cube_expands_cells_not_facts(spark, entry):
    """cube_returnflag_status pre-aggregates the fact scan to the base
    (returnflag, linestatus) cells before CUBE, so Expand multiplies a
    handful of cell rows instead of 4x the fact rows.  The plan must
    show Expand fed by a completed aggregate (4 HashAggregates: pre-agg
    partial+final below Expand, cube partial+final above), never Expand
    directly over the scan."""
    plan = _plan(entry.queries()["cube_returnflag_status"](spark, SF))
    assert plan.count("Expand") >= 1
    assert plan.count("HashAggregate") >= 4, plan
    # the tree section indents children under parents: Expand's direct
    # child must be a HashAggregate, not the parquet scan
    lines = plan.splitlines()
    for i, l in enumerate(lines):
        if "Expand" in l and "(" in l and i + 1 < len(lines):
            assert "HashAggregate" in lines[i + 1], lines[i:i + 2]
            break


def test_ivf_assign_is_map_only(spark, entry):
    """Incremental IVF assignment must be a map-only Arrow plan: the
    centroid matrix rides the UDF closure (driver-held model state), so
    the vector side never shuffles — no Exchange, no window-argmax over
    K scored rows per vector."""
    from pyspark.sql import functions as F
    from scespet_spark.operators.similarity import (ivf_assign,
                                                    label_centroids)
    from scespet_spark.sources.batch import load_table
    emb = load_table(spark, SF, "embeddings")
    cents = label_centroids(emb)
    plan = _plan(ivf_assign(emb, cents))
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" in plan
    assert "Window" not in plan


def test_substring_dedup_election_shuffles_ints_only(spark, entry):
    """dedup_substring: the first-occurrence election (groupBy gram
    digest) must shuffle (digest, id, pos) int rows only — neither the
    document text nor the token array may enter a HASH-partitioned
    Exchange (the `_spread` round-robin of the raw scan is the
    documented small-file exception).  Election must be a combinable
    min-agg pre-filtered to repeated digests, never a window sort."""
    plan = _plan(entry.queries()["dedup_substring"](spark, SF))
    lines = plan.splitlines()
    for i, l in enumerate(lines):
        if l.strip().startswith("Input") and ("text#" in l or "__t#" in l
                                              or "__toks#" in l):
            hdr = next(x for x in reversed(lines[:i])
                       if x.strip().startswith("("))
            if "Exchange" in hdr:
                args = next(x for x in lines[i:]
                            if x.strip().startswith("Arguments"))
                assert "hashpartitioning" not in args, (hdr, l, args)
    assert "Window" not in plan
    assert "partial_min" in plan


def test_quality_classifier_apply_broadcasts_weights(spark, entry):
    """text_quality_classifier: the weight attach must be a broadcast
    join (the model is <= n_buckets+2 rows — shuffling the exploded
    token table against it would move the corpus), and no row-at-a-time
    Python may appear anywhere in fit or apply."""
    plan = _plan(entry.queries()["text_quality_classifier"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_pca_project_is_map_only(spark, entry):
    """pca_project: the component matrix rides the Arrow closure
    (driver-held model), so the vector side never shuffles — no
    Exchange, no join, one MapInPandas."""
    from scespet_spark.operators.similarity import pca_fit, pca_project
    from scespet_spark.sources.batch import load_table
    emb = load_table(spark, SF, "embeddings")
    plan = _plan(pca_project(emb, pca_fit(emb), k=8))
    assert "Exchange" not in plan, plan
    assert "MapInPandas" in plan
    assert "Join" not in plan


def test_key_skew_top_n_is_take_ordered(spark, entry):
    """key_skew_report: the only corpus shuffle is the count aggregate
    (map-side partials), the top-N is a distributed TakeOrdered (never
    a global sort of the key table), and the totals attach broadcasts."""
    plan = _plan(entry.queries()["key_skew_sources"](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial_count" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_zorder_key_is_map_side_codegen(spark, entry):
    """zorder_key: min/max stats broadcast-attach, the interleave is
    pure codegen — no hash Exchange of the data rows, no UDF of any
    kind."""
    from scespet_spark.operators.layout import zorder_key
    from scespet_spark.sources.batch import load_table
    li = load_table(spark, SF, "lineitem")
    plan = _plan(zorder_key(li, ["l_extendedprice", "l_quantity"], bits=8))
    assert "hashpartitioning" not in plan, plan
    for udf in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert udf not in plan, udf
    # the stats attach is the 1-row broadcast cross join; the interleave
    # itself is a plain Project over the scan
    assert "BroadcastNestedLoopJoin" in plan
    assert "shiftleft" in plan


def test_incremental_components_prior_never_sortmerges(spark):
    """The generational relabel's prior-table passes must all be
    broadcast-driven (drop-sized sides broadcast into map-only scans
    of the prior) — a SortMergeJoin or CartesianProduct here means the
    corpus shuffles per drop, the exact cost the operator exists to
    avoid."""
    from pyspark.sql import functions as F
    from scespet_spark.operators.dedup import incremental_components
    prior = spark.range(100_000).select(
        F.col("id"), (F.col("id") - F.col("id") % 4).alias("cluster"))
    new = spark.range(500).select((-F.col("id") - 1).alias("id_a"),
                                  (F.col("id") * 8).alias("id_b"))
    plan = _plan(incremental_components(prior, new))
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan


def test_pq_index_serving_plan_never_encodes(spark, tmp_path):
    """Artifact-served ANN (`pq_index_topk`) must never re-encode the
    corpus in-query: the rotation/LUT fold driver-side and the ADC
    half is a codes-parquet scan + broadcast LUT join + combinable
    sum — so the plan may contain NO MapInPandas / grouped-pandas
    stage (those are the encode/training shapes).  The ONE permitted
    Python node is the shortlist-sized Arrow cosine re-rank (`cosine`
    is deliberately an Arrow UDF repo-wide — bit-identical to the
    oracle fold, measured faster), sitting above the broadcast
    shortlist join, never on the corpus side."""
    from pyspark.sql import functions as F
    from scespet_spark.operators.similarity import pq_index_topk
    from scespet_spark.operators.snapshot import (read_pq_index,
                                                  write_snapshot)
    from scespet_spark.sources.batch import planted_embeddings
    emb = planted_embeddings(spark, n=200, centers=4, seed=2)
    out = str(tmp_path / "snap")
    write_snapshot(out, emb=emb, pq_m=8)
    codes, cbs, rot, _ = read_pq_index(spark, out)
    qvec = (emb.filter(F.col("vec_id") == 0)
            .select("embedding").collect()[0][0])
    plan = _plan(pq_index_topk(emb, codes, cbs, rot, qvec, k=5,
                               shortlist=20))
    for udf in ("MapInPandas", "BatchEvalPython",
                "FlatMapGroupsInPandas"):
        assert udf not in plan, udf
    import re
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1, plan
    assert "Scan parquet" in plan or "FileScan" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_ivfpq_index_probe_is_partition_pruning(spark, tmp_path):
    """The cell-partitioned index (`pq_by_cell=True`): the probe
    filter must reach the codes scan as a PartitionFilter (file
    pruning — each query reads nprobe/K of the index), NOT as a
    post-scan Filter or a membership join.  This is the physical form
    of the 100 TB coarse-pruning claim."""
    from pyspark.sql import functions as F
    from scespet_spark.operators.similarity import ivfpq_index_topk
    from scespet_spark.operators.snapshot import (read_pq_index,
                                                  write_snapshot)
    from scespet_spark.sources.batch import planted_embeddings
    emb = planted_embeddings(spark, n=200, centers=4, seed=2)
    out = str(tmp_path / "snap")
    write_snapshot(out, emb=emb, pq_m=8, pq_by_cell=True)
    codes, cbs, rot, geo = read_pq_index(spark, out)
    assert geo["by_cell"] is True
    cents = spark.read.parquet(f"{out}/centroids")
    qvec = (emb.filter(F.col("vec_id") == 0)
            .select("embedding").collect()[0][0])
    plan = _plan(ivfpq_index_topk(emb, codes, cbs, rot, cents, qvec,
                                  k=5, nprobe=2, shortlist=20))
    import re
    m = re.search(r"PartitionFilters: \[[^\]]*label[^\]]*\]", plan)
    assert m, plan
    assert "label IN" in m.group(0) or "label#" in m.group(0), m.group(0)
