"""Bloom pre-filter artifact (bloom.py + snapshot read_bloom + the
dedup prior_bloom= fast paths): geometry, no-false-negative guarantee,
merge = whole-build, and — the contract that matters — row-identity of
every bloom-probed incremental dedup against its plain path, including
under a deliberately tiny filter where false positives are common."""

import pytest
from pyspark.sql import functions as F

from scespet_spark.operators.bloom import (bloom_attach_sharded,
                                           bloom_build, bloom_dense,
                                           bloom_filter_col, bloom_merge,
                                           bloom_params)


def test_bloom_params_shapes_and_validation():
    m, k = bloom_params(10_000, 0.01)
    assert m % 64 == 0 and m > 10_000  # ~9.6 bits/key at 1%
    assert 1 <= k <= 16
    m2, _ = bloom_params(10_000, 0.10)
    assert m2 < m  # looser fpp -> smaller filter
    with pytest.raises(ValueError, match="n_items"):
        bloom_params(0)
    with pytest.raises(ValueError, match="fpp"):
        bloom_params(10, 1.5)


def test_bloom_no_false_negatives_and_fpp(spark):
    keys = spark.range(4000).select((F.col("id") * 2654435761).alias("d"))
    words, m, k = bloom_build(keys, "d", n_items=4000, fpp=0.01)
    bloom = {"m": m, "k": k, "words": bloom_dense(words, m)}
    # every inserted key tests positive — the correctness half
    assert keys.filter(~bloom_filter_col(bloom, "d")).count() == 0
    # disjoint keys test positive at ~fpp — the efficiency half
    other = spark.range(20000).select(
        (F.col("id") * 2654435761 + 1).alias("d"))
    fp = other.filter(bloom_filter_col(bloom, "d")).count()
    assert fp / 20000 < 0.03  # 3x headroom over the 1% target


def test_bloom_merge_equals_whole_build(spark):
    keys = spark.range(1000).select((F.col("id") * 7919).alias("d"))
    whole, m, k = bloom_build(keys, "d", n_items=1000, fpp=0.01)
    a, _, _ = bloom_build(keys.filter(F.col("d") % 2 == 0), "d", 1000, 0.01)
    b, _, _ = bloom_build(keys.filter(F.col("d") % 2 != 0), "d", 1000, 0.01)
    assert bloom_dense(bloom_merge(a, b), m) == bloom_dense(whole, m)


def test_bloom_words_over_raw_keys_equal_distinct_keys(spark):
    """``bit_or`` is idempotent, so a word table built over a key
    column with repeats (and NULLs) equals the one built over its
    distinct keys: the snapshot builds words over raw keys and keeps
    ``distinct`` only for the key count."""
    from scespet_spark.operators.bloom import bloom_build_sharded
    raw = (spark.range(600)
           .select(F.when(F.col("id") % 50 == 0, None)
                   .otherwise(F.col("id") % 97 * 7919).alias("d")))
    assert raw.distinct().count() < raw.count()
    a, m, k = bloom_build(raw, "d", n_items=98, fpp=0.01)
    b, _, _ = bloom_build(raw.distinct(), "d", n_items=98, fpp=0.01)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    sa, _, _ = bloom_build_sharded(raw, "d", n_items=98, fpp=0.01, shards=3)
    sb, _, _ = bloom_build_sharded(raw.distinct(), "d", n_items=98,
                                   fpp=0.01, shards=3)
    assert (sorted(map(tuple, sa.collect()))
            == sorted(map(tuple, sb.collect())))


def test_bloom_filter_col_rejects_wrong_geometry(spark):
    with pytest.raises(ValueError, match="dense word list"):
        bloom_filter_col({"m": 128, "k": 2, "words": [0]}, F.lit(1))


def test_bloom_attach_rejects_column_collisions(spark):
    from scespet_spark.operators.bloom import bloom_attach
    df = spark.range(3).select(F.col("id").alias("d"),
                               F.lit(True).alias("__bloom_maybe"))
    bloom = {"m": 128, "k": 2, "words": [0, 0]}
    with pytest.raises(ValueError, match="already has column"):
        bloom_attach(df, bloom, "d")


def _tiny_bloom(spark, prior_digests):
    """A deliberately UNDERSIZED filter (m=64 words regardless of n):
    false positives are common, so parity tests exercise the
    FP-resolution path, not just the happy path."""
    words, m, k = bloom_build(prior_digests, prior_digests.columns[0],
                              n_items=1, fpp=0.5)
    return {"m": m, "k": k, "words": bloom_dense(words, m)}


def _docs(spark, rows):
    return spark.createDataFrame(rows or [], "doc_id long, text string")


@pytest.mark.parametrize("fpp", [0.01, None])  # None -> tiny/overloaded
def test_incremental_keep_bloom_row_identical(spark, fpp):
    from scespet_spark.operators.dedup import exact_groups, incremental_keep
    new = _docs(spark, [(i, f"t{i % 7}") for i in range(20)])
    prior = _docs(spark, [(100 + i, f"t{i % 3}") for i in range(6)])
    pri_dig = exact_groups(prior).select("content_hash")
    if fpp:
        words, m, k = bloom_build(pri_dig, "content_hash",
                                  n_items=6, fpp=fpp)
        bloom = {"m": m, "k": k, "words": bloom_dense(words, m)}
    else:
        bloom = _tiny_bloom(spark, pri_dig)
    plain = sorted(map(tuple, incremental_keep(new, prior).collect()))
    fast = sorted(map(tuple, incremental_keep(
        new, pri_dig, prior_digest_col="content_hash",
        prior_bloom=bloom).collect()))
    assert plain == fast and len(plain) > 0
    # the all-dups escape hatch (no residue broadcast) is row-identical
    nb = dict(bloom, residue_broadcast=False)
    hatch = sorted(map(tuple, incremental_keep(
        new, pri_dig, prior_digest_col="content_hash",
        prior_bloom=nb).collect()))
    assert hatch == plain


def test_incremental_segment_dedup_bloom_row_identical(spark):
    from scespet_spark.operators.dedup import (incremental_segment_dedup,
                                               segment_digests)
    new = _docs(spark, [
        (1, "a b c d e f g h"), (2, "a b c d x y z w"),
        (3, "p q r s t u v w"), (4, "a b c d e f g h")])
    prior = _docs(spark, [(100, "a b c d q q q q")])
    pri_segs = segment_digests(prior, size=4).select("__d").distinct()
    bloom = _tiny_bloom(spark, pri_segs)
    plain = sorted(map(tuple, incremental_segment_dedup(
        new, prior_segments=pri_segs, size=4).collect()))
    fast = sorted(map(tuple, incremental_segment_dedup(
        new, prior_segments=pri_segs, size=4,
        prior_bloom=bloom).collect()))
    assert plain == fast and len(plain) > 0


def test_novelty_score_fractions_and_bloom_parity(spark):
    """novelty_score: exact known-gram fractions on crafted docs;
    bloom-probed form row-identical under an undersized filter."""
    from scespet_spark.operators.dedup import gram_digests, novelty_score
    prior = _docs(spark, [(100, "one two three four five six")])
    new = _docs(spark, [
        (1, "one two three four five six"),        # fully known
        (2, "one two three four nine ten eleven"), # 1 of 4 grams known
        (3, "a b c d e f")])                       # fully novel
    plain = {r.doc_id: (r.n_grams, r.n_known, r.novelty) for r in
             novelty_score(new, prior=prior, min_len=4).collect()}
    assert plain[1] == (3, 3, 0.0)
    assert plain[2] == (4, 1, 0.75)
    assert plain[3] == (3, 0, 1.0)
    pri_g = gram_digests(prior, min_len=4).select("__g").distinct()
    bloom = _tiny_bloom(spark, pri_g)
    fast = {r.doc_id: (r.n_grams, r.n_known, r.novelty) for r in
            novelty_score(new, prior_grams=pri_g, min_len=4,
                          prior_bloom=bloom).collect()}
    assert fast == plain
    with pytest.raises(ValueError, match="exactly one"):
        novelty_score(new)


def test_incremental_substring_dedup_bloom_row_identical(spark):
    from scespet_spark.operators.dedup import (gram_digests,
                                               incremental_substring_dedup)
    new = _docs(spark, [
        (1, "one two three four five six seven"),
        (2, "one two three four nine ten eleven"),
        (3, "alpha beta gamma delta epsilon zeta eta")])
    prior = _docs(spark, [(100, "one two three four five noise noise")])
    pri_g = gram_digests(prior, min_len=4).select("__g").distinct()
    bloom = _tiny_bloom(spark, pri_g)
    plain = sorted(map(tuple, incremental_substring_dedup(
        new, prior_grams=pri_g, min_len=4).collect()))
    fast = sorted(map(tuple, incremental_substring_dedup(
        new, prior_grams=pri_g, min_len=4,
        prior_bloom=bloom).collect()))
    assert plain == fast and len(plain) > 0


def test_incremental_near_dup_bloom_row_identical(spark):
    """The LSH band probe through a deliberately undersized bloom over
    the derived band key: identical (id, n_hit_bands) to the plain
    path — a false-positive band row joins and finds nothing."""
    from scespet_spark.operators.dedup import (band_bloom_key,
                                               banded_signatures,
                                               incremental_near_dup)
    new = _docs(spark, [(i, f"shared shingle text body {i % 4} tail")
                        for i in range(12)])
    prior = _docs(spark, [(100 + i, f"shared shingle text body {i} tail")
                          for i in range(2)])
    pb = banded_signatures(prior)
    words, m, k = bloom_build(pb.select(band_bloom_key().alias("__bk")),
                              "__bk", n_items=1, fpp=0.5)
    bloom = {"m": m, "k": k, "words": bloom_dense(words, m)}
    plain = sorted(map(tuple, incremental_near_dup(
        new, prior_bands=pb).collect()))
    fast = sorted(map(tuple, incremental_near_dup(
        new, prior_bands=pb, prior_bloom=bloom).collect()))
    assert plain == fast and len(plain) > 0


def test_incremental_embedding_near_dup_bloom_row_identical(spark):
    from scespet_spark.operators.dedup import (embedding_block_table,
                                               incremental_embedding_near_dup)
    vecs = [(i, [1.0, 0.0, float(i % 3)]) for i in range(9)]
    new = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    prior = spark.createDataFrame(
        [(100 + i, [1.0, 0.0, float(i)]) for i in range(3)],
        "vec_id long, embedding array<double>")
    blocks = embedding_block_table(prior, dim=3, bits=4)
    words, m, k = bloom_build(blocks.select("block"), "block",
                              n_items=1, fpp=0.5)
    bloom = {"m": m, "k": k, "words": bloom_dense(words, m)}
    plain = sorted(map(tuple, incremental_embedding_near_dup(
        new, blocks, dim=3, bits=4, threshold=0.9).collect()))
    fast = sorted(map(tuple, incremental_embedding_near_dup(
        new, blocks, dim=3, bits=4, threshold=0.9,
        prior_bloom=bloom).collect()))
    assert plain == fast and len(plain) > 0


def test_snapshot_bloom_roundtrip_and_probe(spark, tmp_path):
    """write_snapshot(bloom_fpp=...) -> read_bloom -> probe: the
    rehydrated artifact drives a row-identical incremental probe, and
    reading a missing bloom raises instead of silently degrading."""
    from scespet_spark.operators.dedup import incremental_keep
    from scespet_spark.operators.snapshot import (read_bloom,
                                                  read_snapshot,
                                                  write_snapshot)
    prior = _docs(spark, [(100 + i, f"prior doc {i % 4} body text here")
                          for i in range(8)])
    new = _docs(spark, [(i, f"prior doc {i % 6} body text here")
                        for i in range(12)])
    written = write_snapshot(str(tmp_path), docs=prior, bloom_fpp=0.01)
    assert {"bloom_digests", "bloom_segments", "bloom_grams",
            "bloom_bands"} <= set(written)
    tables = read_snapshot(spark, str(tmp_path))
    bloom = read_bloom(spark, str(tmp_path), "digests", dense=True)
    assert bloom["n"] == tables["digests"].count()
    # fill/est_fpp observability: a fresh right-sized filter sits near
    # its design point (fill ~0.5 at optimal k; est_fpp ~ fpp)
    assert 0.0 < bloom["fill"] < 1.0
    assert bloom["est_fpp"] < 0.2
    # the broadcast row and the driver-side list agree
    assert bloom["row"].collect()[0]["__bloom"] == bloom["words"]
    plain = sorted(map(tuple, incremental_keep(
        new, tables["digests"], prior_digest_col="content_hash")
        .collect()))
    fast = sorted(map(tuple, incremental_keep(
        new, tables["digests"], prior_digest_col="content_hash",
        prior_bloom=bloom).collect()))
    assert plain == fast and len(plain) > 0
    # prior keys all bloom-positive through the parquet roundtrip
    assert (tables["digests"]
            .filter(~bloom_filter_col(bloom, "content_hash")).count() == 0)
    # missing-family read is loud (centroids never get a bloom)
    with pytest.raises(ValueError, match="no Bloom artifact"):
        read_bloom(spark, str(tmp_path), "centroids")


def test_snapshot_compaction_after_appends(spark, tmp_path):
    """compact_snapshot: after two generation appends, each bucketed
    probe family collapses to one file set (fewer files), probes stay
    ROW-IDENTICAL, the bucketed zero-snapshot-side-Exchange property
    survives the rewrite, and the manifest records the compaction."""
    import glob
    import json
    from scespet_spark.operators.dedup import incremental_keep
    from scespet_spark.operators.snapshot import (compact_snapshot,
                                                  read_snapshot,
                                                  write_snapshot)
    prior = _docs(spark, [(100 + i, f"prior doc {i} body text here")
                          for i in range(6)])
    snap = str(tmp_path / "snap")
    write_snapshot(snap, docs=prior, bucket_probes=4, bloom_fpp=0.01)
    for g in range(2):
        drop = _docs(spark, [(200 + 50 * g + i,
                              f"gen {g} doc {i} fresh body text")
                             for i in range(4)])
        write_snapshot(snap, docs=drop, mode="append")
    n_before = len(glob.glob(f"{snap}/digests/*.parquet"))
    probe = _docs(spark, [(900, "prior doc 2 body text here"),
                          (901, "gen 1 doc 3 fresh body text"),
                          (902, "never seen anywhere at all")])
    tables = read_snapshot(spark, snap)
    before = sorted(map(tuple, incremental_keep(
        probe, tables["digests"],
        prior_digest_col="content_hash").collect()))
    files = compact_snapshot(snap, spark)
    assert set(files) >= {"digests", "segments", "grams", "bands"}
    n_after = len(glob.glob(f"{snap}/digests/*.parquet"))
    assert n_after < n_before and n_after == files["digests"]
    tables2 = read_snapshot(spark, snap)
    after = sorted(map(tuple, incremental_keep(
        probe, tables2["digests"],
        prior_digest_col="content_hash").collect()))
    assert after == before and len(after) == 1 and after[0][0] == 902
    # bucket metadata survives: snapshot side still scans bucketed
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = (probe.selectExpr("doc_id")
             .crossJoin(tables2["digests"].select("content_hash"))
             .limit(1))  # force a plan read of the table
        plan = (tables2["digests"]._jdf.queryExecution().executedPlan()
                .toString())
        assert "Bucketed: true" in plan or "Scan" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    manifest = json.loads((tmp_path / "snap" / "manifest.json").read_text())
    assert manifest["generations"][-1]["compacted"]


def test_snapshot_without_bloom_raises_on_read_bloom(spark, tmp_path):
    from scespet_spark.operators.snapshot import read_bloom, write_snapshot
    docs = _docs(spark, [(1, "some text here for the corpus")])
    write_snapshot(str(tmp_path), docs=docs)
    with pytest.raises(ValueError, match="bloom_fpp"):
        read_bloom(spark, str(tmp_path), "digests")


def test_snapshot_append_generation(spark, tmp_path):
    """write_snapshot(mode='append'): drop rows land in the standing
    probe tables (bucket-spec preserved), the blooms fold the drop in
    under pinned geometry, the manifest records lineage — and every
    probe against the appended snapshot is ROW-IDENTICAL to one
    against a from-scratch rebuild over prior UNION drop (the check
    that catches a silently mis-bucketed append)."""
    from scespet_spark.operators.dedup import (incremental_keep,
                                               incremental_segment_dedup)
    from scespet_spark.operators.snapshot import (read_bloom,
                                                  read_snapshot,
                                                  write_snapshot)
    prior = _docs(spark, [(100 + i, f"prior doc {i} body text content")
                          for i in range(6)])
    drop1 = _docs(spark, [(200 + i, f"gen one doc {i} fresh text body")
                          for i in range(5)])
    snap = str(tmp_path / "snap")
    write_snapshot(snap, docs=prior, bloom_fpp=0.01, bucket_probes=4)
    appended = write_snapshot(snap, docs=drop1, mode="append")
    assert {"digests", "segments", "grams", "bands",
            "bloom_digests"} <= set(appended)
    # probe drop2 against the appended snapshot vs a scratch rebuild
    drop2 = _docs(spark, [(300, "prior doc 2 body text content"),   # gen-0 dup
                          (301, "gen one doc 3 fresh text body"),   # gen-1 dup
                          (302, "genuinely novel text never seen")])
    tables = read_snapshot(spark, snap)
    scratch = str(tmp_path / "scratch")
    write_snapshot(scratch, docs=prior.unionByName(drop1),
                   bucket_probes=4)
    ref = read_snapshot(spark, scratch)
    got = sorted(map(tuple, incremental_keep(
        drop2, tables["digests"],
        prior_digest_col="content_hash").collect()))
    exp = sorted(map(tuple, incremental_keep(
        drop2, ref["digests"], prior_digest_col="content_hash").collect()))
    assert got == exp and len(got) == 1 and got[0][0] == 302
    got_seg = sorted(map(tuple, incremental_segment_dedup(
        drop2, prior_segments=tables["segments"]).collect()))
    exp_seg = sorted(map(tuple, incremental_segment_dedup(
        drop2, prior_segments=ref["segments"]).collect()))
    assert got_seg == exp_seg
    # the folded bloom sees BOTH generations' digests
    bloom = read_bloom(spark, snap, "digests")
    both = tables["digests"].select("content_hash")
    att = __import__("scespet_spark.operators.bloom",
                     fromlist=["bloom_attach"]).bloom_attach(
        both, bloom, "content_hash")
    assert att.filter(~F.col("__bloom_maybe")).count() == 0
    # lineage recorded; params with append raise
    import json
    manifest = json.loads((tmp_path / "snap" / "manifest.json").read_text())
    assert [g["gen"] for g in manifest["generations"]] == [1]
    assert manifest["blooms"]["digests"]["n"] > 6
    with pytest.raises(ValueError, match="append"):
        write_snapshot(snap, docs=drop1, mode="append", digest_wide=True)
    with pytest.raises(ValueError, match="needs docs"):
        write_snapshot(snap, mode="append")


def test_bloom_probe_plan_is_map_only(spark):
    """The literal-array bloom membership test must add NO
    join/Exchange — pure codegen arithmetic."""
    keys = spark.range(100).select((F.col("id") * 31).alias("d"))
    words, m, k = bloom_build(keys, "d", n_items=100, fpp=0.01)
    bloom = {"m": m, "k": k, "words": bloom_dense(words, m)}
    probe = spark.range(1000).select(F.col("id").alias("d")) \
        .filter(bloom_filter_col(bloom, "d"))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_bloom_attach_broadcasts_and_never_shuffles_probe_side(spark):
    """The scale form (bloom_attach): the word array rides ONE
    BroadcastHashJoin — no shuffle Exchange of the probed rows, no
    plan literal (a 10^6-element array literal hangs the analyzer),
    and the test column agrees with the literal form."""
    from scespet_spark.operators.bloom import bloom_attach, bloom_row
    keys = spark.range(500).select((F.col("id") * 131).alias("d"))
    words, m, k = bloom_build(keys, "d", n_items=500, fpp=0.01)
    bloom = {"m": m, "k": k, "row": bloom_row(words, m)}
    probe = spark.range(2000).select((F.col("id") * 131).alias("d"))
    att = bloom_attach(probe, bloom, "d")
    plan = att._jdf.queryExecution().executedPlan().toString()
    # constant-key 1-row attach: Catalyst folds the key and plans a
    # 1-row-build-side broadcast join (hash or nested-loop — both are
    # a map over the probe side); what matters is NO shuffle Exchange
    assert "Broadcast" in plan and "CartesianProduct" not in plan
    import re
    assert not re.search(r"Exchange (hash|range)partitioning", plan)
    # inserted keys all positive (ids 0..499 overlap), novel half mixed
    got = {r.d: r["__bloom_maybe"] for r in att.collect()}
    lit_bloom = {"m": m, "k": k, "words": bloom_dense(words, m)}
    exp = {r.d: r.t for r in
           probe.select("d", bloom_filter_col(lit_bloom, "d").alias("t"))
           .collect()}
    assert got == exp
    assert all(got[i * 131] for i in range(500))


def _sharded(spark, keys, n_items, fpp=0.01, shards=4, broadcast=True):
    from scespet_spark.operators.bloom import (bloom_build_sharded,
                                               bloom_rows_sharded)
    words, m, k = bloom_build_sharded(keys, keys.columns[0],
                                      n_items=n_items, fpp=fpp,
                                      shards=shards)
    return {"m": m, "k": k, "shards": shards,
            "rows": bloom_rows_sharded(words, m, shards),
            "broadcast": broadcast}


def test_sharded_bloom_no_false_negatives_and_fpp(spark):
    from scespet_spark.operators.bloom import bloom_attach
    keys = spark.range(4000).select((F.col("id") * 2654435761).alias("d"))
    bloom = _sharded(spark, keys, 4000, shards=8)
    att = bloom_attach(keys, bloom, "d")
    assert att.filter(~F.col("__bloom_maybe")).count() == 0
    other = spark.range(20000).select(
        (F.col("id") * 2654435761 + 1).alias("d"))
    fp = (bloom_attach(other, bloom, "d")
          .filter(F.col("__bloom_maybe")).count())
    assert fp / 20000 < 0.03


def test_sharded_bloom_shuffle_hash_path_same_answers(spark):
    from scespet_spark.operators.bloom import bloom_attach
    keys = spark.range(2000).select((F.col("id") * 7919).alias("d"))
    probe = spark.range(6000).select((F.col("id") * 104729).alias("d"))
    bc = _sharded(spark, keys, 2000, shards=4, broadcast=True)
    sh = dict(bc, broadcast=False)
    a = sorted(r.d for r in bloom_attach(probe, bc, "d")
               .filter("__bloom_maybe").collect())
    b = sorted(r.d for r in bloom_attach(probe, sh, "d")
               .filter("__bloom_maybe").collect())
    assert a == b
    # inserted keys positive through the shuffle-hash route too
    assert (bloom_attach(keys, sh, "d")
            .filter(~F.col("__bloom_maybe")).count() == 0)


@pytest.mark.parametrize("shards,fpp", [(4, 0.01), (3, 0.5)])
def test_incremental_keep_sharded_bloom_row_identical(spark, shards, fpp):
    # fpp=0.5 with tiny shards -> heavy false positives: the parity
    # claim (row-identical at ANY fpp) must hold through FP resolution
    from scespet_spark.operators.dedup import exact_groups, incremental_keep
    new = _docs(spark, [(i, f"t{i % 7}") for i in range(20)])
    prior = _docs(spark, [(100 + i, f"t{i % 3}") for i in range(6)])
    pri_dig = exact_groups(prior).select("content_hash")
    bloom = _sharded(spark, pri_dig, 6, fpp=fpp, shards=shards)
    plain = sorted(map(tuple, incremental_keep(new, prior).collect()))
    fast = sorted(map(tuple, incremental_keep(
        new, pri_dig, prior_digest_col="content_hash",
        prior_bloom=bloom).collect()))
    assert plain == fast and len(plain) > 0


def test_snapshot_sharded_bloom_roundtrip(spark, tmp_path):
    from scespet_spark.operators.dedup import incremental_keep
    from scespet_spark.operators.snapshot import read_bloom, write_snapshot
    docs = _docs(spark, [(i, f"body {i % 5}") for i in range(30)])
    out = str(tmp_path / "snap")
    write_snapshot(out, docs=docs, bloom_fpp=0.05, bloom_shards=4)
    bloom = read_bloom(spark, out, "digests")
    assert bloom["shards"] == 4 and "rows" in bloom
    assert 0.0 < bloom["fill"] < 1.0
    new = _docs(spark, [(100 + i, f"body {i % 9}") for i in range(18)])
    from scespet_spark.operators.snapshot import read_snapshot
    pri = read_snapshot(spark, out)["digests"].select("content_hash")
    plain = sorted(map(tuple, incremental_keep(
        new, pri, prior_digest_col="content_hash").collect()))
    fast = sorted(map(tuple, incremental_keep(
        new, pri, prior_digest_col="content_hash",
        prior_bloom=bloom).collect()))
    assert plain == fast and len(plain) > 0
    with pytest.raises(ValueError, match="dense"):
        read_bloom(spark, out, "digests", dense=True)


def test_snapshot_sharded_bloom_append(spark, tmp_path):
    """write(bloom_shards>1) then mode='append': the drop's keys must
    fold into the SHARDED word tables under the manifest's pinned
    per-shard geometry (the single-filter fold would fail the
    unionByName on the (shard, word, bits) schema and, worse, leave
    the new keys without shard routing).  Checked end-to-end: every
    appended key probes positive through the sharded filter, and the
    Bloom-accelerated dedup stays row-identical to the exact one."""
    from scespet_spark.operators.dedup import exact_groups, incremental_keep
    from scespet_spark.operators.snapshot import (read_bloom,
                                                  read_snapshot,
                                                  write_snapshot)
    prior = _docs(spark, [(100 + i, f"prior doc {i} body text content")
                          for i in range(8)])
    drop = _docs(spark, [(200 + i, f"gen one doc {i} fresh text body")
                         for i in range(5)])
    snap = str(tmp_path / "snap")
    write_snapshot(snap, docs=prior, bloom_fpp=0.05, bloom_shards=4)
    appended = write_snapshot(snap, docs=drop, mode="append")
    assert "bloom_digests" in appended
    bloom = read_bloom(spark, snap, "digests")
    assert bloom["shards"] == 4
    # every key of BOTH generations tests positive (no false negatives
    # through the sharded fold)
    all_keys = exact_groups(prior.unionByName(drop)).select("content_hash")
    assert (bloom_attach_sharded(all_keys, bloom, "content_hash")
            .filter(~F.col("__bloom_maybe")).count() == 0)
    # probe parity: Bloom-accelerated == exact against the appended snap
    probe = _docs(spark, [(300, "prior doc 2 body text content"),
                          (301, "gen one doc 3 fresh text body"),
                          (302, "genuinely novel text never seen")])
    pri = read_snapshot(spark, snap)["digests"].select("content_hash")
    plain = sorted(r.doc_id for r in incremental_keep(
        probe, pri, prior_digest_col="content_hash").collect())
    fast = sorted(r.doc_id for r in incremental_keep(
        probe, pri, prior_digest_col="content_hash",
        prior_bloom=bloom).collect())
    assert plain == fast == [302]


def test_bloom_attach_sharded_keeps_caller_shard_column(spark):
    # a probe DataFrame with its OWN column named 'shard' must pass
    # through untouched (the filter side's shard id is internal)
    keys = spark.range(50).select((F.col("id") * 17).alias("d"))
    bloom = _sharded(spark, keys, 50, shards=4)
    probe = keys.withColumn("shard", F.col("d") % 7)
    out = bloom_attach_sharded(probe, bloom, "d")
    assert set(out.columns) == {"d", "shard", "__bloom_maybe"}
    rows = out.collect()
    assert all(r.shard == r.d % 7 for r in rows)
    assert all(r["__bloom_maybe"] for r in rows)  # inserted keys positive


def test_snapshot_retraction_lifecycle(spark, tmp_path):
    """retract_snapshot: a taken-down doc's digests tombstone out of
    every probe (its content re-admits as novel) while retained docs
    stay suppressed; the stale Bloom stays harmless through the exact
    tombstone-filtered join; compaction folds the tombstones, deletes
    the tombstone tables, rebuilds the filter under pinned geometry,
    and probes stay row-identical across the fold."""
    import glob
    import json
    from scespet_spark.operators.dedup import incremental_keep
    from scespet_spark.operators.snapshot import (compact_snapshot,
                                                  read_bloom,
                                                  read_snapshot,
                                                  retract_snapshot,
                                                  write_snapshot)
    prior = _docs(spark, [(100 + i, f"prior doc {i} body text content")
                          for i in range(6)])
    takedown = prior.filter(F.col("doc_id") == 103)
    snap = str(tmp_path / "snap")
    write_snapshot(snap, docs=prior, bloom_fpp=0.01, bucket_probes=4)
    probe = _docs(spark, [(300, "prior doc 3 body text content"),  # retracted
                          (301, "prior doc 2 body text content"),  # retained
                          (302, "genuinely novel text never seen")])
    t0 = read_snapshot(spark, snap)
    before = sorted(r.doc_id for r in incremental_keep(
        probe, t0["digests"], prior_digest_col="content_hash").collect())
    assert before == [302]

    retracted = retract_snapshot(snap, docs=takedown)
    assert {"digests", "bands", "segments", "grams"} <= set(retracted)
    t1 = read_snapshot(spark, snap)
    after = sorted(r.doc_id for r in incremental_keep(
        probe, t1["digests"], prior_digest_col="content_hash").collect())
    # the retracted content re-admits; the retained dup stays suppressed
    assert after == [300, 302]
    # bands retraction is id-precise: only doc 103's rows dropped
    assert t1["bands"].filter(F.col("doc_id") == 103).count() == 0
    assert t1["bands"].filter(F.col("doc_id") == 102).count() > 0
    # the stale (pre-compaction) Bloom is harmless: probe parity holds
    bloom = read_bloom(spark, snap, "digests")
    fast = sorted(r.doc_id for r in incremental_keep(
        probe, t1["digests"], prior_digest_col="content_hash",
        prior_bloom=bloom).collect())
    assert fast == after
    manifest = json.loads((tmp_path / "snap" / "manifest.json").read_text())
    assert manifest["tombstones"]["digests"] == ["content_hash"]
    assert manifest["generations"][-1]["retracted"] == retracted
    n_before = manifest["blooms"]["digests"]["n"]

    files = compact_snapshot(snap, spark)
    assert files["digests"] >= 1
    assert not glob.glob(f"{snap}/tomb_*")
    manifest2 = json.loads((tmp_path / "snap" / "manifest.json").read_text())
    assert not manifest2.get("tombstones")
    # bloom rebuilt from the compacted table: pinned geometry, fewer keys
    assert manifest2["blooms"]["digests"]["m"] == \
        manifest["blooms"]["digests"]["m"]
    assert manifest2["blooms"]["digests"]["n"] < n_before
    t2 = read_snapshot(spark, snap)
    folded = sorted(r.doc_id for r in incremental_keep(
        probe, t2["digests"], prior_digest_col="content_hash").collect())
    assert folded == after
    bloom2 = read_bloom(spark, snap, "digests")
    fast2 = sorted(r.doc_id for r in incremental_keep(
        probe, t2["digests"], prior_digest_col="content_hash",
        prior_bloom=bloom2).collect())
    assert fast2 == after


def test_snapshot_retraction_clusters_and_emb(spark, tmp_path):
    """Cluster tombstones drop the retracted id's label row (remaining
    members keep their opaque label, even when the retracted doc WAS
    the min-id label); embedding retraction drops the vec's block and
    codes rows id-precisely."""
    from scespet_spark.operators.snapshot import (read_clusters,
                                                  read_snapshot,
                                                  retract_snapshot,
                                                  write_snapshot)
    # docs 10 and 11 are near-identical -> one cluster labeled 10
    prior = _docs(spark, [
        (10, "the quick brown fox jumps over the lazy dog tonight"),
        (11, "the quick brown fox jumps over the lazy dog tonight"),
        (12, "completely different words entirely in this one here")])
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 0.5], i % 2) for i in range(6)],
        "vec_id long, embedding array<float>, label int")
    snap = str(tmp_path / "snap")
    write_snapshot(snap, docs=prior, emb=emb, cluster_labels=True)
    labels0 = {r.id: r.cluster
               for r in read_clusters(spark, snap).collect()}
    assert labels0.get(10) == 10 and labels0.get(11) == 10

    retract_snapshot(snap, docs=prior.filter(F.col("doc_id") == 10),
                     emb=emb.filter(F.col("vec_id") == 2))
    labels1 = {r.id: r.cluster
               for r in read_clusters(spark, snap).collect()}
    assert 10 not in labels1
    assert labels1.get(11) == 10  # opaque label survives its min doc
    t = read_snapshot(spark, snap)
    assert t["blocks"].filter(F.col("vec_id") == 2).count() == 0
    assert t["codes"].filter(F.col("vec_id") == 2).count() == 0
    assert t["blocks"].filter(F.col("vec_id") == 3).count() == 1
    # retracting with neither side raises
    with pytest.raises(ValueError, match="docs and/or emb"):
        retract_snapshot(snap)


def test_snapshot_docs_ops_on_emb_only_snapshot(spark, tmp_path):
    """Retracting or appending DOCS against an emb-only snapshot must
    skip the absent doc families cleanly — the manifest has no doc
    hashing params, and the parameter lookup must not raise."""
    from scespet_spark.operators.snapshot import (read_snapshot,
                                                  retract_snapshot,
                                                  write_snapshot)
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 0.5], i % 2) for i in range(6)],
        "vec_id long, embedding array<float>, label int")
    docs = _docs(spark, [(1, "some text")])
    snap = str(tmp_path / "snap")
    write_snapshot(snap, emb=emb)
    out = retract_snapshot(snap, docs=docs, emb=emb.filter("vec_id = 2"))
    assert "blocks" in out and "segments" not in out
    assert read_snapshot(spark, snap)["blocks"] \
        .filter(F.col("vec_id") == 2).count() == 0
    assert write_snapshot(snap, docs=docs, mode="append") == []


def test_snapshot_retraction_reappend_epoch(spark, tmp_path):
    """Tombstones are key-filters, so re-appending retracted content
    BEFORE compaction stays suppressed (retraction wins within its
    epoch); after compaction folds the tombstones, a re-append enters
    normally and suppresses duplicates again."""
    from scespet_spark.operators.dedup import incremental_keep
    from scespet_spark.operators.snapshot import (compact_snapshot,
                                                  read_snapshot,
                                                  retract_snapshot,
                                                  write_snapshot)
    prior = _docs(spark, [(100 + i, f"prior doc {i} body text content")
                          for i in range(4)])
    snap = str(tmp_path / "snap")
    write_snapshot(snap, docs=prior)
    gone = prior.filter(F.col("doc_id") == 101)
    retract_snapshot(snap, docs=gone)
    probe = _docs(spark, [(900, "prior doc 1 body text content")])

    def fresh():
        dig = read_snapshot(spark, snap)["digests"]
        return incremental_keep(probe, dig,
                                prior_digest_col="content_hash").count()
    assert fresh() == 1  # retracted -> novel
    # re-append the same content WITHIN the epoch: still suppressed-
    # as-retracted (the appended digest matches the standing tombstone)
    write_snapshot(snap, docs=_docs(
        spark, [(500, "prior doc 1 body text content")]), mode="append")
    assert fresh() == 1
    # compaction folds the tombstone AND the epoch's appends with it —
    # the re-appended row was tombstone-filtered in the rewrite, so the
    # content stays novel until a POST-compaction append re-admits it
    compact_snapshot(snap, spark)
    assert fresh() == 1
    write_snapshot(snap, docs=_docs(
        spark, [(501, "prior doc 1 body text content")]), mode="append")
    assert fresh() == 0  # dedup memory restored


def test_snapshot_doc_freq_family_lifecycle(spark, tmp_path):
    """doc_freq artifact family: write -> read_doc_freq pair; append
    FOLDS counts (row-identical to a from-scratch token_doc_freq over
    prior ∪ drop — the merge-family contract); retraction SUBTRACTS
    exactly; n_docs tracks in the manifest throughout."""
    from scespet_spark.operators.snapshot import (read_doc_freq,
                                                  retract_snapshot,
                                                  write_snapshot)
    from scespet_spark.operators.text import token_doc_freq
    prior = _docs(spark, [(i, f"alpha beta w{i % 4} gamma")
                          for i in range(10)])
    drop = _docs(spark, [(100 + i, f"beta delta w{i % 3}")
                         for i in range(6)])
    out = str(tmp_path / "snap")
    write_snapshot(out, docs=prior, doc_freq=True)
    freq, n = read_doc_freq(spark, out)
    assert n == 10 and freq.count() > 0

    write_snapshot(out, docs=drop, mode="append")
    freq2, n2 = read_doc_freq(spark, out)
    scratch = token_doc_freq(prior.unionByName(drop))
    assert (sorted(map(tuple, freq2.collect()))
            == sorted(map(tuple, scratch.collect())))
    assert n2 == 16

    retract_snapshot(out, docs=drop)
    freq3, n3 = read_doc_freq(spark, out)
    assert (sorted(map(tuple, freq3.collect()))
            == sorted(map(tuple, token_doc_freq(prior).collect())))
    assert n3 == 10

    # a snapshot written WITHOUT the family refuses the read loudly
    other = str(tmp_path / "plain")
    write_snapshot(other, docs=prior)
    with pytest.raises(ValueError, match="doc_freq"):
        read_doc_freq(spark, other)


@pytest.fixture(params=[False, True], ids=["no_aqe", "aqe"])
def aqe(spark, request):
    """Run under both settings: AQE drops a query stage it finds empty,
    and the observed metrics inside it with it."""
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", str(request.param).lower())
    yield request.param
    spark.conf.set("spark.sql.adaptive.enabled", old)


@pytest.mark.parametrize("rows", [
    [(1, "alpha beta"), (1, "alpha beta"), (2, None), (3, ""),
     (4, "gamma")],
    [(1, None), (2, ""), (2, "   ")],
    [],
], ids=["mixed", "no_tokens", "empty"])
def test_snapshot_n_docs_counts_every_row(spark, tmp_path, aqe, rows):
    """The manifest's ``n_docs`` (observed on the doc_freq write, and on
    the merge write of an append) equals ``docs.count()``: NULL and
    empty text and a repeated ``doc_id`` each count as a row, and a
    frame with no tokens at all, or no rows, counts too."""
    from scespet_spark.operators.snapshot import read_doc_freq, write_snapshot
    docs = _docs(spark, rows)
    out = str(tmp_path / "snap")
    write_snapshot(out, docs=docs, doc_freq=True, doc_families=())
    _, n = read_doc_freq(spark, out)
    assert n == docs.count() == len(rows)
    write_snapshot(out, docs=docs, mode="append")
    _, n2 = read_doc_freq(spark, out)
    assert n2 == 2 * len(rows)


def test_snapshot_bloom_words_match_distinct_key_build(spark, tmp_path):
    """The written ``bloom_bands`` words equal a build over the band
    table's DISTINCT keys under the manifest's geometry, and the
    manifest's ``n`` is that distinct key count."""
    import json

    from scespet_spark.operators.bloom import bloom_build
    from scespet_spark.operators.dedup import band_bloom_key
    from scespet_spark.operators.snapshot import read_snapshot, write_snapshot
    docs = _docs(spark, [(i, f"alpha beta gamma w{i % 3} delta")
                         for i in range(12)])
    out = str(tmp_path / "snap")
    write_snapshot(out, docs=docs, doc_families=("bands",), bloom_fpp=0.01)
    meta = json.loads((tmp_path / "snap" / "manifest.json")
                      .read_text())["blooms"]["bands"]
    keys = (read_snapshot(spark, out)["bands"]
            .select(band_bloom_key().alias("k")).distinct())
    assert meta["n"] == keys.count() < 12 * 4
    want, _, _ = bloom_build(keys, "k", m_bits=meta["m"], k=meta["k"])
    got = spark.read.parquet(str(tmp_path / "snap" / "bloom_bands"))
    assert (sorted(map(tuple, got.collect()))
            == sorted(map(tuple, want.collect())))


def test_snapshot_doc_families_restriction(spark, tmp_path):
    """``doc_families=()`` writes a doc_freq-only snapshot: no probe
    tables, no bigram LM — and the lifecycle (append fold, exact
    retraction subtract) is value-identical to the full-family
    snapshot's, because append/retract are manifest-driven.  A partial
    selection writes exactly the named families; unknown names raise."""
    import json

    from scespet_spark.operators.snapshot import (read_doc_freq,
                                                  retract_snapshot,
                                                  write_snapshot)
    from scespet_spark.operators.text import token_doc_freq
    prior = _docs(spark, [(i, f"alpha beta w{i % 4} gamma")
                          for i in range(10)])
    drop = _docs(spark, [(100 + i, f"beta delta w{i % 3}")
                         for i in range(6)])
    out = str(tmp_path / "dfonly")
    written = write_snapshot(out, docs=prior, doc_freq=True,
                             doc_families=())
    assert written == ["doc_freq"]
    manifest = json.loads((tmp_path / "dfonly" / "manifest.json")
                          .read_text())
    assert manifest["tables"] == ["doc_freq"]

    # lifecycle parity: append folds, retract subtracts — same rows as
    # a from-scratch count over the surviving corpus
    write_snapshot(out, docs=drop, mode="append")
    retract_snapshot(out, docs=drop.filter("doc_id % 2 = 0"))
    freq, n = read_doc_freq(spark, out)
    survivors = prior.unionByName(drop.filter("doc_id % 2 <> 0"))
    assert (sorted(map(tuple, freq.collect()))
            == sorted(map(tuple, token_doc_freq(survivors).collect())))
    assert n == 10 + drop.filter("doc_id % 2 <> 0").count()

    # partial selection writes exactly the named families
    part = str(tmp_path / "part")
    written2 = write_snapshot(part, docs=prior,
                              doc_families=("digests", "bands"))
    assert written2 == ["digests", "bands"]

    with pytest.raises(ValueError, match="doc_families"):
        write_snapshot(str(tmp_path / "bad"), docs=prior,
                       doc_families=("nope",))
    with pytest.raises(ValueError, match="append"):
        write_snapshot(out, docs=drop, doc_families=(),
                       mode="append")


@pytest.mark.parametrize("scope", ["band_mates", "full"])
def test_compaction_restores_shared_fragment_recall(spark, tmp_path, scope):
    """Fragment-recall restoration at compaction: a takedown whose
    segments are SHARED with a retained doc over-removes them from the
    tombstone epoch, but compact_snapshot(docs=retained) re-derives
    the shared digests from the retained sharers and re-emits them —
    the post-compaction probe still dedups the retained doc's
    segments, while the retracted doc's UNIQUE segments (and its exact
    content digest) stay re-admitted."""
    from scespet_spark.operators.dedup import incremental_segment_dedup
    from scespet_spark.operators.snapshot import (compact_snapshot,
                                                  read_bloom,
                                                  read_snapshot,
                                                  retract_snapshot,
                                                  write_snapshot)
    A = " ".join(f"shared{i}" for i in range(10))    # 1 segment, shared
    B = " ".join(f"uniq{i}" for i in range(10))      # unique to takedown
    B2 = " ".join(("CHANGED" if i == 3 else f"uniq{i}")
                  for i in range(10))                # retained near-copy
    prior = _docs(spark, [(100, f"{A} {B}"),     # the takedown
                          (101, f"{A} {B2}"),    # retained sharer
                          (102, "completely different retained content "
                                "x1 x2 x3 x4 x5 x6")])
    snap = str(tmp_path / "snap")
    write_snapshot(snap, docs=prior, bloom_fpp=0.01)
    # precondition for the band_mates scope: 100 and 101 share a band
    from scespet_spark.operators.dedup import banded_signatures
    bm = (banded_signatures(prior).groupBy("band", "band_hash")
          .agg(F.collect_set("doc_id").alias("ids"))
          .filter(F.array_contains("ids", 100)
                  & F.array_contains("ids", 101)).count())
    assert bm > 0

    retract_snapshot(snap, docs=prior.filter(F.col("doc_id") == 100))
    compact_snapshot(snap, spark,
                     docs=prior.filter(F.col("doc_id") != 100),
                     restore_scope=scope)

    tabs = read_snapshot(spark, snap)
    probe = _docs(spark, [
        (300, f"{A} novel tail n1 n2 n3 n4 n5 n6 n7 n8 n9"),  # shared seg
        (301, f"{B} novel tail m1 m2 m3 m4 m5 m6 m7 m8 m9")])  # uniq seg
    got = {r.doc_id: (r.n_kept, r.n_segments)
           for r in incremental_segment_dedup(
               probe, prior_segments=tabs["segments"]).collect()}
    # each probe doc = 21 tokens -> 3 segments; 300's first segment (A)
    # is STILL KNOWN -> dropped (2 of 3 kept); 301's first segment (B,
    # unique to the takedown) re-admitted -> all 3 kept
    assert got[300] == (2, 3), got
    assert got[301] == (3, 3), got
    # bloom rebuilt over the restored table: accelerated probe agrees
    bloom = read_bloom(spark, snap, "segments")
    fast = {r.doc_id: (r.n_kept, r.n_segments)
            for r in incremental_segment_dedup(
                probe, prior_segments=tabs["segments"],
                prior_bloom=bloom).collect()}
    assert fast == got
    # the takedown's exact content digest stays retracted (no restore)
    from scespet_spark.operators.dedup import incremental_keep
    re_crawl = _docs(spark, [(400, f"{A} {B}")])
    kept = incremental_keep(re_crawl, tabs["digests"],
                            prior_digest_col="content_hash").count()
    assert kept == 1


def test_compaction_restore_without_sharers_is_noop(spark, tmp_path):
    """No retained doc shares the takedown's fragments: restoration
    re-emits nothing and the compacted tables equal the plain fold."""
    from scespet_spark.operators.snapshot import (compact_snapshot,
                                                  read_snapshot,
                                                  retract_snapshot,
                                                  write_snapshot)
    prior = _docs(spark, [(100 + i, f"prior doc {i} body text content")
                          for i in range(5)])
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    for p in (a, b):
        write_snapshot(p, docs=prior)
        retract_snapshot(p, docs=prior.filter(F.col("doc_id") == 103))
    compact_snapshot(a, spark)
    compact_snapshot(b, spark, docs=prior.filter(F.col("doc_id") != 103))
    ta, tb = read_snapshot(spark, a), read_snapshot(spark, b)
    for fam in ("segments", "grams"):
        assert (sorted(map(tuple, ta[fam].collect()))
                == sorted(map(tuple, tb[fam].collect())))
