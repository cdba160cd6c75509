"""Unit tests for the training-data-pipeline operators (dedup,
similarity, text analysis, multimodal plumbing) on tiny in-memory data.
The oracle harness (tools/check_oracle.py) covers value parity on the
synthetic corpus; these pin the operator-level semantics."""

import pytest
from pyspark.sql import functions as F

from scespet_spark.operators.dedup import (
    embedding_near_dup_pairs, exact_groups, lsh_candidate_pairs,
    ngram_jaccard_pairs, shingles, simhash,
)
from scespet_spark.operators.multimodal import (
    attach_payload, decode_images, frame_sample,
)
from scespet_spark.operators.similarity import brute_force_topk, ivf_topk
from scespet_spark.operators.text import (
    fingerprint, lang_id, quality_score, token_stats,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup
        (2, "the quick brown fox leaps over the lazy dog", "en"),  # near dup
        (3, "der schnelle braune fuchs und die katze und der hund", "de"),
        (4, "completely different words entirely here now", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_groups(docs):
    out = exact_groups(docs).orderBy("rep_id").collect()
    assert [(r.rep_id, r.n_dups) for r in out] == [(0, 2), (2, 1), (3, 1), (4, 1)]


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "text string")
    [row] = df.select(shingles(F.col("text"), 3).alias("s")).collect()
    assert sorted(row.s) == ["a b c", "b c d"]
    # shorter than n -> single whole-text shingle
    df2 = spark.createDataFrame([("a b",)], "text string")
    [row2] = df2.select(shingles(F.col("text"), 3).alias("s")).collect()
    assert row2.s == ["a b"]


def test_lsh_finds_exact_and_near_dups(docs):
    pairs = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(docs).collect()}
    assert (0, 1) in pairs          # identical docs always collide
    assert all(a < b for a, b in pairs)


def test_simhash_identical_texts_equal(docs):
    out = {r.doc_id: r.simhash
           for r in simhash(docs.select("doc_id", "text")).collect()}
    assert out[0] == out[1]
    assert out[0] != out[4]


def test_ngram_jaccard(docs):
    out = {(r.id_a, r.id_b): r.jaccard
           for r in ngram_jaccard_pairs(docs, threshold=0.4).collect()}
    assert out[(0, 1)] == 1.0
    assert 0.4 <= out[(0, 2)] < 1.0
    assert (0, 4) not in out


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0], 0),
        (2, [0.0, 1.0, 0.0], 1),
        (3, [0.0, 0.95, 0.05], 1),
        (4, [-1.0, 0.0, 0.0], 0),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_brute_force_topk(vecs):
    out = brute_force_topk(vecs, [1.0, 0.0, 0.0], k=3).collect()
    assert [r.vec_id for r in out] == [0, 1, 2]
    assert out[0].score == 1.0
    assert out[-1].score == 0.0


def test_embedding_near_dup(vecs):
    pairs = {(r.id_a, r.id_b) for r in
             embedding_near_dup_pairs(vecs, block_col="label",
                                      threshold=0.9).collect()}
    assert pairs == {(0, 1), (2, 3)}


def test_ivf_probes_best_partition(vecs):
    out = ivf_topk(vecs, [1.0, 0.0, 0.0], k=2, nprobe=1).collect()
    # nprobe=1 -> only label 0 scanned; best two in that partition
    assert [r.vec_id for r in out] == [0, 1]


def test_pairwise_gemm_matches_arrow_cosine_fold(spark):
    """The r12 grouped-GEMM pair check must reproduce the per-pair
    Arrow cosine fold bit-for-bit: same pairs, same rounded scores, on
    a deterministic pseudo-random fixture with a LOW threshold so many
    scores land far from and near the rounding boundary."""
    import random

    from scespet_spark.operators.similarity import cosine
    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1.0, 1.0) for _ in range(16)], i % 3)
            for i in range(60)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")
    got = {(r.id_a, r.id_b): r.cosine for r in
           embedding_near_dup_pairs(df, block_col="label",
                                    threshold=0.2).collect()}
    n = df.select("vec_id", F.col("label").alias("__blk"),
                  F.col("embedding").alias("__v"))
    a, b = n.alias("a"), n.alias("b")
    ref = {(r.id_a, r.id_b): r.cosine for r in
           (a.join(b, [F.col("a.__blk") == F.col("b.__blk"),
                       F.col("a.vec_id") < F.col("b.vec_id")])
            .select(F.col("a.vec_id").alias("id_a"),
                    F.col("b.vec_id").alias("id_b"),
                    F.round(cosine(F.col("a.__v"), F.col("b.__v")), 6)
                    .alias("cosine"))
            .filter(F.col("cosine") >= 0.2)).collect()}
    assert got == ref
    assert len(got) > 10        # the fixture actually exercises pairs


def test_round6_matches_spark_round(spark):
    """`similarity._round6` must equal Spark's round(double, 6) —
    HALF_UP over the shortest decimal representation — including the
    boundary shapes the GEMM band logic hands it."""
    from scespet_spark.operators.similarity import _round6
    vals = [0.3499995, 0.35000049999, 0.3500005, -0.0000005, 0.0000005,
            1.0000005, 0.1234565, 0.9999994999999, -0.9999995,
            0.349999499999, 2.5e-7, -2.5e-7, 0.125, 1.0 / 3.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [r.r for r in df.select(F.round("x", 6).alias("r")).collect()]
    assert got == [_round6(v) for v in vals]


def test_token_stats(spark):
    df = spark.createDataFrame([(0, "ab cd, ef!")], "doc_id long, text string")
    [r] = token_stats(df).collect()
    assert r.n_ws_tokens == 3
    # regex tokens: ab, cd, ',', ef, '!'
    assert r.n_bpe_tokens == 5
    assert r.mean_token_len == pytest.approx((2 + 3 + 3) / 3, abs=1e-6)


def test_lang_id(spark):
    df = spark.createDataFrame([
        (0, "the cat and the dog of the house"),
        (1, "der hund und die katze und der vogel"),
        (2, "le chat et les chiens et le loup"),
    ], "doc_id long, text string")
    out = {r.doc_id: r.pred_lang for r in lang_id(df).collect()}
    assert out == {0: "en", 1: "de", 2: "fr"}


def test_quality_score_bounds(docs):
    for r in quality_score(docs).collect():
        assert 0.0 <= r.quality <= 1.0
        assert 0.0 <= r.stopword_ratio <= 1.0


def test_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame(
        [(0, "b a c"), (1, "c b a"), (2, "a b d")],
        "doc_id long, text string")
    out = {r.doc_id: r.fingerprint for r in fingerprint(df).collect()}
    assert out[0] == out[1]
    assert out[0] != out[2]


def test_multimodal_decode_deterministic(docs):
    import hashlib
    out = {r.doc_id: r for r in decode_images(attach_payload(docs)).collect()}
    assert set(out) == {0, 1, 2, 3, 4}
    text0 = "the quick brown fox jumps over the lazy dog"
    d = hashlib.md5(text0.encode()).digest()
    assert out[0].width == 64 + d[0] % 192
    assert out[0].height == 64 + d[1] % 192
    assert out[0].n_bytes == len(text0)
    assert out[0].sig == hashlib.md5(text0.encode()).hexdigest()
    # identical payloads decode identically
    assert (out[0].width, out[0].height) == (out[1].width, out[1].height)


def test_resize_preserves_aspect_and_bounds(docs):
    from scespet_spark.operators.multimodal import resize_images
    out = resize_images(attach_payload(docs), max_side=128).collect()
    assert len(out) == 5
    for r in out:
        assert max(r.out_w, r.out_h) == 128  # long side hits the target
        assert r.out_w == r.width * 128 // max(r.width, r.height)
        assert r.out_h == r.height * 128 // max(r.width, r.height)


def test_audio_features_frame_expansion(docs):
    from scespet_spark.operators.multimodal import audio_features
    out = audio_features(attach_payload(docs), frame_ms=1000)
    rows = out.filter(F.col("doc_id") == 0).orderBy("frame_idx").collect()
    dur = rows[0].duration_ms
    assert [r.frame_idx for r in rows] == list(range(dur // 1000 + 1))
    assert all(0.0 <= r.energy < 1.0 for r in rows)
    assert len({r.sample_rate for r in rows}) == 1


def test_frame_sample_stride(docs):
    out = frame_sample(attach_payload(docs), every_n=10)
    rows = out.filter(F.col("doc_id") == 0).orderBy("frame_idx").collect()
    n_bytes = len("the quick brown fox jumps over the lazy dog")
    n_frames = n_bytes % 90 + 10
    assert [r.frame_idx for r in rows] == list(range(0, n_frames, 10))


def test_load_csv_source(spark, tmp_path):
    # reference reads tab-separated trade dumps (RealTradeTests.scala:53-94)
    p = tmp_path / "trades.tsv"
    p.write_text("1\tACME\t10.5\n2\tACME\t11.0\n3\tBETA\t7.25\n")
    from scespet_spark.sources.batch import load_csv
    s = load_csv(spark, str(p), "ts long, name string, price double")
    rows = s.df.orderBy("ts").collect()
    assert [(r.ts, r.name, r.price) for r in rows] == [
        (1, "ACME", 10.5), (2, "ACME", 11.0), (3, "BETA", 7.25)]
    assert s.t == "ts" and s.seq == "seq"


def test_key_to_stream_left_join(spark):
    from scespet_spark import Stream
    from pyspark.sql import functions as F
    keys = Stream(spark.createDataFrame(
        [("a", 0, 0), ("b", 0, 0), ("c", 0, 0)], "k string, ts long, seq long"),
        t="ts", seq="seq", keys=("k",))
    fac = Stream(spark.createDataFrame(
        [("a", 1, 0, 10.0), ("a", 2, 1, 11.0), ("b", 1, 2, 5.0)],
        "k string, ts long, seq long, v double"), t="ts", seq="seq", keys=("k",))
    out = keys.key_to_stream(fac).df.orderBy("k", "ts").collect()
    got = [(r.k, r.ts, r.v) for r in out]
    # 'c' has no factory events -> unbound-cell null row survives
    assert got == [("a", 1, 10.0), ("a", 2, 11.0), ("b", 1, 5.0),
                   ("c", None, None)]


def test_chunk_documents_windows(spark):
    from scespet_spark.operators.text import chunk_documents
    df = spark.createDataFrame(
        [(0, " ".join(f"w{i}" for i in range(10))), (1, "a b")],
        "doc_id long, text string")
    rows = chunk_documents(df, size=4, overlap=1).orderBy(
        "doc_id", "chunk_idx").collect()
    got = [(r.doc_id, r.chunk_idx, r.chunk_text, r.n_tokens) for r in rows]
    assert got == [
        (0, 0, "w0 w1 w2 w3", 4), (0, 1, "w3 w4 w5 w6", 4),
        (0, 2, "w6 w7 w8 w9", 4),  # stride 3, last window full
        (1, 0, "a b", 2),          # short doc -> exactly one chunk
    ]


def test_chunk_documents_rejects_bad_overlap(spark):
    from scespet_spark.operators.text import chunk_documents
    df = spark.createDataFrame([(0, "a")], "doc_id long, text string")
    with pytest.raises(ValueError):
        chunk_documents(df, size=4, overlap=4)


def test_stratified_sample_deterministic(docs):
    from scespet_spark.operators.text import stratified_sample
    a = sorted(r.doc_id for r in stratified_sample(
        docs, "lang", {"en": 0.5}, default_rate=1.0).collect())
    b = sorted(r.doc_id for r in stratified_sample(
        docs.repartition(7), "lang", {"en": 0.5}, default_rate=1.0).collect())
    assert a == b  # reproducible under re-partitioning
    # default_rate=1.0 keeps every non-en row
    non_en = {r.doc_id for r in docs.filter("lang <> 'en'").collect()}
    assert non_en <= set(a)


def test_redact_pii(spark):
    from scespet_spark.operators.text import redact
    df = spark.createDataFrame(
        [(0, "mail bob@x.com or +1 555-123-4567 from 10.0.0.1"),
         (1, "nothing to hide")], "doc_id long, text string")
    rows = {r.doc_id: (r.clean_text, r.n_redactions)
            for r in redact(df).collect()}
    assert rows[0] == ("mail <EMAIL> or <PHONE> from <IP>", 3)
    assert rows[1] == ("nothing to hide", 0)


def test_connected_components_chain_and_islands(spark):
    from scespet_spark.operators.dedup import connected_components
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (7, 8), (10, 11), (11, 9)],
        "id_a long, id_b long")
    got = sorted((r.id, r.cluster)
                 for r in connected_components(pairs).collect())
    assert got == [(1, 1), (2, 1), (3, 1), (4, 1), (7, 7), (8, 7),
                   (9, 9), (10, 9), (11, 9)]


def test_batch_topk_self_is_top1(spark):
    from scespet_spark.operators.similarity import batch_topk
    from pyspark.sql import functions as F
    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.9, 0.1])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.limit(2).select(F.col("vec_id").alias("q_id"),
                           F.col("embedding").cast("array<double>").alias("q_vec"))
    out = batch_topk(df, q, k=2).collect()
    top1 = {r.q_id: r.vec_id for r in out if r.rnk == 1}
    assert top1 == {0: 0, 1: 1}  # each query's nearest neighbor is itself


def test_hard_negatives_excludes_own_label(spark):
    from scespet_spark.operators.similarity import hard_negatives
    from pyspark.sql import functions as F
    # vec 0 (label 0) is nearly identical to vec 2 (label 0) and vec 3
    # (label 1): the same-label near-dup must NOT appear as a negative
    rows = [(0, [1.0, 0.0], 0), (1, [0.0, 1.0], 1),
            (2, [0.99, 0.01], 0), (3, [0.98, 0.02], 1)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    q = (df.filter(F.col("vec_id") == 0)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("label").alias("q_label"),
                 F.col("embedding").cast("array<double>").alias("q_vec")))
    out = hard_negatives(df, q, k=2).collect()
    assert all(r.label != 0 for r in out)
    assert [r.vec_id for r in sorted(out, key=lambda r: r.rnk)] == [3, 1]


def test_kmeans_codes_partitions_all_points(spark):
    from scespet_spark.operators.similarity import kmeans_codes
    rows = [(i, [float(i % 2) * 10 + j * 0.01, float(i % 2)])
            for i, j in ((i, i) for i in range(20))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans_codes(df, k=2, iters=4).collect()
    assert len(out) == 20 and len({r.vec_id for r in out}) == 20
    # two well-separated blobs -> codes split them exactly by parity
    by_code = {}
    for r in out:
        by_code.setdefault(r.code, set()).add(r.vec_id % 2)
    assert all(len(v) == 1 for v in by_code.values())


def test_timer_spine_periodic_source(spark):
    # reference: util/Timer.scala:10-30 — periodic ticks as a generated
    # spine (sequence + explode, no driver loop)
    from scespet_spark.sources.batch import timer_spine
    s = timer_spine(spark, "2024-01-01", "2024-01-02", "6 hours")
    ticks = [r.ts.isoformat() for r in s.df.orderBy("ts").collect()]
    assert len(ticks) == 5  # inclusive endpoints, 6h step
    assert ticks[0] == "2024-01-01T00:00:00"
    assert ticks[-1] == "2024-01-02T00:00:00"


def test_as_vector_literal_keyset(spark):
    # reference: asVector, EnvTermBuilder.scala:59-62 — literal keyset
    # becomes a keyed stream, every cell initialised at t=0
    from scespet_spark.sources.batch import as_vector
    s = as_vector(spark, ["a", "b", "c"])
    rows = s.df.orderBy("seq").collect()
    assert [r.key for r in rows] == ["a", "b", "c"]
    assert s.keys == ("key",)
    assert all(r.ts.timestamp() == 0 for r in rows)


def test_random_events_deterministic_and_distributed(spark):
    # reference: EventGenerator/newRandom, test/programs/package.scala:16-52
    # — seeded rand() must reproduce; generation is spark.range (no
    # driver-side loop), so the plan has no LocalTableScan of n rows
    from scespet_spark.sources.batch import random_events
    a = random_events(spark, 100, seed=7).df.collect()
    b = random_events(spark, 100, seed=7).df.collect()
    assert a == b
    assert len(a) == 100
    assert all(0 <= r.value <= 100 for r in a)


def test_show_console_sink(spark, capsys):
    # reference: out(prefix)/TermPrint, util/package.scala:44-56
    from scespet_spark.sources.batch import random_events, show
    show(random_events(spark, 3), prefix="evt:")
    out = capsys.readouterr().out
    assert "evt:" in out and "value" in out


def test_decontaminate_flags_exact_overlap(spark):
    from scespet_spark.operators.pipeline import decontaminate
    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "totally unrelated words here")],
        "doc_id long, text string")
    ev = spark.createDataFrame(
        [(9, "quick brown fox runs far")], "doc_id long, text string")
    got = {r.doc_id: r.n_hit_ngrams for r in decontaminate(train, ev).collect()}
    # shared 3-gram: "quick brown fox" -> doc 1 only
    assert got == {1: 1}


def test_pack_sequences_matches_plain_cumsum(spark):
    from scespet_spark.operators.pipeline import pack_sequences
    rows = [(i, " ".join(["w"] * ((i * 7) % 13 + 1))) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.start_tok, r.seq_first, r.seq_last, r.off_in_seq)
           for r in pack_sequences(df, budget=16, bucket_size=10).collect()}
    cum = 0
    for i in range(100):
        n = (i * 7) % 13 + 1
        start = cum
        cum += n
        assert got[i] == (start, start // 16, (cum - 1) // 16, start % 16), i


def test_shuffle_deterministic_is_stable_and_spread(spark):
    from scespet_spark.operators.pipeline import shuffle_deterministic
    df = spark.createDataFrame([(i,) for i in range(256)], "doc_id long")
    a = {r.doc_id: (r.sort_key, r.shard)
         for r in shuffle_deterministic(df, seed="7").collect()}
    b = {r.doc_id: (r.sort_key, r.shard)
         for r in shuffle_deterministic(df, seed="7").collect()}
    assert a == b                                   # reproducible
    assert len({v[1] for v in a.values()}) > 32     # actually spreads
    c = {r.doc_id for r in shuffle_deterministic(df, seed="8").collect()}
    assert c == set(a)                              # permutation, new seed ok


def test_quantize_embeddings_roundtrip_and_degenerate(spark):
    from scespet_spark.operators.pipeline import quantize_embeddings
    df = spark.createDataFrame(
        [(1, [0.0, 0.5, 1.0]), (2, [3.0, 3.0, 3.0])],
        "vec_id long, embedding array<double>")
    got = {r.vec_id: (r.vmin, r.vmax, r.q) for r in quantize_embeddings(df).collect()}
    assert got[1] == (0.0, 1.0, [0, 128, 255])      # 0.5*255=127.5 -> floor+0.5=128
    assert got[2] == (3.0, 3.0, [0, 0, 0])          # constant vector


def test_repetition_stats_detects_repeats(spark):
    from scespet_spark.operators.text import repetition_stats
    df = spark.createDataFrame(
        [(1, "spam spam spam spam"), (2, "all words are different here"), (3, "")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_stats(df).collect()}
    assert got[1].n_tokens == 4
    assert got[1].distinct_token_ratio == 0.25
    assert got[1].distinct_bigram_ratio == pytest.approx(1 / 3, abs=1e-6)
    assert got[1].top_token_share == 1.0
    assert got[2].distinct_token_ratio == 1.0
    assert got[2].top_token_share == 0.2
    assert got[3].n_tokens == 0
    assert got[3].distinct_token_ratio is None
    assert got[3].top_token_share is None


def test_arrow_udf_null_and_ragged_vector_guards(spark):
    # the Arrow UDFs must degrade to null on null / empty / mismatched
    # vectors (the old Column-expression behavior), not crash np.stack
    from scespet_spark.operators.pipeline import quantize_embeddings
    from scespet_spark.operators.similarity import cosine, sign_lsh_code

    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, None), (3, []), (4, [5.0, 5.0])],
        "vec_id long, embedding array<double>")

    q = {r.vec_id: r.q for r in quantize_embeddings(df).collect()}
    assert q[1] == [0, 128, 255]
    assert q[2] is None and q[3] is None
    assert q[4] == [0, 0]  # constant vector -> all-zero codes

    c = {r.vec_id: r.s for r in df.withColumn(
        "s", cosine(F.col("embedding"),
                    F.array(F.lit(1.0), F.lit(2.0), F.lit(3.0))))
        .collect()}
    assert c[1] == pytest.approx(1.0)
    assert c[2] is None     # null vector
    assert c[3] is None     # empty vector
    assert c[4] is None     # length mismatch (2 vs 3)

    codes = {r.vec_id: r.code for r in df.withColumn(
        "code", sign_lsh_code(F.col("embedding"), dim=3)).collect()}
    assert codes[1] is not None
    assert codes[2] is None and codes[3] is None and codes[4] is None


def test_lsh_pairs_reuse_exchange_without_persist(docs):
    """Both sides of the band self-join plan the same Exchange, so
    Spark's exchange reuse computes the band table once: the executed
    plan reads it through a ReusedExchange, nothing is cached, and the
    pairs are the bucket co-members of the band table."""
    from collections import defaultdict

    from scespet_spark.operators import dedup
    dedup.release_cached()  # drain what earlier tests registered
    pairs = dedup.lsh_candidate_pairs(docs)
    got = sorted(tuple(r) for r in pairs.collect())
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan
    assert "InMemoryTableScan" not in plan
    assert dedup.release_cached() == 0
    assert dedup.release_cached() == 0
    buckets = defaultdict(set)
    for r in dedup.banded_signatures(docs).collect():
        buckets[(r.band, r.band_hash)].add(r.doc_id)
    want = sorted({(a, b) for ids in buckets.values()
                   for a in ids for b in ids if a < b})
    assert got == want and (0, 1) in got


def test_token_doc_freq(docs):
    from scespet_spark.operators.text import token_doc_freq
    freq = {r.token: r.doc_freq for r in token_doc_freq(docs).collect()}
    assert freq["the"] == 3      # docs 0, 1, 2 (distinct per doc)
    assert freq["fox"] == 3
    assert freq["leaps"] == 1


def test_corpus_idf_quality(docs):
    import math
    from scespet_spark.operators.text import corpus_idf_quality
    out = {r.doc_id: r for r in corpus_idf_quality(docs).collect()}
    assert out[0].mean_idf == out[1].mean_idf  # identical docs
    # doc 4's tokens are all unique to it -> every idf = ln(5/1)
    assert out[4].mean_idf == pytest.approx(math.log(5.0), abs=1e-6)
    assert out[0].n_distinct_tokens == 8


def test_source_quota_sample(spark):
    from scespet_spark.operators.text import source_quota_sample
    rows = [(i, f"t{i}", "en", f"s{i % 3}", 2) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, "
                                     "source string, n_chars long")
    out = source_quota_sample(df, 5)
    per = {r.source: r.cnt for r in
           out.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    assert per == {"s0": 5, "s1": 5, "s2": 5}
    # deterministic: same rows on re-run
    ids1 = sorted(r.doc_id for r in out.collect())
    ids2 = sorted(r.doc_id for r in source_quota_sample(df, 5).collect())
    assert ids1 == ids2
    assert out.columns == df.columns
    # quota >= source size keeps everything
    assert source_quota_sample(df, 100).count() == 60


def test_pq_train_and_adc(vecs):
    from scespet_spark.operators.similarity import pq_adc_topk, pq_train
    # 3-dim vectors: m=3 subspaces of 1 dim, 2 centroids each
    codes, cents = pq_train(vecs, m=3, dsub=1, ksub=2, iters=2)
    rows = codes.collect()
    assert len(rows) == 5 * 3                      # m rows per vector
    assert {r.sub for r in rows} == {0, 1, 2}
    assert all(r.code in (0, 1) for r in rows)
    n_cents = cents.count()                        # <= m * ksub: Lloyd's
    assert 3 <= n_cents <= 6                       # drops emptied clusters
    # determinism: identical on re-run
    again = pq_train(vecs, m=3, dsub=1, ksub=2, iters=2)[0].collect()
    key = lambda r: (r.vec_id, r.sub)  # noqa: E731
    assert sorted((r.vec_id, r.sub, r.code) for r in rows) == \
           sorted((r.vec_id, r.sub, r.code) for r in again)

    out = pq_adc_topk(vecs, [1.0, 0.0, 0.0], k=3, shortlist=5,
                      m=3, dsub=1, ksub=2, iters=2).collect()
    # exact re-rank puts the identical vector first
    assert out[0].vec_id == 0 and out[0].score == 1.0
    assert all(isinstance(r.adc_microdist, int) for r in out)


def test_bigram_lm_score(spark):
    import math
    from scespet_spark.operators.text import bigram_lm_score
    df = spark.createDataFrame(
        [(0, "a b a b a b"), (1, "a b a b a b"), (2, "x q z p w m"),
         (3, "a"), (4, "")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in bigram_lm_score(df).collect()}
    assert 3 not in out and 4 not in out       # <2 tokens: no bigrams
    assert out[0].n_bigrams == 5
    assert out[0].mean_logp == out[1].mean_logp
    # the common-transition docs score higher than the all-rare one
    assert out[0].mean_logp > out[2].mean_logp
    assert out[2].mean_logp < 0 and not math.isnan(out[2].mean_logp)


def test_profile_columns(spark):
    from scespet_spark.operators.text import profile_columns
    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, None, "b"), (4, 40.0, None)],
        "k long, v double, s string")
    out = {r.column: r for r in profile_columns(df).collect()}
    assert set(out) == {"k", "v", "s"}
    assert out["k"].n_rows == 4 and out["k"].n_nulls == 0
    assert out["v"].n_nulls == 1 and out["v"].n_distinct == 3
    assert out["s"].n_nulls == 1 and out["s"].n_distinct == 2
    assert out["s"].vmin is None          # non-numeric: no value stats
    assert out["k"].vmin == 1.0 and out["k"].vmax == 4.0
    assert out["k"].p50 == 2.5            # exact interpolated median
    assert out["v"].vmean == pytest.approx(70.0 / 3, abs=1e-6)


def test_cc_star_matches_label_propagation(spark):
    import random
    from scespet_spark.operators.dedup import connected_components
    rng = random.Random(7)
    for trial in range(3):
        n = 40
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(25)]
        edges = [(x, y) for x, y in edges if x != y]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        lab = {r.id: r.cluster
               for r in connected_components(
                   df, driver_threshold=0).collect()}
        star = {r.id: r.cluster
                for r in connected_components(
                    df, algorithm="star", driver_threshold=0).collect()}
        # the r12 driver union-find fast path must agree with both
        fast = {r.id: r.cluster
                for r in connected_components(df).collect()}
        assert lab == fast, f"trial {trial}"
        assert lab == star, f"trial {trial}"


def test_cc_star_long_chain(spark):
    from scespet_spark.operators.dedup import connected_components
    # a 60-node chain: diameter 60 defeats shallow label propagation
    # budgets, but the star method flattens it in O(log n) rounds
    chain = [(i, i + 1) for i in range(60)]
    df = spark.createDataFrame(chain, "id_a long, id_b long")
    out = connected_components(df, algorithm="star", max_iters=10,
                               driver_threshold=0).collect()
    assert all(r.cluster == 0 for r in out)
    assert len(out) == 61


def test_shingle_digest_count_parity(spark):
    """Digest shingles must be count-identical to string shingles on
    non-degenerate docs (collisions at these sizes are ~n^2/2^32 —
    effectively impossible for 40-token docs)."""
    import random
    from scespet_spark.operators.dedup import (shingle_hashes, shingles,
                                               token_hash_array)
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(30)]
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(40)))
            for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = (df.select("doc_id",
                     F.size(shingles(F.col("text"), 3)).alias("ns"),
                     token_hash_array(F.col("text")).alias("__hs"))
           .select("doc_id", "ns",
                   F.size(shingle_hashes(F.col("__hs"), 3)).alias("nh"))
           .collect())
    for r in got:
        assert r.ns == r.nh, r.doc_id


def test_source_quota_equals_bruteforce_reference(spark):
    """End-to-end exactness invariant: the quota sample must equal the
    brute-force top-quota by (hash, id) per source, independent of which
    internal path (prefilter or fallback) produced it."""
    import hashlib
    import random
    from scespet_spark.operators.text import source_quota_sample
    rng = random.Random(3)
    rows = [(i, f"t{i}", "en", f"s{rng.randrange(4)}", 1)
            for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, "
                                     "source string, n_chars long")

    def h(i):
        return int(hashlib.md5(f"7:{i}".encode()).hexdigest()[:15], 16) % (1 << 20)

    expect = set()
    by_src = {}
    for i, _, _, s, _ in rows:
        by_src.setdefault(s, []).append(i)
    for s, ids in by_src.items():
        expect |= set(sorted(ids, key=lambda i: (h(i), i))[:17])
    got = {r.doc_id for r in source_quota_sample(df, 17).collect()}
    assert got == expect


def test_source_quota_exact_with_zero_survivor_sources(spark):
    """quota=1 over many multi-row sources: ~13% of sources have their
    prefilter admit ZERO rows (cutoff ~2/count of the hash range misses
    every row with p=exp(-2)); the fallback must re-admit those sources
    whole, not silently drop them (round-4 advice, text.py:381)."""
    import hashlib
    from scespet_spark.operators.text import source_quota_sample
    rows = [(s * 10 + j, f"t{s}", "en", f"s{s}", 1)
            for s in range(60) for j in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string, "
                                     "source string, n_chars long")

    def h(i):
        return int(hashlib.md5(f"7:{i}".encode()).hexdigest()[:15], 16) % (1 << 20)

    out = source_quota_sample(df, 1)
    # every source must contribute exactly its lowest-hash row
    got = {r.source: r.doc_id for r in out.collect()}
    assert len(got) == 60, f"dropped sources: {60 - len(got)}"
    for s in range(60):
        ids = [s * 10 + j for j in range(10)]
        assert got[f"s{s}"] == min(ids, key=lambda i: (h(i), i))


def test_kmeans_codes_rejects_empty_input(spark):
    from scespet_spark.operators.similarity import kmeans_codes
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="empty"):
        kmeans_codes(empty, k=2, iters=1)


def test_profile_columns_subpercent_percentiles(spark):
    from scespet_spark.operators.text import profile_columns
    df = spark.createDataFrame([(float(i),) for i in range(1, 1001)],
                               "v double")
    out = {r.column: r for r in
           profile_columns(df, percentiles=(0.99, 0.995)).collect()}
    # distinct labels, no AnalysisException, correct exact values
    assert out["v"].p99 == pytest.approx(990.01, abs=1e-6)
    assert out["v"].p99_5 == pytest.approx(995.005, abs=1e-6)


def test_profile_columns_approx_close_to_exact(spark):
    from scespet_spark.operators.text import profile_columns
    df = spark.createDataFrame([(float(i),) for i in range(1, 2001)],
                               "v double")
    exact = {r.column: r for r in profile_columns(df).collect()}
    approx = {r.column: r for r in
              profile_columns(df, approx=True).collect()}
    # identical schema/counts; percentiles within sketch tolerance
    assert exact["v"].n_rows == approx["v"].n_rows == 2000
    assert approx["v"].vmin == 1.0 and approx["v"].vmax == 2000.0
    for lb in ("p25", "p50", "p75"):
        assert abs(getattr(approx["v"], lb) - getattr(exact["v"], lb)) \
            <= 2.0, lb


def test_lsh_custom_id_col_and_bands_validation(spark, docs):
    from scespet_spark.operators.dedup import lsh_candidate_pairs
    import pytest as _pytest
    renamed = docs.withColumnRenamed("doc_id", "vec_id")
    out = lsh_candidate_pairs(renamed, id_col="vec_id")  # must not crash
    assert set(out.columns) == {"id_a", "id_b"}
    out.count()
    with _pytest.raises(ValueError, match="evenly divide"):
        lsh_candidate_pairs(docs, num_hashes=16, bands=3)
    with _pytest.raises(ValueError, match="evenly divide"):
        lsh_candidate_pairs(docs, num_hashes=16, bands=20)


def test_connected_components_raises_when_unconverged(spark):
    from scespet_spark.operators.dedup import connected_components
    import pytest as _pytest
    chain = spark.createDataFrame([(i, i + 1) for i in range(12)],
                                  "id_a long, id_b long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iters=3, driver_threshold=0)
    ok = connected_components(chain, max_iters=20, driver_threshold=0)
    assert ok.filter("cluster <> 0").count() == 0  # one chain, root 0


def test_simhash_preserves_tokenless_docs(spark):
    from scespet_spark.operators.dedup import simhash
    df = spark.createDataFrame(
        [(0, "hello world"), (1, ""), (2, "   ")],
        "doc_id long, text string")
    out = {r.doc_id: r.simhash for r in simhash(df).collect()}
    assert set(out) == {0, 1, 2}  # empty docs keep a row
    assert out[1] == 0 and out[2] == 0
    assert out[0] != 0


def test_incremental_keep_first_wins_and_anti_join(spark):
    from scespet_spark.operators.dedup import incremental_keep
    prior = spark.createDataFrame(
        [(100, "seen before"), (101, "also seen")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "seen before"),        # dup of prior -> dropped
         (2, "fresh one"),          # kept
         (3, "fresh one"),          # within-batch dup -> min id wins
         (4, "another fresh")],     # kept
        "doc_id long, text string")
    kept = sorted(r.doc_id for r in incremental_keep(new, prior).collect())
    assert kept == [2, 4]


def test_incremental_keep_prior_digest_reuse(spark):
    """The 100 TB path: the prior corpus arrives as a digest table, not
    text; results must be identical to re-hashing the prior text."""
    from scespet_spark.operators.dedup import incremental_keep
    from scespet_spark.operators.hashing import h64
    prior = spark.createDataFrame(
        [(100, "seen before")], "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "seen before"), (2, "fresh")], "doc_id long, text string")
    via_text = incremental_keep(new, prior)
    digests = prior.select(h64(F.col("text")).alias("d"))
    via_digest = incremental_keep(new, digests, prior_digest_col="d")
    assert sorted(via_text.collect()) == sorted(via_digest.collect())
    assert [r.doc_id for r in via_digest.collect()] == [2]


def test_mixture_sample_caps_and_drops(spark):
    from scespet_spark.operators.text import mixture_sample
    rows = [(i, f"t{i}", "a" if i < 40 else ("b" if i < 50 else "c"))
            for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    # b is scarcer (10 rows) than its target 0.5*40=20 -> p caps at 1,
    # ALL of b kept; c absent from weights -> dropped entirely
    out = mixture_sample(df, {"a": 0.5, "b": 0.5}, total=40)
    by_src = {r.source: r["count"] for r in
              out.groupBy("source").count().collect()}
    assert by_src.get("b") == 10
    assert "c" not in by_src
    # a: p = 0.5*40/40 = 0.5 -> roughly half in expectation; exact count
    # is deterministic, so a repeat run is identical
    again = mixture_sample(df, {"a": 0.5, "b": 0.5}, total=40)
    assert sorted(out.collect()) == sorted(again.collect())
    assert out.columns == df.columns


def test_incremental_near_dup_and_band_table_reuse(spark):
    from scespet_spark.operators.dedup import (banded_signatures,
                                               incremental_near_dup)
    prior = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),  # exact
         (2, "the quick brown fox jumps over the lazy cat"),  # near
         (3, "completely different words entirely here now")],
        "doc_id long, text string")
    via_text = incremental_near_dup(new, prior)
    hits = {r.doc_id: r.n_hit_bands for r in via_text.collect()}
    assert 1 in hits and hits[1] == 4      # exact dup collides all bands
    assert 3 not in hits                   # disjoint text never collides
    # snapshot path: prior arrives as its banded signature table
    pb = banded_signatures(prior)
    via_table = incremental_near_dup(new, prior=None, prior_bands=pb)
    assert sorted(via_text.collect()) == sorted(via_table.collect())


def test_ivfpq_restricts_adc_to_probed_cells(vecs):
    """ivfpq_topk must only surface ids from the nprobe best coarse
    cells, and must equal pq_adc_topk hand-restricted to those members
    (corpus-wide codebooks, probed-cell ADC)."""
    from scespet_spark.operators import similarity
    from scespet_spark.operators.similarity import ivfpq_topk, pq_adc_topk
    q = [1.0, 0.0, 0.0]
    kw = dict(k=3, shortlist=4, m=1, dsub=3, ksub=2, iters=1)
    out = ivfpq_topk(vecs, q, nprobe=1, **kw).collect()
    # nprobe=1 with this query lands on label 0 (x-axis cluster)
    assert {r.vec_id for r in out} <= {0, 1, 4}
    by_hand = pq_adc_topk(
        vecs, q, members=vecs.filter("label = 0").select("vec_id"),
        **kw).collect()
    assert sorted(out) == sorted(by_hand)
    similarity.release_cached()


def test_incremental_roundtrip_equals_scratch_dedup_of_union(spark):
    """The continuous-corpus-build story, property-tested across two
    simulated snapshots of the REAL documents table: composing
    incremental_keep + incremental_near_dup(prior_bands=...) snapshot
    by snapshot must land exactly where a from-scratch dedup of the
    union lands (r5 VERDICT item #7).

    Snapshot 1 = documents with doc_id <= median, snapshot 2 = the rest
    (id order mirrors crawl order, so first-wins is well-defined)."""
    from scespet_spark.operators.dedup import (banded_signatures,
                                               exact_groups,
                                               incremental_keep,
                                               incremental_near_dup,
                                               lsh_candidate_pairs,
                                               ngram_jaccard_pairs)
    from scespet_spark.sources.batch import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    snap1 = docs.filter(F.col("doc_id") <= mid)
    snap2 = docs.filter(F.col("doc_id") > mid)

    # -- exact path: snapshot-1 digest table + incremental batch keep --
    g1 = exact_groups(snap1)  # the materialized snapshot artifact
    kept1 = {r.rep_id for r in g1.collect()}
    kept2 = {r.doc_id for r in
             incremental_keep(snap2, g1,
                              prior_digest_col="content_hash").collect()}
    scratch = {r.rep_id for r in exact_groups(docs).collect()}
    assert kept1 | kept2 == scratch
    assert not (kept1 & kept2)

    # -- near-dup path: snapshot-1 band table + incremental probe --
    pb1 = banded_signatures(snap1)  # the materialized snapshot artifact
    suspects2 = {r.doc_id for r in
                 incremental_near_dup(snap2, prior_bands=pb1).collect()}
    # from-scratch: band the UNION once, split by snapshot, re-derive
    # which snap2 docs share a bucket with snap1 — must be identical
    # (signatures are deterministic, so the probe path loses nothing)
    ub = banded_signatures(docs)
    b1 = (ub.join(snap1.select("doc_id"), "doc_id", "left_semi")
          .select("band", "band_hash").distinct())
    b2 = ub.join(snap2.select("doc_id"), "doc_id", "left_semi")
    scratch_suspects = {r.doc_id for r in
                        b2.join(b1, ["band", "band_hash"])
                        .select("doc_id").distinct().collect()}
    assert suspects2 == scratch_suspects

    # -- verification closes the loop: every VERIFIED cross-snapshot
    # near-dup pair's new-side doc must already be in the suspect set
    # (a verified pair shared a band, so the probe caught it)
    cand = lsh_candidate_pairs(docs)
    verified = ngram_jaccard_pairs(docs, candidates=cand, threshold=0.5)
    cross_new = {r.id_b for r in verified.collect()
                 if r.id_a <= mid < r.id_b} | \
                {r.id_a for r in verified.collect()
                 if r.id_b <= mid < r.id_a}
    assert cross_new <= suspects2


def test_ivf_assign_and_index_serving(vecs):
    """Incremental IVF maintenance: new vectors assign to the nearest
    EXISTING centroid (deterministic tie-break), and index serving
    surfaces only members of the probed cells, exactly scored."""
    from scespet_spark.operators.similarity import (ivf_assign,
                                                    ivf_topk_from_index,
                                                    label_centroids)
    spark = vecs.sparkSession
    cents = label_centroids(vecs)  # cell 0 ~ +x-ish, cell 1 ~ +y
    new = spark.createDataFrame(
        [(10, [0.0, 1.0, 0.0]),      # clearly cell 1
         (11, [1.0, 0.05, 0.0])],    # clearly cell 0
        "vec_id long, embedding array<float>")
    got = {r.vec_id: r.cell for r in ivf_assign(new, cents).collect()}
    assert got == {10: 1, 11: 0}

    # serving with nprobe=1 against +y must return ONLY cell-1 members
    codes = ivf_assign(vecs, cents).unionByName(ivf_assign(new, cents))
    out = ivf_topk_from_index(vecs.unionByName(
        new.withColumn("label", F.lit(-1))), codes, cents,
        [0.0, 1.0, 0.0], k=10, nprobe=1)
    ids = [r.vec_id for r in out.collect()]
    # vec 4 ([-1,0,0]) also lands in cell 1: cosine 0 vs cell 0's
    # negative — assignment follows geometry, not the original label
    assert set(ids) == {2, 3, 4, 10}
    # exact ordering by cosine desc then id: 2 and 10 tie at 1.0
    assert ids[:2] == [2, 10] and ids[-1] == 4


def test_incremental_embedding_probe_matches_from_scratch(spark):
    """The embedding probe against a materialized prior block table must
    equal re-deriving blocks from scratch over the union, and its hits
    must be exactly the cross-snapshot subset of the self-join pairs."""
    from scespet_spark.operators.dedup import (embedding_block_table,
                                               embedding_near_dup_pairs,
                                               incremental_embedding_near_dup)
    from scespet_spark.operators.similarity import sign_lsh_code
    from scespet_spark.sources.batch import load_table
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cut = emb.agg(F.max("vec_id")).collect()[0][0] // 2
    prior = embedding_block_table(emb.filter(F.col("vec_id") <= cut))
    new = emb.filter(F.col("vec_id") > cut)
    got = incremental_embedding_near_dup(new, prior, threshold=0.35)

    # from-scratch: all within-block pairs over the union, restricted to
    # (prior, new) and reduced to best-per-new — block codes are
    # deterministic, so the probe must lose nothing
    pairs = embedding_near_dup_pairs(
        emb, block_code=sign_lsh_code(F.col("embedding"), dim=64, bits=6),
        threshold=0.35)
    cross = (pairs.filter((F.col("id_a") <= cut) & (F.col("id_b") > cut))
             .select(F.col("id_b").alias("vec_id"),
                     F.col("id_a").alias("prior_id"), "cosine"))
    from pyspark.sql import Window as W
    w = W.partitionBy("vec_id").orderBy(F.col("cosine").desc(),
                                        F.col("prior_id"))
    want = (cross.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1").drop("rn"))
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))
    assert got.count() > 0


def test_weighted_sample_deterministic_and_weight_biased(spark):
    """A-ES weighted sampling: reproducible across runs/partitionings,
    zero/null weights never sample, and heavy rows are preferred (the
    heaviest-weight stratum must dominate a small sample)."""
    from scespet_spark.operators.text import weighted_sample
    rows = [(i, 1000.0 if i < 50 else 1.0) for i in range(1000)]
    rows += [(2000, 0.0), (2001, None)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    got = sorted(r.doc_id for r in weighted_sample(df, "w", 40).collect())
    again = sorted(r.doc_id for r in
                   weighted_sample(df.repartition(7), "w", 40).collect())
    assert got == again                    # deterministic, layout-proof
    assert 2000 not in got and 2001 not in got
    heavy = sum(1 for d in got if d < 50)
    assert heavy >= 30                     # 1000x weight dominates


def test_snapshot_roundtrip_feeds_every_incremental_probe(spark, tmp_path):
    """write_snapshot -> read_snapshot -> every incremental probe gives
    identical results to the inline (un-persisted) path: the snapshot
    tables ARE the operators' prior sides, on disk."""
    from scespet_spark.operators.dedup import (banded_signatures,
                                               embedding_block_table,
                                               exact_groups,
                                               incremental_embedding_near_dup,
                                               incremental_keep,
                                               incremental_near_dup)
    from scespet_spark.operators.similarity import (ivf_assign,
                                                    ivf_topk_from_index,
                                                    label_centroids)
    from scespet_spark.operators.snapshot import (read_snapshot,
                                                  write_snapshot)
    from scespet_spark.sources.batch import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")
    cut_d = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    cut_e = emb.agg(F.max("vec_id")).collect()[0][0] // 2
    d1, d2 = (docs.filter(F.col("doc_id") <= cut_d),
              docs.filter(F.col("doc_id") > cut_d))
    e1, e2 = (emb.filter(F.col("vec_id") <= cut_e),
              emb.filter(F.col("vec_id") > cut_e))

    written = write_snapshot(str(tmp_path), docs=d1, emb=e1)
    assert sorted(written) == ["bands", "blocks", "centroids", "codes",
                               "digests", "grams", "lm_bigrams",
                               "lm_prefixes", "lm_vocab", "segments"]
    snap = read_snapshot(spark, str(tmp_path))

    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert rows(incremental_keep(d2, snap["digests"],
                                 prior_digest_col="content_hash")) == \
        rows(incremental_keep(d2, exact_groups(d1),
                              prior_digest_col="content_hash"))
    assert rows(incremental_near_dup(d2, prior_bands=snap["bands"])) == \
        rows(incremental_near_dup(d2, prior_bands=banded_signatures(d1)))
    assert rows(incremental_embedding_near_dup(
        e2, snap["blocks"], threshold=0.35)) == \
        rows(incremental_embedding_near_dup(
            e2, embedding_block_table(e1), threshold=0.35))
    q = e1.limit(1).select("embedding").collect()[0][0]
    merged = snap["codes"].unionByName(ivf_assign(e2, snap["centroids"]))
    got = ivf_topk_from_index(emb, merged, snap["centroids"], q, k=5)
    cents = label_centroids(e1)
    want = ivf_topk_from_index(
        emb, ivf_assign(e1, cents).unionByName(ivf_assign(e2, cents)),
        cents, q, k=5)
    assert rows(got) == rows(want)
    # the persisted segment-digest table cleans the second crawl
    # identically to re-deriving it from the prior corpus's text
    from scespet_spark.operators.dedup import incremental_segment_dedup
    assert rows(incremental_segment_dedup(
        d2, prior_segments=snap["segments"])) == \
        rows(incremental_segment_dedup(d2, prior=d1))
    # the persisted gram-digest table cuts the second crawl's repeated
    # passages identically to re-hashing the prior corpus
    from scespet_spark.operators.dedup import incremental_substring_dedup
    assert rows(incremental_substring_dedup(
        d2, prior_grams=snap["grams"])) == \
        rows(incremental_substring_dedup(d2, prior=d1))
    # the persisted LM model scores the SECOND crawl identically to the
    # inline fit on the first snapshot
    from scespet_spark.operators.text import bigram_lm_apply, bigram_lm_model
    loaded = (snap["lm_bigrams"], snap["lm_prefixes"], snap["lm_vocab"])
    assert rows(bigram_lm_apply(d2, loaded)) == \
        rows(bigram_lm_apply(d2, bigram_lm_model(d1)))


def test_segment_dedup_drops_repeated_segments(spark):
    from scespet_spark.operators.dedup import segment_dedup
    rows = [
        (1, "a b c d e f"),   # size=3: segs "a b c", "d e f"
        (2, "a b c x y z"),   # first segment duplicates doc1 seg0
        (3, "d e f"),         # entirely duplicate -> doc drops
        (4, ""),              # tokenless -> drops
        (5, "q r"),           # short partial segment survives
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in segment_dedup(df, size=3).collect()}
    assert sorted(out) == [1, 2, 5]
    assert out[1].clean_text == "a b c d e f"
    assert (out[1].n_kept, out[1].n_segments) == (2, 2)
    assert out[2].clean_text == "x y z"
    assert (out[2].n_kept, out[2].n_segments) == (1, 2)
    assert out[5].clean_text == "q r"
    with pytest.raises(ValueError, match="segment size"):
        segment_dedup(df, size=0)


def test_segment_dedup_unique_corpus_is_identity(spark):
    from scespet_spark.operators.dedup import segment_dedup
    rows = [(i, " ".join(f"w{i}_{j}" for j in range(7))) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = segment_dedup(df, size=3).collect()
    assert len(out) == 20
    orig = dict(rows)
    for r in out:
        assert r.clean_text == orig[r.doc_id]
        assert r.n_kept == r.n_segments == 3  # 7 tokens -> 3,3,1


def test_perplexity_filter_drops_low_tail(spark):
    from scespet_spark.operators.text import bigram_lm_score, perplexity_filter
    # 9 docs share a common phrase pattern; 1 doc is token soup -> its
    # transitions are unseen elsewhere and must land in the drop tail
    rows = [(i, "the quick brown fox jumps over the lazy dog")
            for i in range(9)] + [(99, "zz qq jj xx vv kk ww yy uu")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = perplexity_filter(df, frac=0.1)
    ids = {r.doc_id for r in kept.collect()}
    assert 99 not in ids and len(ids) == 9
    # frac=0 keeps everything
    assert perplexity_filter(df, frac=0.0).count() == 10
    # survivors' scores all sit at/above the threshold percentile
    scores = {r.doc_id: r.mean_logp for r in bigram_lm_score(df).collect()}
    assert min(scores[i] for i in ids) > scores[99]
    with pytest.raises(ValueError, match="frac"):
        perplexity_filter(df, frac=1.5)


def test_top_ngrams_counts_and_tiebreak(spark):
    from scespet_spark.operators.text import top_ngrams
    rows = [
        (1, "s1", "a b a b a b"),   # s1 bigrams: "a b" x3, "b a" x2
        (2, "s1", "c d"),           # "c d" x1
        (3, "s2", "x y x y"),       # s2: "x y" x2, "y x" x1
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {(r.source, r.rank): (r.ngram, r.n)
           for r in top_ngrams(df, n=2, k=2).collect()}
    assert got == {("s1", 1): ("a b", 3), ("s1", 2): ("b a", 2),
                   ("s2", 1): ("x y", 2), ("s2", 2): ("y x", 1)}
    # tie-break: equal counts order by ngram text ascending
    tie = spark.createDataFrame([(1, "s", "b b a a")],
                                "doc_id long, source string, text string")
    r1, r2, r3 = sorted(top_ngrams(tie, n=2, k=3).collect(),
                        key=lambda r: r.rank)
    assert (r1.ngram, r2.ngram, r3.ngram) == ("a a", "b a", "b b")
    with pytest.raises(ValueError, match="n >= 1"):
        top_ngrams(df, n=0)


def test_bigram_lm_fit_apply_and_unseen_smoothing(spark):
    import math
    from scespet_spark.operators.text import (bigram_lm_apply,
                                              bigram_lm_model,
                                              bigram_lm_score)
    fit = spark.createDataFrame([(1, "a b"), (2, "b c")],
                                "doc_id long, text string")
    model = bigram_lm_model(fit)
    # V=3 tokens; seen transition a->b: ln((1+1)/(1+1*3)) = ln(1/2)
    seen = {r.doc_id: r.mean_logp
            for r in bigram_lm_apply(fit, model).collect()}
    assert seen[1] == round(math.log(0.5), 6)
    # a doc of entirely UNSEEN bigrams scores pure smoothing mass:
    # ln((0+1)/(0+1*3)) per transition
    new = spark.createDataFrame([(9, "x y z")], "doc_id long, text string")
    out = bigram_lm_apply(new, model).collect()[0]
    assert out.n_bigrams == 2
    assert out.mean_logp == round(math.log(1 / 3), 6)
    # the composed scorer equals fit+apply on the same corpus
    a = sorted(map(tuple, bigram_lm_score(fit).collect()))
    b = sorted(map(tuple, bigram_lm_apply(fit, model).collect()))
    assert a == b


def test_collapse_repeats_runs_and_identity(spark):
    from scespet_spark.operators.text import collapse_repeats
    df = spark.createDataFrame(
        [(1, "the the the cat sat sat"), (2, "a b c"), (3, ""),
         (4, "x x x x x")],
        "doc_id long, text string")
    out = {r.doc_id: (r.clean_text, r.n_removed)
           for r in collapse_repeats(df).collect()}
    assert out == {1: ("the cat sat", 3), 2: ("a b c", 0), 3: ("", 0),
                   4: ("x", 4)}


def test_incremental_segment_dedup_prior_and_batch_election(spark):
    from scespet_spark.operators.dedup import (incremental_segment_dedup,
                                               segment_digests)
    prior = spark.createDataFrame([(100, "a b c")], "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "a b c x y z"),   # first segment known to the prior corpus
         (2, "x y z"),         # loses to doc 1's within-batch claim
         (3, "a b c")],        # fully prior-duplicate -> drops
        "doc_id long, text string")
    out = {r.doc_id: (r.clean_text, r.n_kept, r.n_segments)
           for r in incremental_segment_dedup(new, prior=prior,
                                              size=3).collect()}
    assert out == {1: ("x y z", 1, 2)}
    # the materialized digest-table path is row-identical
    tab = segment_digests(prior, 3).select("__d").distinct()
    out2 = {r.doc_id: (r.clean_text, r.n_kept, r.n_segments)
            for r in incremental_segment_dedup(new, prior_segments=tab,
                                               size=3).collect()}
    assert out2 == out
    with pytest.raises(ValueError, match="exactly one"):
        incremental_segment_dedup(new)
    with pytest.raises(ValueError, match="exactly one"):
        incremental_segment_dedup(new, prior=prior, prior_segments=tab)


def test_winnow_shared_passage_guarantee(spark):
    from scespet_spark.operators.dedup import (winnow_fingerprints,
                                               winnow_overlap_pairs)
    passage = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        (1, "one two three " + passage + " four five six"),
        (2, "seven eight " + passage + " nine ten eleven twelve"),
        (3, "totally unrelated words without any overlap at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # winnowing guarantee: a shared run of >= window + shingle_n - 1
    # = 6 tokens forces >= 1 shared selected fingerprint
    fp = winnow_fingerprints(df, shingle_n=3, window=4)
    by_doc = {i: {r.fingerprint for r in fp.filter(F.col("doc_id") == i)
                  .collect()} for i in (1, 2, 3)}
    assert by_doc[1] & by_doc[2]
    assert not (by_doc[1] & by_doc[3])
    pairs = {(r.id_a, r.id_b): r.n_shared
             for r in winnow_overlap_pairs(df, min_shared=1).collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs
    # max_df boilerplate cap: a fingerprint in every doc generates no pairs
    allsame = spark.createDataFrame(
        [(i, passage) for i in range(4)], "doc_id long, text string")
    assert winnow_overlap_pairs(allsame, min_shared=1, max_df=2).count() == 0
    with pytest.raises(ValueError, match="shingle_n"):
        winnow_fingerprints(df, shingle_n=0)


def test_contamination_fraction_grades_overlap(spark):
    from scespet_spark.operators.pipeline import contamination_fraction
    ev = spark.createDataFrame([(100, "the exam question is this")],
                               "doc_id long, text string")
    tr = spark.createDataFrame(
        [(1, "the exam question is this and more words follow here"),
         (2, "entirely unrelated tokens nothing shared at all"),
         (3, "the exam question is this")],   # fully contaminated
        "doc_id long, text string")
    out = {r.doc_id: r for r in contamination_fraction(tr, ev).collect()}
    assert out[3].frac_contaminated == 1.0
    assert out[2].frac_contaminated == 0.0 and out[2].n_hit == 0
    assert 0.0 < out[1].frac_contaminated < 1.0
    # fraction = hits over the doc's DISTINCT 3-gram count
    assert out[1].n_hit == 3 and out[1].n_ngrams == 8


def test_semantic_dedup_drops_higher_id_twin(spark, vecs):
    from scespet_spark.operators.similarity import (label_centroids,
                                                    semantic_dedup)
    # vecs: ids 0/1 nearly parallel (label 0), 2/3 nearly parallel
    # (label 1), 4 anti-parallel to 0 (label 0)
    out = {r.vec_id: (r.cell, r.n_close)
           for r in semantic_dedup(vecs, threshold=0.95).collect()}
    assert set(out) == {1, 3}          # higher id of each twin pair drops
    assert out[1][1] == out[3][1] == 1
    # anti-parallel vec 4 never matches; passing the centroid artifact
    # gives identical results (the snapshot path)
    cents = label_centroids(vecs)
    out2 = {r.vec_id: (r.cell, r.n_close)
            for r in semantic_dedup(vecs, threshold=0.95,
                                    centroids=cents).collect()}
    assert out2 == out


def test_semantic_dedup_over_trained_kmeans_cells(spark, vecs):
    # the 100 TB form: cells come from kmeans_codes (K tuned to corpus
    # size), not a pre-labeled column — same operator, code column as
    # the cell label
    from scespet_spark.operators.similarity import (kmeans_codes,
                                                    semantic_dedup)
    codes = kmeans_codes(vecs, k=2, iters=3)
    tagged = (vecs.drop("label")
              .join(codes.withColumnRenamed("id", "vec_id"), "vec_id"))
    out = {r.vec_id for r in
           semantic_dedup(tagged, threshold=0.95,
                          label_col="code").collect()}
    assert out == {1, 3}   # same twins as the label-cell path


def test_snapshot_manifest_and_compat_guard(spark, tmp_path):
    from scespet_spark.operators.snapshot import (check_compat,
                                                  write_snapshot)
    docs = spark.createDataFrame([(1, "a b c d e f g h i j k l")],
                                 "doc_id long, text string")
    write_snapshot(str(tmp_path), docs=docs, num_hashes=8, bands=2)
    m = check_compat(str(tmp_path), num_hashes=8, bands=2, shingle_n=3)
    assert m["segment_size"] == 10 and "digests" in m["tables"]
    # a probe configured differently must raise, not silently miss
    with pytest.raises(ValueError, match="different parameters"):
        check_compat(str(tmp_path), num_hashes=16)


def test_substring_dedup_cuts_arbitrary_offset_repeats(spark):
    """Exact-substring semantics (suffix-array family): repeated runs of
    >= min_len tokens vanish at ANY offset — mid-doc, cross-doc, and
    within one doc — while the globally-first occurrence keeps every
    token; docs shorter than min_len are never touched."""
    from scespet_spark.operators.dedup import substring_dedup
    docs = spark.createDataFrame([
        (1, "a b c d e f g"),        # first occurrence: untouched
        (2, "x y a b c d z"),        # shares "a b c d" at offset 3
        (3, "p q r"),                # unique
        (4, "a b c"),                # entirely a repeat of doc1's head
        (5, "m n"),                  # shorter than min_len: untouched
        (6, "u v w u v w u v w"),    # within-doc repetition
    ], "doc_id long, text string")
    got = {r.doc_id: (r.clean_text, r.n_tokens, r.n_removed)
           for r in substring_dedup(docs, min_len=3).collect()}
    assert got == {
        1: ("a b c d e f g", 7, 0),
        2: ("x y z", 7, 4),
        3: ("p q r", 3, 0),
        4: ("", 3, 3),
        5: ("m n", 2, 0),
        6: ("u v w", 9, 6),
    }


def test_incremental_substring_dedup_prior_and_batch(spark):
    """A new-batch passage is cut if it occurs in the PRIOR corpus (the
    first batch occurrence too — prior wins) or earlier in the batch;
    passing the snapshot gram table equals re-hashing the prior text."""
    from scespet_spark.operators.dedup import (gram_digests,
                                               incremental_substring_dedup)
    prior = spark.createDataFrame(
        [(1, "h e l l o w o r l d")], "doc_id long, text string")
    new = spark.createDataFrame([
        (10, "q q h e l l o w z"),   # "h e l l o w" occurs in prior
        (11, "f r e s h t e x t"),   # unique -> untouched
        (12, "f r e s h t o o"),     # "f r e s h t" repeats doc 11
    ], "doc_id long, text string")
    got = {r.doc_id: (r.clean_text, r.n_removed)
           for r in incremental_substring_dedup(
               new, prior=prior, min_len=5).collect()}
    # doc 12 shares grams at pos 1 AND 2 ("f r e s h", "r e s h t")
    # with doc 11 -> coverage extends through token 6
    assert got == {10: ("q q z", 6), 11: ("f r e s h t e x t", 0),
                   12: ("o o", 6)}
    via_snap = incremental_substring_dedup(
        new, prior_grams=gram_digests(prior, min_len=5).select("__g"),
        min_len=5)
    assert sorted(map(tuple, via_snap.collect())) == sorted(
        map(tuple, incremental_substring_dedup(
            new, prior=prior, min_len=5).collect()))


def test_substring_dedup_rebuild_gap_edges(spark):
    """Gap-complement rebuild edges: cuts at position 1, adjacent cuts
    (contiguous coverage, empty gap), and a cut ending exactly at the
    last token."""
    from scespet_spark.operators.dedup import _cut_and_rebuild
    docs = spark.createDataFrame(
        [(1, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10")], "doc_id long, text string")
    # L=3, cuts at 2 and 6: coverage 2-4 and 6-8 -> kept 1, 5, 9, 10
    dup = spark.createDataFrame([(1, 2), (1, 6)], "doc_id long, pos int")
    r = _cut_and_rebuild(docs, dup, 3, "text", "doc_id").collect()[0]
    assert (r.clean_text, r.n_tokens, r.n_removed) == ("t1 t5 t9 t10", 10, 6)
    # adjacent cuts 1 and 4: coverage 1-3, 4-6 -> kept 7..10
    dup = spark.createDataFrame([(1, 1), (1, 4)], "doc_id long, pos int")
    r = _cut_and_rebuild(docs, dup, 3, "text", "doc_id").collect()[0]
    assert (r.clean_text, r.n_removed) == ("t7 t8 t9 t10", 6)
    # cut ending at the final token: 8 covers 8-10
    dup = spark.createDataFrame([(1, 8)], "doc_id long, pos int")
    r = _cut_and_rebuild(docs, dup, 3, "text", "doc_id").collect()[0]
    assert (r.clean_text, r.n_removed) == ("t1 t2 t3 t4 t5 t6 t7", 3)


def test_quality_classifier_learns_token_signal(spark):
    """On a corpus where classes actually differ in token distribution,
    the NB-log-odds weights must separate them: held-out docs built
    from 'good' vocabulary score positive, 'bad' vocabulary negative,
    and out-of-vocabulary tokens fall back to the unseen weight
    instead of crashing or scoring zero."""
    from scespet_spark.operators.text import (quality_classifier_apply,
                                              quality_classifier_fit)
    good = "clear prose with varied informative vocabulary"
    bad = "spam spam buy buy click click now now"
    train = spark.createDataFrame(
        [(i, good, 1) for i in range(10)]
        + [(100 + i, bad, 0) for i in range(10)],
        "doc_id long, text string, label int")
    model = quality_classifier_fit(train, n_buckets=256)
    held = spark.createDataFrame([
        (1000, "varied informative prose"),
        (1001, "buy spam now click"),
        (1002, "wholly novel unseen tokens"),
    ], "doc_id long, text string")
    got = {r.doc_id: r for r in quality_classifier_apply(
        held, model, n_buckets=256).collect()}
    assert got[1000].pred == 1 and got[1000].score > 0
    assert got[1001].pred == 0 and got[1001].score < 0
    # OOV doc: all tokens take the unseen weight; with a balanced
    # train set the score is ~bias + w_unseen — finite, deterministic
    assert got[1002].score is not None
    # model malformed without the reserved rows
    import pytest as _pytest
    with _pytest.raises(ValueError, match="reserved"):
        quality_classifier_apply(
            held, model.filter(F.col("bucket") >= 0), n_buckets=256)


def test_hash_fn_hooks_lang_and_dsir(spark):
    """The production hash hook: fit/model and apply MUST share
    hash_fn; under F.xxhash64 (signed — exercises the pmod bucketing)
    the lang classifier still separates the char-distinct corpus and
    DSIR still selects the target-like half."""
    from scespet_spark.operators.pipeline import dsir_sample
    from scespet_spark.operators.text import lang_id_apply, lang_id_fit
    train = spark.createDataFrame(
        [(i, "aberdeen banner apple arable banana", "aa") for i in range(6)]
        + [(100 + i, "zyzzyva xylyl fuzzy quizzing whizzy", "bb")
           for i in range(6)],
        "doc_id long, text string, lang string")
    model = lang_id_fit(train, n_buckets=256, hash_fn=F.xxhash64)
    held = spark.createDataFrame(
        [(1000, "arable banner apple"), (1001, "quizzing fuzzy xylyl")],
        "doc_id long, text string")
    got = {r.doc_id: r.pred_lang for r in
           lang_id_apply(held, model, n_buckets=256,
                         hash_fn=F.xxhash64).collect()}
    assert got == {1000: "aa", 1001: "bb"}
    tgt_text = "the model trains on curated encyclopedia prose"
    off_text = "buy cheap pills casino jackpot winner click"
    target = spark.createDataFrame(
        [(1000 + i, tgt_text + f" t{i}") for i in range(6)],
        "doc_id long, text string")
    raw = spark.createDataFrame(
        [(i, tgt_text + f" v{i}") for i in range(6)]
        + [(100 + i, off_text + f" v{i}") for i in range(6)],
        "doc_id long, text string")
    got = sorted(r.doc_id for r in dsir_sample(
        raw, target, k=6, n_buckets=512, hash_fn=F.xxhash64).collect())
    assert got == list(range(6))


def test_bm25_ranks_relevant_docs(spark):
    """BM25 sanity: docs matching more (and rarer) query terms outrank
    docs matching fewer; saturation caps repeated-term influence; no
    query term = no row; deterministic under repartitioning."""
    from scespet_spark.operators.text import bm25_topk
    docs = spark.createDataFrame([
        (1, "spark merges windows " + "filler " * 5),
        (2, "spark spark spark spark " + "filler " * 5),
        (3, "nothing relevant here at all"),
        (4, "spark " + "filler " * 5),
    ], "doc_id long, text string")
    got = {r.doc_id: r for r in
           bm25_topk(docs, ["spark", "merges", "windows"], k=10).collect()}
    assert 3 not in got
    # two-term+ doc beats any single-term doc, tf saturation keeps the
    # spark-spam doc from overtaking the multi-term doc
    assert got[1].score > got[2].score > got[4].score
    assert got[1].n_terms_hit == 3
    again = {r.doc_id: r.score for r in
             bm25_topk(docs.repartition(5), ["spark", "merges",
                                             "windows"], k=10).collect()}
    assert again == {d: r.score for d, r in got.items()}


def test_dsir_selects_target_like_docs(spark):
    """DSIR importance resampling must do its one job: raw docs written
    in the TARGET domain's vocabulary outweigh and out-sample raw docs
    from a different vocabulary; weights are deterministic under
    repartitioning; empty docs drop."""
    from scespet_spark.operators.pipeline import dsir_sample, dsir_weights
    tgt_text = "the model trains on curated encyclopedia prose"
    off_text = "buy cheap pills casino jackpot winner click"
    target = spark.createDataFrame(
        [(1000 + i, tgt_text + f" t{i}") for i in range(8)],
        "doc_id long, text string")
    raw = spark.createDataFrame(
        [(i, tgt_text + f" v{i}") for i in range(10)]
        + [(100 + i, off_text + f" v{i}") for i in range(10)]
        + [(999, "")],
        "doc_id long, text string")
    w = {r.doc_id: r.lw for r in dsir_weights(raw, target,
                                              n_buckets=512).collect()}
    assert 999 not in w                       # zero-feature doc drops
    assert min(w[i] for i in range(10)) > \
        max(w[100 + i] for i in range(10))    # target-like outweighs
    got = sorted(r.doc_id for r in dsir_sample(raw, target, k=10,
                                               n_buckets=512).collect())
    assert got == list(range(10))             # the sample IS the
    #                                           target-like half
    again = {r.doc_id: r.lw for r in dsir_weights(
        raw.repartition(7), target, n_buckets=512).collect()}
    assert again == w


def test_pack_bestfit_efficiency_and_determinism(spark):
    """FFD packing on the real corpus: deterministic under
    repartitioning, every doc in exactly one sequence, no overfill —
    and it uses no more sequences than the doc-preserving NEXT-FIT
    greedy baseline (the packing-efficiency claim)."""
    from collections import Counter
    from scespet_spark.operators.pipeline import pack_sequences_bestfit
    from scespet_spark.operators.text import tokens
    from scespet_spark.sources.batch import load_table
    budget = 512
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    got = sorted(map(tuple, pack_sequences_bestfit(
        docs, budget=budget).collect()))
    again = sorted(map(tuple, pack_sequences_bestfit(
        docs.repartition(7), budget=budget).collect()))
    assert got == again
    assert len(got) == docs.count()                 # one row per doc
    fills = Counter()
    for _id, n, seq, over in got:
        if not over:
            fills[seq] += n
    assert all(v <= budget for v in fills.values())
    # next-fit greedy baseline (id order, close a sequence when the
    # next doc doesn't fit): FFD must not use MORE sequences
    ns = [r.n for r in docs.select(
        F.size(tokens(F.col("text"))).alias("n")).orderBy("doc_id")
        .collect()]
    nf_bins, rem = 0, -1
    for n in ns:
        if n > rem:
            nf_bins += 1
            rem = budget
        rem -= n
    ffd_bins = len(set(s for _, _, s, _ in got))
    assert ffd_bins <= nf_bins


def test_c4_rule_filter_pins_every_rule(spark):
    """Each C4/Gopher rule, pinned on crafted rows: terminal
    punctuation, min line words, marker phrases, bullet-ratio and
    ellipsis-ratio doc gates, min kept lines — and the plan is one
    map-only projection (no Exchange)."""
    from scespet_spark.operators.text import c4_rule_filter
    docs = spark.createDataFrame([
        (1, "A good first sentence here.\nshort.\nno punct at end\n"
            "Second good sentence stays!"),
        (2, "Please read our Cookie Policy today.\n"
            "This one mentions javascript sadly.\n"
            "But this clean line survives fine."),
        (3, "- one bullet.\n- two bullet.\n- three bullet.\n"
            "- four bullet.\n- five bullet.\n- six bullet.\n"
            "- seven bullet.\n- eight bullet.\n- nine bullet.\n"
            "- ten bullet."),
        (4, "thought one drifts away...\nthought two drifts away...\n"
            "thought three lands hard."),
        (5, "nothing here qualifies at all"),
    ], "doc_id long, text string")
    got = {r.doc_id: r for r in c4_rule_filter(docs).collect()}
    # line rules: short + unterminated lines drop, the rest keep
    assert got[1].clean_text == ("A good first sentence here.\n"
                                 "Second good sentence stays!")
    assert (got[1].n_lines, got[1].n_kept_lines, got[1].keep) == (4, 2, 1)
    # marker phrases drop case-insensitively
    assert got[2].clean_text == "But this clean line survives fine."
    assert got[2].keep == 1
    # 100% bullets: lines individually pass but the DOC drops
    assert got[3].n_kept_lines == 10 and got[3].keep == 0
    assert got[3].bullet_ratio == 1.0
    # 2/3 ellipsis lines > 0.3: doc drops
    assert got[4].keep == 0 and got[4].ellipsis_ratio == round(2 / 3, 6)
    # zero kept lines: doc drops
    assert got[5].n_kept_lines == 0 and got[5].keep == 0
    plan = (c4_rule_filter(docs)._jdf.queryExecution()
            .executedPlan().toString())
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_lang_id_classifier_learns_char_signal(spark):
    """On a corpus whose languages genuinely differ in character
    distribution, the hashed char-3-gram NB classifier must separate
    them on held-out docs — real learning, not prior echo — break
    score ties lexicographically, drop sub-n-char docs (no grams),
    stay deterministic under repartitioning, and reject a model
    missing its reserved prior/unseen rows."""
    from scespet_spark.operators.text import lang_id_apply, lang_id_fit
    aa = "aberdeen banner apple arable banana"
    bb = "zyzzyva xylyl fuzzy quizzing whizzy"
    train = spark.createDataFrame(
        [(i, aa + f" extra{i}", "aa") for i in range(10)]
        + [(100 + i, bb + f" extra{i}", "bb") for i in range(10)],
        "doc_id long, text string, lang string")
    model = lang_id_fit(train, n_buckets=256)
    held = spark.createDataFrame([
        (1000, "arable banner apple"),
        (1001, "quizzing fuzzy xylyl"),
        (1002, "ab"),                       # < 3 chars: no grams, drops
    ], "doc_id long, text string")
    got = {r.doc_id: r for r in lang_id_apply(held, model,
                                              n_buckets=256).collect()}
    assert got[1000].pred_lang == "aa"
    assert got[1001].pred_lang == "bb"
    assert 1002 not in got
    # deterministic under repartitioning
    again = {r.doc_id: (r.pred_lang, r.score)
             for r in lang_id_apply(held.repartition(7), model,
                                    n_buckets=256).collect()}
    assert again == {d: (r.pred_lang, r.score) for d, r in got.items()}
    import pytest as _pytest
    with _pytest.raises(ValueError, match="prior"):
        lang_id_apply(held, model.filter(F.col("bucket") >= 0),
                      n_buckets=256)


def test_lang_id_fit_grid_is_complete(spark):
    """The model table must cover the COMPLETE (observed bucket x
    language) grid — a bucket seen only under one language still gets
    a (smoothing-mass) weight row for every other language, so the
    apply-side join never fabricates asymmetric fallbacks."""
    from scespet_spark.operators.text import lang_id_fit
    train = spark.createDataFrame(
        [(1, "aaaa", "x"), (2, "zzzz", "y")],
        "doc_id long, text string, lang string")
    model = lang_id_fit(train, n_buckets=64).cache()
    per_bucket = (model.filter(F.col("bucket") >= 0)
                  .groupBy("bucket")
                  .agg(F.count_distinct("lang").alias("nl")).collect())
    assert per_bucket and all(r.nl == 2 for r in per_bucket)
    # reserved rows: one prior and one unseen weight per language
    assert model.filter(F.col("bucket") == -1).count() == 2
    assert model.filter(F.col("bucket") == -2).count() == 2


def test_snapshot_quality_weights_roundtrip(spark, tmp_path):
    """write_snapshot(labeled=...) persists the classifier weight
    table; the loaded artifact scores a later crawl identically to the
    inline fit."""
    from scespet_spark.operators.snapshot import (read_snapshot,
                                                  write_snapshot)
    from scespet_spark.operators.text import (quality_classifier_apply,
                                              quality_classifier_fit)
    from scespet_spark.sources.batch import load_table
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    labeled = (docs.filter(F.col("doc_id") % 3 == 0)
               .withColumn("label", (F.col("lang") == "en").cast("int")))
    write_snapshot(str(tmp_path), labeled=labeled, qc_buckets=512)
    snap = read_snapshot(spark, str(tmp_path))
    held = docs.filter(F.col("doc_id") % 3 != 0)
    got = quality_classifier_apply(held, snap["quality_weights"],
                                   n_buckets=512)
    want = quality_classifier_apply(
        held, quality_classifier_fit(labeled, n_buckets=512),
        n_buckets=512)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


def test_quality_classifier_rowwise_matches_join_form(spark):
    """The stateless row-wise serving form must score identically to
    the join+mean form (to float-reorder tolerance), emit NULL for
    zero-token docs instead of dropping them, and plan with no join,
    no aggregation, no Exchange."""
    from scespet_spark.operators.text import (
        quality_classifier_apply, quality_classifier_apply_rowwise,
        quality_classifier_fit)
    from scespet_spark.sources.batch import load_table
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    model = quality_classifier_fit(
        docs.withColumn("label", (F.col("lang") == "en").cast("int")),
        n_buckets=512)
    held = docs.unionByName(
        spark.createDataFrame([(9999, "", "en", "s", 0)], docs.schema))
    join_form = {r.doc_id: (r.score, r.pred) for r in
                 quality_classifier_apply(held, model,
                                          n_buckets=512).collect()}
    row_form = {r.doc_id: (r.score, r.pred) for r in
                quality_classifier_apply_rowwise(
                    held, model, n_buckets=512)
                .select("doc_id", "score", "pred").collect()}
    assert 9999 not in join_form           # join form drops no-token docs
    assert row_form[9999] == (None, None)  # row form emits NULL
    for d, (s, p) in join_form.items():
        rs, rp = row_form[d]
        assert abs(rs - s) <= 1.1e-6 and rp == p
    plan = (quality_classifier_apply_rowwise(docs, model, n_buckets=512)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "Join" not in plan \
        and "Aggregate" not in plan


def test_snapshot_lang_weights_roundtrip(spark, tmp_path):
    """write_snapshot(lang_labeled=...) persists the language model;
    the loaded artifact classifies a later crawl identically to the
    inline fit."""
    from scespet_spark.operators.snapshot import (read_snapshot,
                                                  write_snapshot)
    from scespet_spark.operators.text import lang_id_apply, lang_id_fit
    from scespet_spark.sources.batch import load_table
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    train = docs.filter(F.col("doc_id") % 3 == 0)
    write_snapshot(str(tmp_path), lang_labeled=train, lang_buckets=512)
    snap = read_snapshot(spark, str(tmp_path))
    held = docs.filter(F.col("doc_id") % 3 != 0)
    got = lang_id_apply(held, snap["lang_weights"], n_buckets=512)
    want = lang_id_apply(held, lang_id_fit(train, n_buckets=512),
                         n_buckets=512)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


def test_bucketed_snapshot_probe_skips_snapshot_side_exchange(
        spark, tmp_path):
    """write_snapshot(bucket_probes=N): the probe tables persist as
    external BUCKETED tables, the incremental probe join scans the
    snapshot side with ZERO Exchange (only the new batch shuffles),
    results match the plain-parquet path, and a fresh session (catalog
    wiped) re-registers the bucket metadata from the manifest DDL."""
    from scespet_spark.operators.dedup import incremental_substring_dedup
    from scespet_spark.operators.snapshot import (_snap_table,
                                                  read_snapshot,
                                                  write_snapshot)
    from scespet_spark.sources.batch import load_table
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    prior = docs.filter(F.col("doc_id") % 3 == 0)
    new = docs.filter(F.col("doc_id") % 3 != 0)
    out = str(tmp_path / "snap")
    write_snapshot(out, docs=prior, sub_min_len=5, bucket_probes=8)
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        snap = read_snapshot(spark, out)
        got = incremental_substring_dedup(new, prior_grams=snap["grams"],
                                          min_len=5)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan
        want = incremental_substring_dedup(new, prior=prior, min_len=5)
        assert sorted(map(tuple, got.collect())) == \
            sorted(map(tuple, want.collect()))
        # the probe join itself: snapshot side exchange-free
        probe = (new.select(F.col("doc_id"))
                 .withColumn("__g", F.col("doc_id") * 7)
                 .join(snap["grams"], "__g", "left_anti"))
        pplan = probe._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in pplan
        assert pplan.count("Exchange") == 1   # the NEW side only
        # fresh session simulation: catalog entry gone, files remain
        spark.sql(f"DROP TABLE {_snap_table(out, 'grams')}")
        snap2 = read_snapshot(spark, out)
        p2 = (new.select((F.col("doc_id") * 7).alias("__g"))
              .join(snap2["grams"], "__g", "left_anti")
              ._jdf.queryExecution().executedPlan().toString())
        assert "Bucketed: true" in p2 and p2.count("Exchange") == 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)


def test_canonical_url_rules(spark):
    """Every canonicalization rule, pinned: case, www, default ports,
    trailing slash, fragment, tracking params, query-order; malformed
    URLs -> NULL (never elect); non-default ports and path case are
    PRESERVED."""
    from scespet_spark.operators.dedup import canonical_url, url_dedup
    urls = [
        (1, "HTTPS://WWW.Example.COM:443/a/B/?utm_source=x&b=2&a=1#frag"),
        (2, "https://example.com/a/B?a=1&b=2"),          # same canonical
        (3, "http://example.com:8080/a"),                # port preserved
        (4, "http://example.com/A"),                     # path case kept
        (5, "not a url"),                                # malformed
        (6, "https://sub.example.com/a?fbclid=zz"),      # tracking only
    ]
    df = spark.createDataFrame(urls, "doc_id long, url string")
    got = {r.doc_id: r.canon for r in df.select(
        "doc_id", canonical_url(F.col("url")).alias("canon")).collect()}
    assert got[1] == got[2] == "https://example.com/a/B?a=1&b=2"
    assert got[3] == "http://example.com:8080/a"
    assert got[4] == "http://example.com/A"
    assert got[5] is None
    assert got[6] == "https://sub.example.com/a"
    kept = {r.canon_url: (r.doc_id, r.n_dups)
            for r in url_dedup(df).collect()}
    assert kept["https://example.com/a/B?a=1&b=2"] == (1, 2)
    assert len(kept) == 4  # doc 5 never groups


def test_substring_dedup_verify_guards_digest_collisions(spark):
    """verify=True re-checks duplicate-marked occurrences against the
    winner's actual tokens: under a degenerate hash (every gram
    collides into one group) the unverified form cuts innocent text,
    the verified form cuts ONLY true content matches; with the real
    60-bit hash verify=True is output-identical to verify=False."""
    from scespet_spark.operators.dedup import substring_dedup
    docs = spark.createDataFrame([
        (0, "a b c x y z"),
        (1, "a b c q r s"),
    ], "doc_id long, text string")
    const = lambda c: F.lit(0).cast("bigint")  # all grams collide
    bad = {r.doc_id: r.clean_text for r in substring_dedup(
        docs, min_len=3, hash_fn=const).collect()}
    good = {r.doc_id: r.clean_text for r in substring_dedup(
        docs, min_len=3, hash_fn=const, verify=True).collect()}
    # unverified: every non-first gram is "duplicate" -> innocent cuts
    assert bad[0] != "a b c x y z" or bad[1] != "a b c q r s"
    # verified: only doc1's true "a b c" repeat is cut
    assert good == {0: "a b c x y z", 1: "q r s"}
    # real digest, no collisions: identical output either way
    base = sorted(map(tuple, substring_dedup(docs, min_len=3).collect()))
    ver = sorted(map(tuple, substring_dedup(docs, min_len=3,
                                            verify=True).collect()))
    assert base == ver


def test_cluster_mixture_sample_balances_clusters(spark):
    """Cluster-balanced resampling: over-represented clusters hit
    their target share (to hash-filter tolerance), scarce clusters cap
    at keep-everything, clusters absent from the recipe drop."""
    from scespet_spark.operators.similarity import cluster_mixture_sample
    from scespet_spark.sources.batch import load_table
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    labels = sorted(r.label for r in emb.select("label").distinct().collect())
    # lopsided recipe: half the mass on one cluster, rest uniform,
    # one cluster dropped
    w = {c: 0.5 / (len(labels) - 2) for c in labels[1:-1]}
    w[labels[0]] = 0.5
    got = cluster_mixture_sample(emb, w, 60)
    counts = {r.cell: r.n for r in
              got.groupBy("cell").agg(F.count("*").alias("n")).collect()}
    assert labels[-1] not in counts              # absent cluster drops
    n0 = emb.count()
    # deterministic: identical under repartitioning
    again = cluster_mixture_sample(emb.repartition(7), w, 60)
    assert sorted(r.vec_id for r in got.collect()) == \
        sorted(r.vec_id for r in again.collect())
    assert 0 < got.count() < n0


def test_substring_dedup_xxhash_production_hook(spark):
    """The production hash hook (hash_fn=F.xxhash64, JVM-native — no
    md5 string pass) must produce output identical to the oracle-parity
    md5 digest in the collision-free regime."""
    from scespet_spark.operators.dedup import substring_dedup
    from scespet_spark.sources.batch import load_table
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    md5 = sorted(map(tuple, substring_dedup(docs, min_len=15).collect()))
    xxh = sorted(map(tuple, substring_dedup(
        docs, min_len=15, hash_fn=F.xxhash64).collect()))
    assert md5 == xxh


def test_split_assign_stable_and_partition_invariant(spark):
    """Split assignment must be a pure function of the id: identical
    under repartitioning AND under corpus growth (a doc keeps its
    split when other docs are added — frozen eval sets never leak);
    fractions past 1.0 raise; rows past the total get NULL."""
    import pytest as _pytest
    from scespet_spark.operators.pipeline import split_assign
    from scespet_spark.sources.batch import load_table
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    full = {r.doc_id: r.split for r in
            split_assign(docs, fr).select("doc_id", "split").collect()}
    part = {r.doc_id: r.split for r in
            split_assign(docs.repartition(13), fr)
            .select("doc_id", "split").collect()}
    assert full == part
    sub = {r.doc_id: r.split for r in
           split_assign(docs.filter(F.col("doc_id") % 2 == 0), fr)
           .select("doc_id", "split").collect()}
    assert all(full[i] == s for i, s in sub.items())
    assert set(full.values()) == {"train", "val", "test"}
    with _pytest.raises(ValueError, match="sum"):
        split_assign(docs, {"a": 0.7, "b": 0.5})
    # sum < 1: the tail is unassigned (NULL), not silently a split
    partial = split_assign(docs, {"train": 0.5})
    assert partial.filter(F.col("split").isNull()).count() > 0


def test_split_assign_by_cluster_no_straddle(spark):
    """Cluster members must share a split (the no-leakage guarantee);
    singletons must receive EXACTLY the plain split_assign assignment;
    the clustered flag marks label-table hits; internal-column clashes
    raise instead of silently clobbering."""
    import pytest as _pytest
    from scespet_spark.operators.pipeline import (split_assign,
                                                  split_assign_by_cluster)
    docs = spark.createDataFrame(
        [(i, f"s{i % 2}") for i in range(40)], "doc_id long, source string")
    labels = spark.createDataFrame(
        [(0, 0), (7, 0), (23, 0), (5, 5), (6, 5)], "id long, cluster long")
    fr = {"train": 0.5, "val": 0.25, "test": 0.25}
    out = {r.doc_id: r for r in
           split_assign_by_cluster(docs, fr, labels,
                                   clustered_col="hit").collect()}
    assert out[0].split == out[7].split == out[23].split
    assert out[5].split == out[6].split
    assert {i: out[i].hit for i in (0, 7, 5, 1, 2)} == \
        {0: 1, 7: 1, 5: 1, 1: 0, 2: 0}
    plain = {r.doc_id: r.split for r in split_assign(docs, fr).collect()}
    singles = set(range(40)) - {0, 7, 23, 5, 6}
    assert all(out[i].split == plain[i] for i in singles)
    with _pytest.raises(ValueError, match="internal column"):
        split_assign_by_cluster(docs.withColumn("__rep", F.lit(1)),
                                fr, labels)


def test_token_doc_freq_merge_and_idf_score(spark):
    """Generational doc-frequency maintenance must be exact: merged
    counts row-identical to a from-scratch pass over prior ∪ delta,
    and idf_score over the merged table must reproduce
    corpus_idf_quality's values for the delta docs."""
    import pytest as _pytest
    from scespet_spark.operators.text import (corpus_idf_quality,
                                              idf_score, token_doc_freq,
                                              token_doc_freq_merge)
    rows = [(i, t) for i, t in enumerate([
        "alpha beta gamma", "alpha beta", "delta epsilon alpha",
        "zeta eta theta", "beta gamma delta", "alpha zeta"])]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    prior = docs.filter(F.col("doc_id") < 3)
    delta = docs.filter(F.col("doc_id") >= 3)
    merged = token_doc_freq_merge(token_doc_freq(prior), delta)
    scratch = token_doc_freq(docs)
    assert sorted(map(tuple, merged.collect())) == \
        sorted(map(tuple, scratch.collect()))
    inc = {r.doc_id: (r.n_distinct_tokens, r.mean_idf)
           for r in idf_score(delta, merged, docs.count()).collect()}
    full = {r.doc_id: (r.n_distinct_tokens, r.mean_idf)
            for r in corpus_idf_quality(docs).collect()
            if r.doc_id >= 3}
    assert inc == full
    with _pytest.raises(ValueError, match="n_docs"):
        idf_score(delta, merged, 0)


def test_pack_bestfit_negative_ids_group_floor(spark):
    """Negative ids floor-divide into their own group (r9 fix):
    truncating ``div`` folded ids -(g-1)..g-1 into one double-size
    group 0 whose local sequence indices overflow into group 1's
    seq_id range, breaking the collision-free guarantee."""
    from scespet_spark.operators.pipeline import pack_sequences_bestfit
    docs = spark.createDataFrame(
        [(i, "w w w") for i in range(-4, 4)], "doc_id long, text string")
    # budget == doc size: every doc needs its own sequence, so a
    # >group_size group would overflow its seq_id block
    got = pack_sequences_bestfit(docs, budget=3, group_size=4).collect()
    assert len(got) == 8
    seqs = sorted(r.seq_id for r in got)
    assert len(set(seqs)) == 8                       # all distinct
    neg = {r.seq_id for r in got if r.doc_id < 0}
    pos = {r.seq_id for r in got if r.doc_id >= 0}
    assert neg == {-4, -3, -2, -1} and pos == {0, 1, 2, 3}
    assert not any(r.oversize for r in got)


def test_bm25_stats_null_text_contributes_zero(spark):
    """A NULL text row contributes dl=0 to avgdl (r9 fix: legacy
    sizeOfNull fed -1 into the average) and never scores."""
    from scespet_spark.operators.text import bm25_stats, bm25_topk
    docs = spark.createDataFrame(
        [(1, "spark rules"), (2, None), (3, "spark spark")],
        "doc_id long, text string")
    s = bm25_stats(docs, ["spark"])
    assert s["n"] == 3 and s["avgdl"] == (2 + 0 + 2) / 3
    assert s["df"]["spark"] == 2
    got = {r.doc_id for r in bm25_topk(docs, ["spark"], k=10).collect()}
    assert got == {1, 3}


def test_read_snapshot_drops_stale_bucket_metadata(spark, tmp_path):
    """A pre-existing catalog entry whose bucket count disagrees with
    the manifest (the snapshot dir was rewritten by another session)
    must be dropped and re-registered — stale bucket metadata makes
    Spark skip the Exchange against a mismatched file layout, silently
    missing probe matches."""
    from scespet_spark.operators.snapshot import (_snap_table,
                                                  read_snapshot,
                                                  write_snapshot)
    from scespet_spark.sources.batch import load_table
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    prior = docs.filter(F.col("doc_id") % 3 == 0)
    out = str(tmp_path / "snap")
    write_snapshot(out, docs=prior, sub_min_len=5, bucket_probes=8)
    t = _snap_table(out, "grams")
    # simulate another session's stale registration: 4 buckets in the
    # catalog, 8-bucket files on disk
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    spark.sql(f"CREATE TABLE {t} (__g bigint) USING PARQUET "
              f"CLUSTERED BY (__g) SORTED BY (__g) INTO 4 BUCKETS "
              f"LOCATION '{out}/grams'")
    snap = read_snapshot(spark, out)
    desc = {r["col_name"]: r["data_type"] for r in
            spark.sql(f"DESCRIBE TABLE EXTENDED {t}").collect()}
    assert desc["Num Buckets"] == "8"
    assert snap["grams"].count() == \
        spark.read.parquet(f"{out}/grams").count()


def test_exact_groups_wide_digest_guards_collisions(spark):
    """Digest-width discipline (exact family, r9): under a degenerate
    all-collide hash the narrow election merges DISTINCT documents
    into one group (innocent drop at scale); the wide two-digest
    election keeps them apart; in the collision-free regime narrow
    md5, the xxhash64 production hook, and wide all agree."""
    from scespet_spark.operators.dedup import exact_groups
    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "alpha"), (3, "beta")],
        "doc_id long, text string")
    const = lambda c: F.lit(0).cast("bigint")
    bad = exact_groups(docs, hash_fn=const).collect()
    assert len(bad) == 1 and bad[0].n_dups == 3       # innocent merge
    wide = {(r.rep_id, r.n_dups)
            for r in exact_groups(docs, wide=True).collect()}
    assert wide == {(1, 2), (3, 1)}
    md5 = {(r.rep_id, r.n_dups) for r in exact_groups(docs).collect()}
    xx = {(r.rep_id, r.n_dups)
          for r in exact_groups(docs, hash_fn=F.xxhash64).collect()}
    assert md5 == xx == wide


def test_incremental_keep_wide_digest_guards_collisions(spark):
    """Digest-width discipline (content-gate family, r9): a narrow
    digest collision with the PRIOR corpus silently KILLS an innocent
    new doc at the anti-join; the wide election keeps it.  A wide
    probe against a narrow prior digest table is a loud error."""
    import pytest
    from scespet_spark.operators.dedup import exact_groups, incremental_keep
    prior = spark.createDataFrame([(1, "old text")],
                                  "doc_id long, text string")
    new = spark.createDataFrame(
        [(10, "old text"), (11, "fresh text")], "doc_id long, text string")
    const = lambda c: F.lit(0).cast("bigint")
    assert incremental_keep(new, prior, hash_fn=const).collect() == []
    assert [r.doc_id for r in
            incremental_keep(new, prior, wide=True).collect()] == [11]
    # wide probe against a wide snapshot digest table (both columns)
    pri_d = exact_groups(prior, wide=True)
    via = incremental_keep(new, pri_d, wide=True,
                           prior_digest_col=("content_hash",
                                             "content_hash2"))
    assert [r.doc_id for r in via.collect()] == [11]
    with pytest.raises(ValueError, match="digest column"):
        incremental_keep(new, pri_d, wide=True,
                         prior_digest_col="content_hash")


def test_segment_dedup_wide_digest_guards_collisions(spark):
    """Digest-width discipline (segment family, r9): under an
    all-collide hash the narrow election treats every later segment as
    a repeat and cuts innocent text; wide cuts ONLY the true repeat —
    batch and incremental; xxhash64 hook parity in the collision-free
    regime."""
    import pytest
    from scespet_spark.operators.dedup import (incremental_segment_dedup,
                                               segment_dedup,
                                               segment_digests)
    docs = spark.createDataFrame(
        [(0, "a b c d"), (1, "a b x y")], "doc_id long, text string")
    const = lambda c: F.lit(0).cast("bigint")
    bad = {r.doc_id: r.clean_text
           for r in segment_dedup(docs, size=2, hash_fn=const).collect()}
    assert bad == {0: "a b"}                # doc1 fully (innocently) cut
    good = {r.doc_id: r.clean_text
            for r in segment_dedup(docs, size=2, wide=True).collect()}
    assert good == {0: "a b c d", 1: "x y"}  # only the true repeat cut
    xx = {r.doc_id: r.clean_text
          for r in segment_dedup(docs, size=2,
                                 hash_fn=F.xxhash64).collect()}
    assert xx == good
    # incremental: wide probe against a wide prior segment table
    prior = docs.filter(F.col("doc_id") == 0)
    new = docs.filter(F.col("doc_id") == 1)
    pseg = (segment_digests(prior, size=2, wide=True)
            .select("__d", "__d2").distinct())
    inc = {r.doc_id: r.clean_text
           for r in incremental_segment_dedup(
               new, prior_segments=pseg, size=2, wide=True).collect()}
    assert inc == {1: "x y"}
    with pytest.raises(ValueError, match="__d2"):
        incremental_segment_dedup(new, prior_segments=pseg.select("__d"),
                                  size=2, wide=True)


def test_snapshot_digest_wide_tables_and_probes(spark, tmp_path):
    """write_snapshot(digest_wide=True): digests/segments carry both
    digest columns, the manifest records it (check_compat asserts),
    and wide incremental probes through the snapshot match the
    in-memory wide path."""
    from scespet_spark.operators.dedup import (incremental_keep,
                                               incremental_segment_dedup)
    from scespet_spark.operators.snapshot import (check_compat,
                                                  read_snapshot,
                                                  write_snapshot)
    from scespet_spark.sources.batch import load_table
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    prior = docs.filter(F.col("doc_id") % 3 == 0)
    new = docs.filter(F.col("doc_id") % 3 != 0)
    out = str(tmp_path / "snap")
    write_snapshot(out, docs=prior, sub_min_len=5, digest_wide=True)
    check_compat(out, digest_wide=True)
    snap = read_snapshot(spark, out)
    assert "content_hash2" in snap["digests"].columns
    assert "__d2" in snap["segments"].columns
    got = incremental_keep(new, snap["digests"], wide=True,
                           prior_digest_col=("content_hash",
                                             "content_hash2"))
    want = incremental_keep(new, prior, wide=True)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))
    gs = incremental_segment_dedup(new, prior_segments=snap["segments"],
                                   wide=True, size=10)
    ws = incremental_segment_dedup(new, prior=prior, wide=True, size=10)
    assert sorted(map(tuple, gs.collect())) == \
        sorted(map(tuple, ws.collect()))


def test_lang_id_rowwise_parity_and_append_shape(spark):
    """The stateless row-wise lang serving form (r9): parity with
    lang_id_apply to 1e-6 on every doc and the same predicted language;
    zero-gram docs get NULL pred/score (a map stage cannot drop);
    the plan is map-only (no Exchange, no BatchEvalPython) — the
    append-legal capstone-gate shape; xxhash64 fit/apply hook parity;
    and a model missing its reserved rows is a loud error."""
    import pytest
    from scespet_spark.operators.text import (lang_id_apply,
                                              lang_id_apply_rowwise,
                                              lang_id_fit)
    from scespet_spark.sources.batch import load_table
    aa = "aberdeen banner apple arable banana"
    bb = "zyzzyva xylyl fuzzy quizzing whizzy"
    train = spark.createDataFrame(
        [(i, aa + f" extra{i}", "aa") for i in range(10)]
        + [(100 + i, bb + f" extra{i}", "bb") for i in range(10)],
        "doc_id long, text string, lang string")
    model = lang_id_fit(train, n_buckets=256)
    held = spark.createDataFrame([
        (1000, "arable banner apple"),
        (1001, "quizzing fuzzy xylyl"),
        (1002, "ab"),                       # < 3 chars: no grams
    ], "doc_id long, text string")
    row = {r.doc_id: r for r in
           lang_id_apply_rowwise(held, model, n_buckets=256).collect()}
    assert row[1000].pred_lang == "aa" and row[1001].pred_lang == "bb"
    assert row[1002].pred_lang is None and row[1002].score is None
    joinf = {r.doc_id: r for r in
             lang_id_apply(held, model, n_buckets=256).collect()}
    for d, jr in joinf.items():
        assert row[d].pred_lang == jr.pred_lang
        assert abs(row[d].score - jr.score) <= 1e-6
    # real-corpus parity sweep
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    m2 = lang_id_fit(docs.limit(200), n_buckets=256)
    jf = {r.doc_id: r for r in
          lang_id_apply(docs, m2, n_buckets=256).collect()}
    rw = {r.doc_id: r for r in
          lang_id_apply_rowwise(docs, m2, n_buckets=256).collect()}
    for d, jr in jf.items():
        assert rw[d].pred_lang == jr.pred_lang
        assert abs(rw[d].score - jr.score) <= 1e-6
    # append-legal plan: map-only
    plan = (lang_id_apply_rowwise(held, model, n_buckets=256)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "BatchEvalPython" not in plan
    # production hash hook: fit and apply share xxhash64
    mx = lang_id_fit(train, n_buckets=256, hash_fn=F.xxhash64)
    rx = {r.doc_id: r.pred_lang for r in
          lang_id_apply_rowwise(held, mx, n_buckets=256,
                                hash_fn=F.xxhash64).collect()}
    assert rx[1000] == "aa" and rx[1001] == "bb"
    with pytest.raises(ValueError, match="prior"):
        lang_id_apply_rowwise(held, model.filter(F.col("bucket") >= 0),
                              n_buckets=256)


def _py_stupid_backoff(corpus, score_docs, a=0.4, order=3):
    """Pure-Python order-N stupid-backoff reference model (actual
    n-grams, no hashing — collision-free at test scale, so the rolled
    digests must reproduce it exactly)."""
    import math
    from collections import Counter
    counts = {k: Counter() for k in range(1, order + 1)}
    for t in corpus:
        w = t.split()
        for k in range(1, order + 1):
            counts[k].update(tuple(w[i:i + k])
                             for i in range(len(w) - k + 1))
    n, v = sum(counts[1].values()), len(counts[1])
    out = {}
    for d, t in score_docs:
        w = t.split()
        if len(w) < order:
            continue
        lps = []
        for i in range(len(w) - order + 1):
            win = w[i:i + order]
            s = (counts[1][(win[-1],)] + 1) / (n + v)
            for k in range(2, order + 1):
                g, p = tuple(win[-k:]), tuple(win[-k:-1])
                if counts[k][g] and counts[k - 1][p]:
                    s = counts[k][g] / counts[k - 1][p]
                else:
                    s = a * s
            lps.append(math.log(s))
        out[d] = (len(lps), sum(lps) / len(lps))
    return out


def test_trigram_lm_matches_python_model(spark):
    """The stupid-backoff LM (r9): exact agreement with a pure-Python
    reference at order 3 AND order 5 on a corpus exercising all
    backoff rungs; <order-token docs drop; unseen-word docs score
    finite; deterministic under repartitioning."""
    from scespet_spark.operators.text import (ngram_lm_apply,
                                              ngram_lm_model,
                                              ngram_lm_score)
    corpus = [
        "the cat sat on the mat",
        "the cat sat on the rug",
        "a dog sat on a log",
        "the dog ran to the log",
    ]
    rows = [(i, t) for i, t in enumerate(corpus)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    held = [
        (100, "the cat sat on a log"),      # seen n-grams + backoffs
        (101, "mat rug dog unseenword cat mat"),  # unigram-floor rung
        (102, "on the"),                    # < 3 tokens: drops
    ]
    hdf = spark.createDataFrame(held, "doc_id long, text string")
    for order in (3, 5):
        model = ngram_lm_model(docs, order=order)
        got = {r.doc_id: (r.n_ngrams, r.mean_logp)
               for r in ngram_lm_apply(hdf, model).collect()}
        want = _py_stupid_backoff(corpus, held, order=order)
        assert set(got) == set(want) and 102 not in got
        for d, (nt, lp) in want.items():
            assert got[d][0] == nt
            assert abs(got[d][1] - lp) <= 1e-6
    # in-corpus score path + partitioning determinism (order 3)
    s1 = {r.doc_id: (r.n_ngrams, r.mean_logp)
          for r in ngram_lm_score(docs).collect()}
    s2 = {r.doc_id: (r.n_ngrams, r.mean_logp)
          for r in ngram_lm_score(docs.repartition(7)).collect()}
    assert s1 == s2
    winc = _py_stupid_backoff(corpus, rows)
    for d, (nt, lp) in winc.items():
        assert s1[d][0] == nt and abs(s1[d][1] - lp) <= 1e-6
    # a doc of fluent corpus trigrams outscores shuffled noise
    probe = spark.createDataFrame(
        [(200, "the cat sat on the mat"), (201, "mat the on sat cat the")],
        "doc_id long, text string")
    model3 = ngram_lm_model(docs)
    p = {r.doc_id: r.mean_logp
         for r in ngram_lm_apply(probe, model3).collect()}
    assert p[200] > p[201]


def test_trigram_lm_head_split_bit_identical(spark):
    """head_k (the explicit Zipf-head split of the unigram joins,
    r10): bit-identical to the plain path at every split point —
    head covering nothing useful, part of the vocab, and the WHOLE
    vocab (tail empty) — and still exact when the head map must
    coalesce over mixed head/tail (scored-token, backoff-prefix)
    pairs."""
    from scespet_spark.operators.text import ngram_lm_score
    corpus = [
        "the cat sat on the mat",
        "the cat sat on the rug",
        "a dog sat on a log",
        "the dog ran to the log",
        "zz qq ww ee rr tt yy",       # all-tail doc
    ]
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(corpus)],
                                 "doc_id long, text string")
    plain = {r.doc_id: (r.n_ngrams, r.mean_logp)
             for r in ngram_lm_score(docs).collect()}
    for hk in (1, 3, 1000):
        got = {r.doc_id: (r.n_ngrams, r.mean_logp)
               for r in ngram_lm_score(docs, head_k=hk).collect()}
        assert got == plain, hk
    with pytest.raises(ValueError, match="head_k"):
        ngram_lm_score(docs, head_k=0)


def test_trigram_lm_head_split_reuses_exchanges_when_shuffling(spark):
    """The head split's cost model at the design point: when the count
    tables exceed the broadcast threshold (forced here by disabling
    auto-broadcast), the two branches REUSE the k>=2 join Exchanges —
    the hash-explode pipeline is not recomputed — and the plan carries
    the head literal map, so head-resolved occurrences skip the
    unigram join entirely.  (Below the threshold everything
    broadcasts, no Exchange exists to save, and head_k only adds map
    work — measured in SCALE.md; head_k is a past-broadcast-scale
    knob.)"""
    from scespet_spark.operators.text import ngram_lm_score
    docs = spark.createDataFrame(
        [(i, "the cat sat on the mat plus word%d tail" % i)
         for i in range(40)], "doc_id long, text string")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = ngram_lm_score(docs, head_k=4)
        plain = ngram_lm_score(docs)
        got = sorted(map(tuple, out.collect()))
        assert got == sorted(map(tuple, plain.collect()))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in plan
        assert "keys: [" in plan or "map(" in plan.lower()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_perplexity_filter_trigram_order(spark):
    """perplexity_filter(order=3) gates on the trigram stupid-backoff
    score: survivors are exactly the docs at/above the frac-quantile
    of the trigram mean_logp; out-of-range order is a loud error."""
    import pytest
    from scespet_spark.operators.text import (ngram_lm_score,
                                              perplexity_filter)
    from scespet_spark.sources.batch import load_table
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    scored = {r.doc_id: r.mean_logp
              for r in ngram_lm_score(docs).collect()}
    import numpy as np
    thr = float(np.quantile(sorted(scored.values()), 0.2,
                            method="linear"))
    got = {r.doc_id for r in
           perplexity_filter(docs, frac=0.2, order=3).collect()}
    want = {d for d, s in scored.items() if s >= thr - 1e-12}
    assert got == want
    assert "n_ngrams" in perplexity_filter(docs, frac=0.2,
                                           order=3).columns
    with pytest.raises(ValueError, match="order"):
        perplexity_filter(docs, order=7)



def test_ngram_lm_snapshot_artifact(spark, tmp_path):
    """The order-N LM persists as a snapshot artifact family (r9):
    applying the LOADED model is row-identical to the in-memory fit,
    batch AND streaming (stream-static joins against the loaded count
    tables); a snapshot without the artifact raises."""
    import pytest
    from scespet_spark.operators.snapshot import (read_ngram_lm,
                                                  write_snapshot)
    from scespet_spark.operators.text import (ngram_lm_apply,
                                              ngram_lm_score)
    from scespet_spark.sources.batch import load_table
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = str(tmp_path / "snap")
    write_snapshot(out, docs=docs, sub_min_len=5, ngram_order=3)
    model = read_ngram_lm(spark, out)
    got = sorted(map(tuple, ngram_lm_apply(docs, model).collect()))
    want = sorted(map(tuple, ngram_lm_score(docs).collect()))
    assert got == want
    # live serving from the loaded artifact
    from scespet_spark.streaming.live import (read_table_stream,
                                              run_available_now)
    stream = read_table_stream(spark, "/root/testdata/sf0.001",
                               "documents")
    live = run_available_now(ngram_lm_apply(stream, model), "complete")
    assert sorted(map(tuple, live.collect())) == want
    bare = str(tmp_path / "bare")
    write_snapshot(bare, docs=docs.limit(5), sub_min_len=5)
    with pytest.raises(ValueError, match="ngram_order"):
        read_ngram_lm(spark, bare)


def test_substring_wide_digest_guards_collisions(spark):
    """Digest-width discipline (substring family, r9): under an
    all-collide hash the narrow election cuts innocent text; wide
    elects on the two-digest key and cuts only true repeats — batch
    AND incremental (where verify= is impossible: the prior side is a
    digest table); wide prior_grams required loudly; xxhash/narrow/
    wide parity in the collision-free regime."""
    import pytest
    from scespet_spark.operators.dedup import (gram_digests,
                                               incremental_substring_dedup,
                                               substring_dedup)
    docs = spark.createDataFrame([
        (0, "a b c x y z"),
        (1, "a b c q r s"),
    ], "doc_id long, text string")
    const = lambda c: F.lit(0).cast("bigint")
    bad = {r.doc_id: r.clean_text for r in substring_dedup(
        docs, min_len=3, hash_fn=const).collect()}
    assert bad[0] != "a b c x y z" or bad[1] != "a b c q r s"
    good = {r.doc_id: r.clean_text for r in substring_dedup(
        docs, min_len=3, wide=True).collect()}
    assert good == {0: "a b c x y z", 1: "q r s"}
    xx = {r.doc_id: r.clean_text for r in substring_dedup(
        docs, min_len=3, hash_fn=F.xxhash64, wide=True).collect()}
    assert xx == good
    # incremental: wide probe vs a wide prior gram table
    prior = docs.filter(F.col("doc_id") == 0)
    new = docs.filter(F.col("doc_id") == 1)
    pg = (gram_digests(prior, min_len=3, wide=True)
          .select("__g", "__g2").distinct())
    inc = {r.doc_id: r.clean_text for r in incremental_substring_dedup(
        new, prior_grams=pg, min_len=3, wide=True).collect()}
    assert inc == {1: "q r s"}
    with pytest.raises(ValueError, match="__g2"):
        incremental_substring_dedup(new, prior_grams=pg.select("__g"),
                                    min_len=3, wide=True)
    # full-corpus parity: wide == narrow in the collision-free regime
    from scespet_spark.sources.batch import load_table
    corpus = load_table(spark, "/root/testdata/sf0.001", "documents")
    n = sorted(map(tuple, substring_dedup(corpus, min_len=15).collect()))
    w = sorted(map(tuple, substring_dedup(corpus, min_len=15,
                                          wide=True).collect()))
    assert n == w


def test_temperature_mixture_upweights_scarce_sources(spark):
    """Temperature sampling (r9): alpha=1 reproduces natural
    proportions, alpha=0 is uniform over sources, 0<alpha<1 moves the
    scarce source's share UP relative to natural; deterministic under
    repartitioning; negative alpha is a loud error."""
    import pytest
    from scespet_spark.operators.text import temperature_mixture_sample
    rows = ([(i, "big") for i in range(900)]
            + [(1000 + i, "small") for i in range(100)])
    df = spark.createDataFrame(rows, "doc_id long, source string")

    def shares(alpha, total):
        got = temperature_mixture_sample(df, alpha, total,
                                         id_col="doc_id").collect()
        n = len(got)
        small = sum(1 for r in got if r.source == "small")
        return n, small / n

    n1, s1 = shares(1.0, 400)       # natural: ~10% small
    n0, s0 = shares(0.0, 400)       # uniform: ~50% small (capped)
    nh, sh = shares(0.5, 400)       # temperature: in between
    assert 0.05 < s1 < 0.18
    assert s0 > sh > s1
    # determinism
    a = sorted(r.doc_id for r in temperature_mixture_sample(
        df, 0.5, 400).collect())
    b = sorted(r.doc_id for r in temperature_mixture_sample(
        df.repartition(7), 0.5, 400).collect())
    assert a == b and len(a) > 0
    with pytest.raises(ValueError, match="alpha"):
        temperature_mixture_sample(df, -0.5, 100)


def test_gopher_quality_filter_pins_every_rule(spark):
    """Each Gopher doc-level rule pinned on crafted docs: word-count
    bounds, mean-word-length bounds, symbol ratio, alpha-word ratio,
    required stop words; empty docs keep=0 with null ratios; the plan
    is map-only and a keep-gate filter is barrier-protected."""
    from scespet_spark.operators.text import gopher_quality_filter
    good = ("the cat and the dog have come to the house of friends "
            "with many fine things that stay good ") * 3
    docs = spark.createDataFrame([
        (1, good),                                    # passes all
        (2, "the cat and of that have with be"),      # too few words
        (3, ("extraordinarily " * 40) + "the of and that have"),  # wl>10
        (4, good + " ###### ##### #### ### ## # ... ... ... ... ..."),
        (5, " ".join(str(i) for i in range(60))
            + " the of and"),                          # alpha ratio
        (6, "zq " * 60),                               # no stop words
        (7, ""),                                       # empty
    ], "doc_id long, text string")
    got = {r.doc_id: r for r in gopher_quality_filter(
        docs, min_words=30, max_symbol_ratio=0.05).collect()}
    assert got[1].keep == 1
    assert got[2].keep == 0 and got[2].n_words == 8
    assert got[3].keep == 0 and got[3].mean_word_len > 10
    assert got[4].keep == 0 and got[4].symbol_word_ratio > 0.05
    assert got[5].keep == 0 and got[5].alpha_word_ratio < 0.8
    assert got[6].keep == 0 and got[6].n_stop_hits == 0
    assert got[7].keep == 0 and got[7].mean_word_len is None
    assert got[1].n_stop_hits >= 2
    plan = (gopher_quality_filter(docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


# --------------------------------------------------------------------------
# r9 late additions: global rank / curriculum, token budgets, URL rules,
# CCNet buckets
# --------------------------------------------------------------------------


def test_global_rank_matches_single_window(spark):
    from pyspark.sql import Window
    from scespet_spark.operators.pipeline import global_rank
    df = spark.range(0, 257).withColumn(
        "score", (F.col("id") * 37) % 101)
    got = {r.id: r.rank for r in global_rank(
        df, [F.col("score").desc(), F.col("id").asc()],
        num_partitions=7).collect()}
    w = Window.orderBy(F.col("score").desc(), F.col("id").asc())
    want = {r.id: r.rank for r in df.withColumn(
        "rank", F.row_number().over(w).cast("long")).collect()}
    assert got == want
    # total order, dense, 1-based
    assert sorted(got.values()) == list(range(1, 258))


def test_curriculum_order_shard_layout(spark):
    from scespet_spark.operators.pipeline import curriculum_order
    df = spark.range(0, 100).withColumn("doc_id", F.col("id")) \
        .withColumn("score", 100 - F.col("id"))
    out = curriculum_order(df, "score", shard_size=16).collect()
    by_id = {r.doc_id: r for r in out}
    # score desc == id asc here, so rank == doc_id + 1
    for r in out:
        assert r.rank == r.doc_id + 1
        assert r.shard == (r.rank - 1) // 16
        assert r.pos == (r.rank - 1) % 16
    assert by_id[0].shard == 0 and by_id[0].pos == 0
    assert by_id[99].shard == 6 and by_id[99].pos == 3


def test_token_budget_sample_prefix_property(spark):
    from scespet_spark.operators.text import token_budget_sample
    rows = [(i, "s" + str(i % 2), "w " * (10 * (i % 5 + 1)), i % 5 + 1)
            for i in range(40)]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, text string, prio long")
    out = token_budget_sample(df, budget=100, priority_col="prio",
                              source_col="source").collect()
    assert all(r.n_tokens == 10 * ((r.doc_id % 5) + 1) for r in out)
    for src in ("s0", "s1"):
        kept = sorted((r for r in out if r.source == src),
                      key=lambda r: r.budget_rank)
        # kept set is a contiguous 1-based rank prefix
        assert [r.budget_rank for r in kept] == list(
            range(1, len(kept) + 1))
        # every kept doc STARTS within budget; predecessors' total < 100
        cum = 0
        for r in kept:
            assert cum < 100
            cum += r.n_tokens
        # and the next doc would not have started within budget
        assert cum >= 100


def test_token_budget_first_doc_always_kept(spark):
    from scespet_spark.operators.text import token_budget_sample
    df = spark.createDataFrame(
        [(1, "s", "w " * 500)], "doc_id long, source string, text string")
    out = token_budget_sample(df, budget=10).collect()
    assert len(out) == 1 and out[0].n_tokens == 500


def test_url_rule_filter_reasons(spark):
    from scespet_spark.operators.dedup import url_rule_filter
    rows = [
        (0, "https://ads.bad.net/x"),            # blocked domain (suffix)
        (1, "https://bad.net/x"),                # blocked domain (exact)
        (2, "https://fun.example.xxx/x"),        # blocked tld
        (3, "https://ok.org/casino/page"),       # blocked term
        (4, "https://ok.org" + "/d" * 20),       # deep path
        (5, "https://ok.org/" + "a" * 3000),     # too long
        (6, "no-scheme-here"),                   # malformed
        (7, None),                               # null url
        (8, "https://Docs.OK.org:8080/fine"),    # clean
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r.doc_id: r for r in url_rule_filter(
        df, blocked_domains=("bad.net",)).collect()}
    assert got[0].url_reason == "blocked_domain"
    assert got[1].url_reason == "blocked_domain"
    assert got[2].url_reason == "blocked_tld"
    assert got[3].url_reason == "blocked_term"
    assert got[4].url_reason == "deep_path"
    assert got[5].url_reason == "too_long"
    assert got[6].url_reason == "malformed"
    assert got[7].url_reason == "malformed"
    assert got[8].url_reason is None
    assert got[8].host == "docs.ok.org"  # lowercased, port stripped
    plan = (url_rule_filter(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_ccnet_buckets_terciles(spark):
    from scespet_spark.operators.text import (ccnet_bucket_apply,
                                              ccnet_bucket_cutoffs,
                                              ccnet_buckets)
    # synthetic scored table: two groups with known score ladders
    scored = spark.createDataFrame(
        [(i, "g" + str(i % 2), float(i)) for i in range(30)],
        "doc_id long, lang string, mean_logp double")
    cuts = ccnet_bucket_cutoffs(scored)
    assert cuts.count() == 2
    out = ccnet_bucket_apply(scored, cuts).collect()
    per = {}
    for r in out:
        per.setdefault((r.lang, r.bucket), []).append(r.mean_logp)
    for g in ("g0", "g1"):
        # head scores all above tail scores within the group
        assert min(per[(g, "head")]) > max(per[(g, "middle")])
        assert min(per[(g, "middle")]) > max(per[(g, "tail")])
        assert len(per[(g, "head")]) == 5  # 15 docs -> 3 terciles of 5
    # unseen group at serving time labels NULL, never a silent head
    novel = spark.createDataFrame([(99, "new", 3.0)],
                                  "doc_id long, lang string, mean_logp double")
    assert ccnet_bucket_apply(novel, cuts).collect()[0].bucket is None
    # a NULL score (unscorable doc) also labels NULL — not a silent
    # fall-through to 'tail'
    unscored = spark.createDataFrame([(98, "g0", None)],
                                     "doc_id long, lang string, mean_logp double")
    assert ccnet_bucket_apply(unscored, cuts).collect()[0].bucket is None
    # end-to-end over real text: every doc with >= 2 tokens is labeled
    docs = spark.createDataFrame(
        [(i, "w" + str(i) + " common tail words here", "en")
         for i in range(9)],
        "doc_id long, text string, lang string")
    assert ccnet_buckets(docs).where(F.col("bucket").isNull()).count() == 0


def test_epoch_schedule_caps_and_shares(spark):
    from scespet_spark.operators.text import epoch_schedule
    rows = [(i, "big" if i < 30 else "small", "w " * 20)
            for i in range(40)]
    df = spark.createDataFrame(rows,
                               "doc_id long, source string, text string")
    # big: 600 tokens, small: 200 tokens; alpha=1 -> natural shares
    out = {r.source: r for r in epoch_schedule(
        df, total_tokens=1600, alpha=1.0, max_epochs=1.5).collect()}
    assert out["big"].n_tokens == 600 and out["small"].n_tokens == 200
    assert abs(out["big"].share - 0.75) < 1e-9
    # big requests 1200 tokens = 2.0 epochs -> capped at 1.5
    assert out["big"].epochs == 1.5
    assert out["big"].realized_tokens == 900
    # small requests 400 = 2.0 epochs -> also capped
    assert out["small"].epochs == 1.5
    assert out["small"].realized_tokens == 300
    # uncapped branch: generous cap keeps the exact request
    out2 = {r.source: r for r in epoch_schedule(
        df, total_tokens=800, alpha=1.0, max_epochs=10.0).collect()}
    assert abs(out2["big"].epochs - 1.0) < 1e-6
    assert out2["small"].realized_tokens == 200
    with pytest.raises(ValueError):
        epoch_schedule(df, 100, alpha=-1)


def test_gopher_repetition_rules(spark):
    from scespet_spark.operators.text import gopher_repetition_filter
    docs = spark.createDataFrame([
        (0, "all words here are fully distinct tokens friend"),
        (1, "spam spam spam spam spam spam spam spam spam spam"),
        (2, "copy line\ncopy line\ncopy line\nunique line"),
        (3, "a b " * 30),                     # dup 2-grams dominate
        (4, "one two"),                       # shorter than 3/4-grams
        (5, ""),                              # empty
    ], "doc_id long, text string")
    got = {r.doc_id: r for r in gopher_repetition_filter(docs).collect()}
    assert got[0].keep == 1 and got[0].dup_2gram_frac == 0.0
    assert got[1].keep == 0 and got[1].dup_2gram_frac > 0.8
    assert got[2].keep == 0 and abs(got[2].dup_line_frac - 0.5) < 1e-9
    assert got[3].keep == 0 and got[3].dup_3gram_frac > 0.9
    assert got[4].dup_3gram_frac == 0.0 and got[4].dup_4gram_frac == 0.0
    assert got[5].dup_2gram_frac == 0.0 and got[5].keep == 1
    plan = (gopher_repetition_filter(docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# per-key domain cap + exact distributed quantiles (late r9)
# ---------------------------------------------------------------------------


def test_cap_per_key_keeps_topk_and_salt_is_exact(spark):
    from scespet_spark.operators.pipeline import cap_per_key
    rows = [(i, f"h{i % 3}", float((i * 37) % 100)) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, host string, q double")
    order = [F.col("q").desc(), F.col("doc_id").asc()]
    plain = cap_per_key(df, 4, "host", order)
    got = {}
    for r in plain.collect():
        got.setdefault(r.host, []).append((r.q, r.doc_id))
    import itertools
    for h in ("h0", "h1", "h2"):
        expect = sorted(((q, d) for d, hh, q in rows if hh == h),
                        key=lambda t: (-t[0], t[1]))[:4]
        assert sorted(got[h], key=lambda t: (-t[0], t[1])) == expect
    # the salted two-phase form returns EXACTLY the same rows
    salted = cap_per_key(df, 4, "host", order, salt=5)
    assert (sorted(r.doc_id for r in salted.collect())
            == sorted(r.doc_id for r in plain.collect()))


def test_cap_per_key_validates(spark):
    from scespet_spark.operators.pipeline import cap_per_key
    df = spark.createDataFrame([(1, "h")], "doc_id long, host string")
    with pytest.raises(ValueError, match="k >= 1"):
        cap_per_key(df, 0, "host", [F.col("doc_id")])
    with pytest.raises(ValueError, match="salt must be >= 2"):
        cap_per_key(df, 1, "host", [F.col("doc_id")], salt=1)


def test_exact_quantiles_matches_sorted_ranks(spark):
    import math
    from scespet_spark.operators.pipeline import exact_quantiles
    vals = [((i * 337) % 991) * 0.5 for i in range(2000)] + [None] * 25
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    qs = [0.01, 0.1, 0.5, 0.9, 1.0]
    # tiny threshold/buckets force several refinement levels
    got = {r.q: r.value for r in
           exact_quantiles(df, "x", qs, buckets=8, threshold=50).collect()}
    clean = sorted(v for v in vals if v is not None)
    for q in qs:
        r = min(len(clean), max(1, math.ceil(q * len(clean))))
        assert got[q] == clean[r - 1], q


def test_exact_quantiles_tie_cluster_early_exit(spark):
    """A massive equal-value cluster cannot shrink by bucketing; the
    min==max early exit must return it exactly."""
    from scespet_spark.operators.pipeline import exact_quantiles
    vals = [7.5] * 500 + [1.0, 99.0]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = {r.q: r.value for r in
           exact_quantiles(df, "x", [0.5], buckets=4,
                           threshold=10).collect()}
    assert got[0.5] == 7.5


def test_exact_quantiles_validates(spark):
    from scespet_spark.operators.pipeline import exact_quantiles
    df = spark.createDataFrame([(1.0,)], "x double")
    with pytest.raises(ValueError, match="in \\(0, 1\\]"):
        exact_quantiles(df, "x", [0.0])
    with pytest.raises(ValueError, match="at least one"):
        exact_quantiles(df, "x", [])
    empty = spark.createDataFrame([(None,)], "x double")
    with pytest.raises(ValueError, match="no non-null"):
        exact_quantiles(empty, "x", [0.5])


def test_exact_quantiles_by_matches_per_group_ranks(spark):
    import math
    from scespet_spark.operators.pipeline import exact_quantiles_by
    rows = []
    for gi, size in (("a", 400), ("b", 37), ("c", 3)):
        rows += [(gi, float((i * 173) % 211)) for i in range(size)]
    rows += [("a", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    qs = [0.1, 0.5, 0.99, 1.0]
    got = {(r.g, r.q): r.value for r in
           exact_quantiles_by(df, "v", qs, "g", buckets=4,
                              threshold=8).collect()}
    for gi, size in (("a", 400), ("b", 37), ("c", 3)):
        vals = sorted(v for g2, v in rows if g2 == gi and v is not None)
        for q in qs:
            r = min(len(vals), max(1, math.ceil(q * len(vals))))
            assert got[(gi, q)] == vals[r - 1], (gi, q)
    assert len(got) == 12


def test_exact_quantiles_by_tie_cluster_and_shared_rank(spark):
    from scespet_spark.operators.pipeline import exact_quantiles_by
    # group 'a': massive tie cluster; group 'b': two quantiles land on
    # the SAME row (rank collision must resolve both)
    rows = ([("a", 7.5)] * 200 + [("a", 1.0)]
            + [("b", float(i)) for i in range(3)])
    df = spark.createDataFrame(rows, "g string, v double")
    got = {(r.g, r.q): r.value for r in
           exact_quantiles_by(df, "v", [0.9, 1.0], "g", buckets=4,
                              threshold=10).collect()}
    assert got[("a", 0.9)] == 7.5 and got[("a", 1.0)] == 7.5
    assert got[("b", 0.9)] == 2.0 and got[("b", 1.0)] == 2.0
    assert len(got) == 4


def test_exact_quantiles_by_validates(spark):
    from scespet_spark.operators.pipeline import exact_quantiles_by
    df = spark.createDataFrame([("a", 1.0)], "g string, v double")
    with pytest.raises(ValueError, match="in \\(0, 1\\]"):
        exact_quantiles_by(df, "v", [1.5], "g")
    empty = spark.createDataFrame([("a", None)], "g string, v double")
    with pytest.raises(ValueError, match="no non-null"):
        exact_quantiles_by(empty, "v", [0.5], "g")


def test_embedding_drift_fractions_and_shift(spark):
    """embedding_drift: fractions sum to 1 per side; an engineered
    occupancy shift (new batch concentrated in one cell) shows as a
    positive delta there and negatives elsewhere; a cell absent from
    one side still appears with frac 0."""
    from scespet_spark.operators.similarity import (embedding_drift,
                                                    ivf_assign,
                                                    label_centroids)
    prior = spark.createDataFrame(
        [(i, [1.0, 0.0] if i % 2 == 0 else [0.0, 1.0], i % 2)
         for i in range(20)],
        "vec_id long, embedding array<double>, label int")
    cents = label_centroids(prior)
    prior_codes = ivf_assign(prior, cents)
    new = spark.createDataFrame(
        [(100 + i, [1.0, 0.01 * i]) for i in range(10)],  # all cell 0
        "vec_id long, embedding array<double>")
    got = {r.cell: r for r in
           embedding_drift(new, cents, prior_codes).collect()}
    assert abs(sum(r.prior_frac for r in got.values()) - 1.0) < 1e-6
    assert abs(sum(r.new_frac for r in got.values()) - 1.0) < 1e-6
    assert got[0].new_frac == 1.0 and got[0].delta == 0.5
    assert got[1].new_frac == 0.0 and got[1].delta == -0.5


def test_vocab_drift_matches_python_model(spark):
    """vocab_drift: exact KL/OOV against a pure-Python model on a
    crafted drop; identical corpora drift ~0 with oov 0; prior_counts
    reuse gives the same row."""
    import math
    from collections import Counter
    from scespet_spark.operators.text import vocab_counts, vocab_drift
    prior_texts = ["the cat sat", "the dog sat", "the cat ran"]
    new_texts = ["the cat flew", "zz qq the the"]
    prior = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(prior_texts)],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(i, t) for i, t in enumerate(new_texts)],
        "doc_id long, text string")
    r = vocab_drift(new, prior=prior).collect()[0]
    cn = Counter(w for t in new_texts for w in t.split())
    cp = Counter(w for t in prior_texts for w in t.split())
    n_new, n_prior = sum(cn.values()), sum(cp.values())
    v = len(set(cn) | set(cp))
    kl = sum((c / n_new) * math.log((c / n_new)
                                    / ((cp.get(w, 0) + 1) / (n_prior + v)))
             for w, c in cn.items())
    oov = sum(c for w, c in cn.items() if w not in cp)
    assert r.n_tokens == n_new and r.n_distinct == len(cn)
    assert r.oov_frac == round(oov / n_new, 6)
    assert abs(r.kl - kl) <= 2e-6
    # identical corpora: kl ~ 0 (smoothing keeps it tiny, not exact 0)
    same = vocab_drift(prior, prior=prior).collect()[0]
    assert same.oov_frac == 0.0 and abs(same.kl) < 0.05
    # snapshot-artifact path is row-identical
    viacounts = vocab_drift(new,
                            prior_counts=vocab_counts(prior)).collect()[0]
    assert tuple(viacounts) == tuple(r)
    with pytest.raises(ValueError, match="exactly one"):
        vocab_drift(new)


def test_classifier_pr_curve_confusion_and_edges(spark):
    """pr-curve: exact confusion counts at each threshold; NULL
    precision/recall on empty denominators; NULL score/label rows
    excluded; duplicate thresholds rejected."""
    from scespet_spark.operators.text import classifier_pr_curve
    rows = [(1, 0.9, 1), (2, 0.8, 0), (3, 0.4, 1), (4, 0.1, 0),
            (5, None, 1), (6, 0.5, None)]
    df = spark.createDataFrame(rows, "doc_id long, score double, label int")
    got = {r.threshold: r for r in
           classifier_pr_curve(df, thresholds=(0.5, 0.95)).collect()}
    r5 = got[0.5]
    assert (r5.tp, r5.fp, r5.fn, r5.tn) == (1, 1, 1, 1)
    assert r5.precision == 0.5 and r5.recall == 0.5 and r5.f1 == 0.5
    r95 = got[0.95]
    assert (r95.tp, r95.fp, r95.fn, r95.tn) == (0, 0, 2, 2)
    assert r95.precision is None and r95.recall == 0.0 and r95.f1 == 0.0
    with pytest.raises(ValueError, match="duplicate"):
        classifier_pr_curve(df, thresholds=(0.5, 0.5))
    with pytest.raises(ValueError, match="at least one"):
        classifier_pr_curve(df, thresholds=())


def test_split_leakage_finds_cross_split_pairs(spark):
    """split_leakage: near-identical docs in different splits surface
    as one (split_a < split_b, n_pairs) row; same-split dup pairs do
    not count; disjoint docs produce nothing."""
    from scespet_spark.operators.dedup import split_leakage
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(1, text, "train"), (2, text, "val"),      # cross-split dup
            (3, text, "train"),                        # same-split dup
            (4, "one two three four five six seven eight nine ten",
             "test")]
    df = spark.createDataFrame(rows, "doc_id long, text string, split string")
    got = {(r.split_a, r.split_b): r.n_pairs
           for r in split_leakage(df).collect()}
    assert got == {("train", "val"): 2}  # docs 1&3 each pair with 2


def test_gate_funnel_counts_and_order(spark):
    """gate_funnel: per-stage drops in PIPELINE order with cumulative
    survivors; zero-drop stages appear with 0; unknown audit values
    raise instead of overstating survivors."""
    from scespet_spark.operators.pipeline import gate_funnel
    rows = ([(i, "c4") for i in range(3)]
            + [(10 + i, "perplexity") for i in range(2)]
            + [(20 + i, None) for i in range(5)])
    df = spark.createDataFrame(rows, "doc_id long, dropped_by string")
    got = {r.stage: (r.n_dropped, r.survivors_after) for r in
           gate_funnel(df, ["c4", "gopher", "perplexity"]).collect()}
    assert got == {"c4": (3, 7), "gopher": (0, 7), "perplexity": (2, 5)}
    with pytest.raises(ValueError, match="outside stages"):
        gate_funnel(df, ["c4", "gopher"]).collect()
    with pytest.raises(ValueError, match="duplicate"):
        gate_funnel(df, ["c4", "c4"])
    with pytest.raises(ValueError, match="at least one"):
        gate_funnel(df, [])


def test_exact_quantiles_all_equal_resolves_without_funnel(spark):
    """mn == mx over the whole corpus must resolve every quantile to
    that value directly — never fall through to a TakeOrdered(r)
    funnel with rank up to n."""
    from scespet_spark.operators.pipeline import exact_quantiles
    df = spark.createDataFrame([(42.0,)] * 500, "x double")
    got = {r.q: r.value for r in
           exact_quantiles(df, "x", [0.1, 0.5, 1.0],
                           threshold=10).collect()}
    assert got == {0.1: 42.0, 0.5: 42.0, 1.0: 42.0}


def test_exact_quantiles_width_underflow_distinct_walk(spark):
    """An ulp/denormal-narrow range makes the refinement width
    underflow to 0.0 with > threshold rows left; the bounded
    distinct-value walk must still select exact ranks."""
    from scespet_spark.operators.pipeline import exact_quantiles
    tiny = 5e-324  # smallest positive denormal: (tiny-0)/buckets == 0.0
    vals = [0.0] * 300 + [tiny] * 300
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = {r.q: r.value for r in
           exact_quantiles(df, "x", [0.5, 1.0], buckets=4,
                           threshold=10).collect()}
    assert got[0.5] == 0.0 and got[1.0] == tiny


def test_exact_quantiles_by_non_pow2_buckets_rounded_exact(spark):
    """Non-power-of-two buckets are rounded up to 2^m (digit
    consistency across levels holds only for exact power-of-two
    scaling) — results stay exact."""
    import math
    from scespet_spark.operators.pipeline import exact_quantiles_by
    rows = [("a", float((i * 173) % 211)) for i in range(400)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {r.q: r.value for r in
           exact_quantiles_by(df, "v", [0.25, 0.75], "g", buckets=5,
                              threshold=8).collect()}
    vals = sorted(v for _, v in rows)
    for q in (0.25, 0.75):
        r = min(len(vals), max(1, math.ceil(q * len(vals))))
        assert got[q] == vals[r - 1], q


def test_exact_quantiles_by_approx_sketch_bound(spark):
    """approx=True degrades to a per-group percentile_approx sketch:
    the returned value's rank must sit within relative_error * n_g of
    the target rank (here accuracy >> n so the sketch is exact)."""
    import math
    from scespet_spark.operators.pipeline import exact_quantiles_by
    rows = ([("a", float((i * 37) % 101)) for i in range(300)]
            + [("b", float(i)) for i in range(50)])
    df = spark.createDataFrame(rows, "g string, v double")
    qs = [0.1, 0.5, 0.9]
    out = exact_quantiles_by(df, "v", qs, "g", approx=True,
                             relative_error=1e-4)
    assert out.columns == ["g", "q", "value"]
    got = {(r.g, r.q): r.value for r in out.collect()}
    assert len(got) == 6
    for gi in ("a", "b"):
        vals = sorted(v for g2, v in rows if g2 == gi)
        n = len(vals)
        tol = max(1, math.ceil(1e-4 * n))
        for q in qs:
            target = min(n, max(1, math.ceil(q * n)))
            # a duplicated value occupies a rank RANGE [lo, hi]
            lo = vals.index(got[(gi, q)]) + 1
            hi = n - vals[::-1].index(got[(gi, q)])
            assert lo - tol <= target <= hi + tol, (gi, q)
    with pytest.raises(ValueError, match="relative_error"):
        exact_quantiles_by(df, "v", qs, "g", approx=True,
                           relative_error=0.9)


def test_exact_quantiles_rejects_non_finite(spark):
    from scespet_spark.operators.pipeline import (exact_quantiles,
                                                  exact_quantiles_by)
    df = spark.createDataFrame([(1.0,), (float("inf"),)], "x double")
    with pytest.raises(ValueError, match="non-finite"):
        exact_quantiles(df, "x", [0.5])
    df2 = spark.createDataFrame([("a", 1.0), ("a", float("nan"))],
                                "g string, x double")
    with pytest.raises(ValueError, match="non-finite"):
        exact_quantiles_by(df2, "x", [0.5], "g")


# ---------------------------------------------------------------------------
# late-r10: RRF fusion, key-skew report, distributed PCA
# ---------------------------------------------------------------------------


def test_rrf_fuse_hand_computed(spark):
    from scespet_spark.operators.similarity import rrf_fuse
    lex = spark.createDataFrame(
        [(1, 0.9), (2, 0.8), (3, 0.7)], "doc_id long, score double")
    sem = spark.createDataFrame(
        [(2, 0.95), (4, 0.5)], "doc_id long, score double")
    rows = {r.doc_id: r for r in rrf_fuse([lex, sem], ["doc_id"]).collect()}
    assert rows[2].rank_0 == 2 and rows[2].rank_1 == 1
    assert rows[2].rrf_score == round(1 / 62 + 1 / 61, 6)   # both lists
    assert rows[1].rrf_score == round(1 / 61, 6)            # lex only
    assert rows[4].rrf_score == round(1 / 62, 6)            # sem only
    assert rows[4].rank_0 is None and rows[4].rank_1 == 2
    assert len(rows) == 4                                   # union of lists


def test_rrf_fuse_tie_break_deterministic(spark):
    from scespet_spark.operators.similarity import rrf_fuse
    # equal scores -> rank by id ascending, stable across runs
    a = spark.createDataFrame([(7, 0.5), (3, 0.5)], "id long, score double")
    got = {r.id: r.rank_0 for r in rrf_fuse([a], ["id"]).collect()}
    assert got == {3: 1, 7: 2}


def test_key_skew_report_hand_computed(spark):
    from scespet_spark.operators.pipeline import key_skew_report
    df = spark.createDataFrame(
        [("a",)] * 6 + [("b",)] * 3 + [("c",)] * 1, "k string")
    rows = key_skew_report(df, ["k"], top_n=2).collect()
    assert [(r.rank, r.k, r.n_rows, r.n_keys) for r in rows] == [
        (1, "a", 6, 3), (2, "b", 3, 3)]
    assert rows[0].share == 0.6 and rows[0].cum_share == 0.6
    assert rows[1].share == 0.3 and rows[1].cum_share == 0.9
    # skew ratio vs mean group size (10/3): a holds 1.8x the mean
    assert rows[0].skew_ratio == 1.8 and rows[1].skew_ratio == 0.9


def test_key_skew_report_tie_break_by_key(spark):
    from scespet_spark.operators.pipeline import key_skew_report
    df = spark.createDataFrame([("z",), ("y",)], "k string")
    rows = key_skew_report(df, ["k"], top_n=2).collect()
    assert [r.k for r in rows] == ["y", "z"]


def _pca_fixture(spark, n=200, d=8, seed=7):
    import numpy as np
    rng = np.random.default_rng(seed)
    # anisotropic cloud: distinct spectrum so eigenvector order is stable
    scales = np.linspace(5.0, 0.5, d)
    x = (rng.standard_normal((n, d)) * scales + rng.uniform(-1, 1, d))
    x = x.astype(np.float32)  # match the parquet float[] input type
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<float>")
    return x.astype(np.float64), df


def test_pca_fit_matches_numpy(spark):
    import numpy as np
    from scespet_spark.operators.similarity import pca_fit
    x, df = _pca_fixture(spark)
    model = {r["idx"]: r for r in pca_fit(df).collect()}
    mean = np.asarray(model[-1]["w"])
    assert np.allclose(mean, x.mean(axis=0), atol=1e-9)
    cov = np.cov(x, rowvar=False)
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1]
    for rank, j in enumerate(order):
        got = np.asarray(model[rank]["w"])
        want = vecs[:, j]
        if want[np.argmax(np.abs(want))] < 0:
            want = -want
        assert np.allclose(got, want, atol=1e-7), rank
        assert abs(model[rank]["eigval"] - vals[j]) < 1e-7
    # eigenvalues descending
    evs = [model[r]["eigval"] for r in range(len(model) - 1)]
    assert evs == sorted(evs, reverse=True)


def test_pca_fit_deterministic_across_partitionings(spark):
    import numpy as np
    from scespet_spark.operators.similarity import pca_fit
    _, df = _pca_fixture(spark)
    a = {r["idx"]: r["w"] for r in pca_fit(df.repartition(13)).collect()}
    b = {r["idx"]: r["w"] for r in pca_fit(df.repartition(13)).collect()}
    for k in a:  # same partitioning -> bit-identical model
        assert a[k] == b[k], k
    c = {r["idx"]: r["w"] for r in pca_fit(df.coalesce(1)).collect()}
    for k in a:  # different partitioning -> equal up to float addition
        assert np.allclose(a[k], c[k], atol=1e-9), k


def test_pca_project_matches_numpy_and_parseval(spark):
    import numpy as np
    from scespet_spark.operators.similarity import pca_fit, pca_project
    x, df = _pca_fixture(spark)
    model = pca_fit(df)
    rows = {r["idx"]: np.asarray(r["w"])
            for r in model.collect()}
    k = 3
    out = {r.vec_id: np.asarray(r.pca)
           for r in pca_project(df, model, k=k).collect()}
    w = np.stack([rows[i] for i in range(k)])
    want = (x - rows[-1]) @ w.T
    for i in range(len(x)):
        assert np.allclose(out[i], want[i], atol=1e-9), i
    # full-rank rotation preserves centered norms (Parseval)
    full = {r.vec_id: np.asarray(r.pca)
            for r in pca_project(df, model).collect()}
    cent = x - rows[-1]
    for i in range(len(x)):
        assert abs((full[i] ** 2).sum() - (cent[i] ** 2).sum()) < 1e-8
        # lossy projection only contracts
        assert (out[i] ** 2).sum() <= (cent[i] ** 2).sum() + 1e-9


def test_pca_project_rejects_bad_args(spark):
    import pytest
    from scespet_spark.operators.similarity import pca_fit, pca_project
    _, df = _pca_fixture(spark, n=20)
    model = pca_fit(df, k=4)
    with pytest.raises(ValueError, match="fitted components"):
        pca_project(df, model, k=9)
    with pytest.raises(ValueError, match="already exists"):
        pca_project(df, model, k=2, out="embedding")
    with pytest.raises(ValueError, match="mean"):
        pca_project(df, model.filter("idx >= 0"), k=2)


def test_pca_project_whiten_unit_variance(spark):
    import numpy as np
    import pytest
    from scespet_spark.operators.similarity import pca_fit, pca_project
    x, df = _pca_fixture(spark, n=400)
    model = pca_fit(df)
    k = 4
    out = np.stack([np.asarray(r.pca) for r in
                    pca_project(df, model, k=k, whiten=True)
                    .orderBy("vec_id").collect()])
    # each whitened dim has unit variance over the fit corpus
    assert np.allclose(out.var(axis=0, ddof=1), np.ones(k), atol=1e-9)
    # degenerate spectrum refuses to whiten
    z = df.select("vec_id",
                  F.transform("embedding", lambda v: v * 0).alias("embedding"))
    zero_model = pca_fit(z)
    with pytest.raises(ValueError, match="near-zero eigenvalue"):
        pca_project(z, zero_model, whiten=True)


def test_zorder_key_hand_computed(spark):
    from scespet_spark.operators.layout import zorder_key
    # 2 cols, 2 bits: ranks span 0..3; interleave MSB-first, col order
    df = spark.createDataFrame(
        [(0, 0.0, 0.0), (1, 3.0, 0.0), (2, 0.0, 3.0), (3, 3.0, 3.0),
         (4, 1.0, 2.0), (5, None, 3.0)],
        "id long, x double, y double")
    got = {r.id: r.zkey for r in zorder_key(df, ["x", "y"], bits=2).collect()}
    # x=3->rank3 (11), y=0->rank0 (00): bits x1 y1 x0 y0 = 1010 = 10
    assert got[0] == 0 and got[1] == 0b1010 and got[2] == 0b0101
    assert got[3] == 0b1111
    # x=1->rank1 (01), y=2->rank2 (10): 0 1 1 0 = 6
    assert got[4] == 0b0110
    # null x ranks 0
    assert got[5] == 0b0101


def test_zorder_key_constant_and_errors(spark):
    import pytest
    from scespet_spark.operators.layout import zorder_key
    df = spark.createDataFrame([(1, 5.0), (2, 5.0)], "id long, x double")
    got = {r.id: r.zkey for r in zorder_key(df, ["x"], bits=4).collect()}
    assert got == {1: 0, 2: 0}          # constant column drops out
    # a NaN/inf row ranks 0 and must NOT poison the other rows' stats
    nf = spark.createDataFrame(
        [(1, 0.0), (2, float("nan")), (3, 15.0), (4, float("inf"))],
        "id long, x double")
    got = {r.id: r.zkey for r in zorder_key(nf, ["x"], bits=4).collect()}
    assert got == {1: 0, 2: 0, 3: 15, 4: 0}
    with pytest.raises(ValueError, match="63"):
        zorder_key(df, [f"c{i}" for i in range(8)], bits=8)
    with pytest.raises(ValueError, match="duplicate"):
        zorder_key(df, ["x", "x"], bits=4)
    with pytest.raises(ValueError, match="bits=0"):
        zorder_key(df, ["x"], bits=0)
    with pytest.raises(ValueError, match="already exists"):
        zorder_key(df, ["x"], out="id")
    with pytest.raises(ValueError, match="at least one"):
        zorder_key(df, [])


def test_zorder_layout_clusters_both_columns(spark):
    import numpy as np
    from pyspark.sql import functions as F
    from scespet_spark.operators.layout import zorder_layout
    rng = np.random.default_rng(3)
    rows = [(i, float(x), float(y))
            for i, (x, y) in enumerate(rng.uniform(0, 100, (4000, 2)))]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    laid = zorder_layout(df, ["x", "y"], bits=8, n_files=16)
    # per-partition min/max boxes must be tight on BOTH columns: the
    # mean box side is far below the full range (a single-column sort
    # gives ~full-range boxes on the other column)
    spans = (laid.withColumn("p", F.spark_partition_id())
             .groupBy("p")
             .agg((F.max("x") - F.min("x")).alias("sx"),
                  (F.max("y") - F.min("y")).alias("sy"),
                  F.count("*").alias("n"))
             .collect())
    mean_sx = sum(r.sx for r in spans) / len(spans)
    mean_sy = sum(r.sy for r in spans) / len(spans)
    assert mean_sx < 60 and mean_sy < 60, (mean_sx, mean_sy)
    assert sum(r.n for r in spans) == 4000


def test_pca_fit_rejects_non_finite(spark):
    import pytest
    from scespet_spark.operators.similarity import pca_fit
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [float("nan"), 0.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="non-finite"):
        pca_fit(df)


def test_pca_null_vectors(spark):
    from scespet_spark.operators.similarity import pca_fit, pca_project
    _, df = _pca_fixture(spark, n=30, d=4)
    withnull = df.unionByName(spark.createDataFrame(
        [(999, None)], "vec_id long, embedding array<float>"))
    model = pca_fit(withnull)          # null rows ignored in the fit
    rows = {r.vec_id: r.pca
            for r in pca_project(withnull, model, k=2).collect()}
    assert rows[999] is None           # null in -> null out
    assert len(rows) == 31 and rows[0] is not None


def test_exact_quantiles_by_skewed_underflow_bin(spark):
    # extreme in-group skew: a dense near-tie cluster at u ~ 1e-300
    # never splits under the absolute-digit search (u * 2^53 < 1), so
    # the k-loop exhausts with the bin still > threshold — the recursion
    # into the global exact_quantiles must resolve it without a
    # >threshold single-partition window
    from scespet_spark.operators.pipeline import exact_quantiles_by
    vals = [0.0] + [1.0] * 10 + [1.0 + 2.2e-16] * 10 + [1e300]
    rows = [("a", v) for v in vals] + [("b", float(i)) for i in range(9)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = {(r["g"], r["q"]): r["value"]
           for r in exact_quantiles_by(df, "v", [0.5, 1.0], "g",
                                       buckets=16, threshold=4).collect()}
    import math
    sa = sorted(vals)
    assert out[("a", 0.5)] == sa[math.ceil(0.5 * len(sa)) - 1] == 1.0
    assert out[("a", 1.0)] == 1e300
    assert out[("b", 0.5)] == 4.0 and out[("b", 1.0)] == 8.0


def test_pca_fit_null_in_first_row(spark):
    # the dim probe must come from the first NON-NULL vector — a null
    # in row 0 is legal input (r10 advice: similarity.py pca_fit probe)
    from scespet_spark.operators.similarity import pca_fit
    _, df = _pca_fixture(spark, n=30, d=4)
    withnull = spark.createDataFrame(
        [(-1, None)], "vec_id long, embedding array<float>"
    ).unionByName(df).coalesce(1)  # null sorts into the first position
    model = pca_fit(withnull)
    assert model.count() == 5  # mean row + 4 components


def _labels(spark, rows):
    return spark.createDataFrame(rows, "id long, cluster long")


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "id_a long, id_b long")


def test_incremental_components_bridges_two_prior_clusters(spark):
    # prior: {1,2} labeled 1 and {5,6} labeled 5, singleton 9;
    # the drop bridges 2-6 and attaches new id 100 to 6
    from scespet_spark.operators.dedup import incremental_components
    prior = _labels(spark, [(1, 1), (2, 1), (5, 5), (6, 5), (9, 9)])
    new = _pairs(spark, [(2, 6), (100, 6)])
    got = {r.id: r.cluster
           for r in incremental_components(prior, new).collect()}
    assert got == {1: 1, 2: 1, 5: 1, 6: 1, 100: 1, 9: 9}


def test_incremental_components_delta_only_changed(spark):
    from scespet_spark.operators.dedup import incremental_components
    prior = _labels(spark, [(1, 1), (2, 1), (5, 5), (6, 5), (9, 9)])
    new = _pairs(spark, [(2, 6), (100, 6), (200, 201)])
    got = {r.id: r.cluster
           for r in incremental_components(prior, new, full=False).collect()}
    # cluster {1,2} keeps label 1 (it is the min) -> NOT in the delta;
    # {5,6} relabels; new ids appear; 9 untouched -> absent
    assert got == {5: 1, 6: 1, 100: 1, 200: 200, 201: 200}


def test_incremental_components_empty_new_pairs(spark):
    from scespet_spark.operators.dedup import incremental_components
    prior = _labels(spark, [(1, 1), (2, 1), (9, 9)])
    new = _pairs(spark, [])
    got = {r.id: r.cluster
           for r in incremental_components(prior, new).collect()}
    assert got == {1: 1, 2: 1, 9: 9}
    assert incremental_components(prior, new, full=False).count() == 0


def test_incremental_components_matches_from_scratch_random(spark):
    # randomized equivalence: split a random edge set into prior/new,
    # cluster the prior from scratch, fold the new pairs in
    # incrementally, compare against from-scratch over ALL edges
    import random
    from scespet_spark.operators.dedup import (connected_components,
                                               incremental_components)
    rng = random.Random(20260816)
    for trial in range(3):
        n_prior, n_new = 40, 15
        prior_edges = [(rng.randrange(n_prior), rng.randrange(n_prior))
                       for _ in range(30)]
        prior_edges = [(x, y) for x, y in prior_edges if x != y]
        # new ids live in a disjoint range; new pairs mix new-new,
        # new-prior, and prior-prior bridges
        new_edges = []
        for _ in range(20):
            kind = rng.randrange(3)
            if kind == 0:
                e = (100 + rng.randrange(n_new), 100 + rng.randrange(n_new))
            elif kind == 1:
                e = (100 + rng.randrange(n_new), rng.randrange(n_prior))
            else:
                e = (rng.randrange(n_prior), rng.randrange(n_prior))
            if e[0] != e[1]:
                new_edges.append(e)
        prior = connected_components(_pairs(spark, prior_edges))
        # alternate trials between the driver union-find fast path and
        # the distributed fallback (driver_threshold=0) so both stay
        # covered by the same equivalence property
        inc = {r.id: r.cluster
               for r in incremental_components(
                   prior, _pairs(spark, new_edges),
                   driver_threshold=0 if trial == 1 else 200_000
               ).collect()}
        scratch = {r.id: r.cluster
                   for r in connected_components(
                       _pairs(spark, prior_edges + new_edges)).collect()}
        assert inc == scratch, f"trial {trial}"


def _scan_output_rows(df):
    """Sum of FileSourceScan numOutputRows metrics after executing
    ``df`` — what the parquet reader actually emitted post row-group
    pruning (r10 verdict item #5: pin the Z-order benefit in the
    engine reading the data, not just footer arithmetic)."""
    df.collect()
    total = 0

    def walk(node):
        nonlocal total
        if "Scan" in node.nodeName():
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "numOutputRows":
                    total += kv._2().value()
        cit = node.children().iterator()
        while cit.hasNext():
            walk(cit.next())

    walk(df._jdf.queryExecution().executedPlan())
    return total


def test_zorder_layout_prunes_in_spark_scan(spark, tmp_path):
    import glob
    from scespet_spark.operators.layout import zorder_layout
    li = (spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
          .select("l_orderkey", "l_extendedprice", "l_quantity"))
    # replicate 10x / 8 files / 64 KiB row groups: enough groups (~225)
    # that 2-D clustering can beat the 1-D sort's granularity
    big = (li.crossJoin(spark.range(10).select(F.col("id").alias("r")))
           .drop("r"))
    opts = {"parquet.block.size": str(64 * 1024)}
    sorted_dir = str(tmp_path / "sorted")
    z_dir = str(tmp_path / "zorder")
    (big.repartitionByRange(8, "l_extendedprice")
     .sortWithinPartitions("l_extendedprice")
     .write.options(**opts).parquet(sorted_dir))
    (zorder_layout(big, ["l_extendedprice", "l_quantity"], n_files=8)
     .write.options(**opts).parquet(z_dir))
    # selective 2-col box (price ~10%, quantity ~4%): under a
    # price-only sort the quantity predicate prunes NOTHING; under
    # Z-order both dims prune
    def scan(path):
        d = spark.read.parquet(path)
        return _scan_output_rows(
            d.filter((F.col("l_extendedprice") >= 20000)
                     & (F.col("l_extendedprice") < 30000)
                     & (F.col("l_quantity") >= 10)
                     & (F.col("l_quantity") < 12))
            .select("l_orderkey"))
    n_total = big.count()
    rows_sorted = scan(sorted_dir)
    rows_z = scan(z_dir)
    # sanity: row groups actually split (pruning is possible at all)
    n_groups = sum(__import__("pyarrow.parquet", fromlist=["x"])
                   .ParquetFile(f).metadata.num_row_groups
                   for f in glob.glob(f"{z_dir}/*.parquet"))
    assert n_groups >= 50, n_groups
    assert rows_sorted < n_total          # price dim prunes either way
    # the pinned claim: the zordered scan emits well under the rows
    # the single-key layout reads for the same box (measured 0.40x;
    # 0.6 leaves margin for row-group boundary jitter)
    assert rows_z < rows_sorted * 0.6, (rows_z, rows_sorted)


import pytest as _pytest


@_pytest.mark.parametrize("bucket_probes", [None, 4])
def test_snapshot_cluster_labels_generational(spark, tmp_path,
                                              bucket_probes):
    """clusters artifact family: overwrite writes from-scratch labels;
    a generation append relabels ONLY affected components via
    incremental_components (reading the standing bands through the
    plain parquet OR the bucketed-table registration); read_clusters
    (latest-gen resolve) equals from-scratch clustering over the full
    corpus; compaction folds the generations without changing the
    mapping."""
    from scespet_spark.operators.dedup import (connected_components,
                                               lsh_candidate_pairs)
    from scespet_spark.operators.snapshot import (compact_snapshot,
                                                  read_clusters,
                                                  write_snapshot)

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    body = "one two three four five six seven eight nine ten eleven twelve"
    base = [  # prior clusters {1,2} and {5,6,9}
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta eta"),
        (5, body),
        (6, body + " thirteen"),
        (9, "totally unrelated content nine ten eleven"),
    ]
    drop = [  # near-dup of prior cluster {5,6,9} with a SMALLER id
        # (forces that cluster to relabel to 3 — the override path) +
        # a brand-new duplicate pair
        (3, body + " fourteen"),
        (200, "brand new duplicate pair text here now"),
        (201, "brand new duplicate pair text here now indeed"),
    ]
    out = str(tmp_path / "snap")
    write_snapshot(out, docs=base and docs(base), cluster_labels=True,
                   bucket_probes=bucket_probes)
    write_snapshot(out, docs=docs(drop), mode="append")
    got = {r.id: r.cluster for r in read_clusters(spark, out).collect()}
    scratch = {r.id: r.cluster for r in connected_components(
        lsh_candidate_pairs(docs(base + drop))).collect()}
    assert got == scratch and len(got) > 0
    # sanity: the drop relabeled the prior {5,6} cluster to the new
    # smaller id and created the new pair's cluster
    assert got.get(5) == 3 and got.get(6) == 3 and got.get(201) == 200
    assert got.get(1) == 1 and got.get(2) == 1  # untouched cluster
    compact_snapshot(out, spark, families=["clusters"])
    after = {r.id: r.cluster for r in read_clusters(spark, out).collect()}
    assert after == got


def _cluster_docs(spark):
    body = "one two three four five six seven eight nine ten eleven twelve"
    return spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta eta"),
         (5, body), (6, body + " thirteen"), (7, body + " fourteen"),
         (9, "totally unrelated content nine ten eleven")],
        "doc_id long, text string")


def test_snapshot_clusters_without_bands_family(spark, tmp_path):
    """A snapshot that writes no band table derives one for its
    clusters: the labels still equal the from-scratch LSH components."""
    from scespet_spark.operators.dedup import connected_components
    from scespet_spark.operators.snapshot import read_clusters, write_snapshot
    docs = _cluster_docs(spark)
    out = str(tmp_path / "snap")
    written = write_snapshot(out, docs=docs, cluster_labels=True,
                             doc_families=("digests",))
    assert "bands" not in written and "clusters" in written
    got = {r.id: r.cluster for r in read_clusters(spark, out).collect()}
    want = {r.id: r.cluster for r in connected_components(
        lsh_candidate_pairs(docs)).collect()}
    assert got == want
    assert got[2] == 1 and got[6] == 5 and got[7] == 5


@_pytest.mark.parametrize("bucket_probes", [None, 2])
def test_snapshot_clusters_read_written_bands(spark, tmp_path, monkeypatch,
                                              bucket_probes):
    """With the bands family written, the clusters' candidate pairs read
    that table: their plan scans the written ``bands`` files and holds
    no MinHash aggregate over the docs, and the labels equal the
    from-scratch LSH components."""
    from scespet_spark.operators import dedup
    from scespet_spark.operators.snapshot import read_clusters, write_snapshot
    seen = []
    real = dedup.band_pairs

    def spy(banded, *a, **kw):
        seen.append(real(banded, *a, **kw))
        return seen[-1]

    monkeypatch.setattr(dedup, "band_pairs", spy)
    docs = _cluster_docs(spark)
    out = str(tmp_path / "snap")
    write_snapshot(out, docs=docs, cluster_labels=True,
                   doc_families=("bands",), bucket_probes=bucket_probes)
    assert len(seen) == 1
    plan = seen[0]._jdf.queryExecution().executedPlan().toString()
    files = seen[0].inputFiles()
    assert files and all("/snap/bands/" in f for f in files), files
    assert not [l for l in plan.splitlines()
                if "HashAggregate" in l and "min(" in l], plan
    got = {r.id: r.cluster for r in read_clusters(spark, out).collect()}
    want = {r.id: r.cluster for r in dedup.connected_components(
        real(dedup.banded_signatures(docs))).collect()}
    assert got == want and got[7] == 5


def test_banded_signatures_rowwise_parity(spark):
    # the map-only (streaming-legal) banding must produce bit-identical
    # (id, band, band_hash) rows to the explode+groupBy batch form
    from scespet_spark.operators.dedup import (banded_signatures,
                                               banded_signatures_rowwise)
    docs = spark.createDataFrame(
        [(i, f"token{i % 5} alpha beta gamma delta w{i} x{i * 7} end")
         for i in range(40)]
        # edge docs: empty, shorter-than-shingle_n, and NULL text —
        # `shingle_hashes` pads every doc to >= 1 degenerate shingle,
        # so both forms band ALL of these, identically (pinned here:
        # a regression that made short-doc minhashes NULL would break
        # row parity or collapse distinct short docs into one bucket)
        + [(99, ""), (98, "solo"), (97, "two words"), (96, None)],
        "doc_id long, text string")
    a = sorted(tuple(r) for r in banded_signatures(docs).collect())
    b = sorted(tuple(r) for r in banded_signatures_rowwise(docs).collect())
    assert a == b and len(a) > 0
    bb = {r.doc_id: r.band_hash for r in banded_signatures_rowwise(docs)
          .filter(F.col("doc_id").isin(99, 98, 97, 96) & (F.col("band") == 0))
          .collect()}
    # every edge doc banded; distinct token sets -> distinct buckets,
    # and the two token-less docs (empty + NULL text) share ONE bucket
    assert len(bb) == 4
    assert bb[99] == bb[96] and len({bb[99], bb[98], bb[97]}) == 3


def test_incremental_components_empty_prior_first_generation(spark):
    # generation 0: no prior labels at all — the whole drop clusters
    # like from-scratch
    from scespet_spark.operators.dedup import (connected_components,
                                               incremental_components)
    prior = _labels(spark, [])
    new = _pairs(spark, [(1, 2), (2, 3), (7, 8)])
    got = {r.id: r.cluster
           for r in incremental_components(prior, new).collect()}
    want = {r.id: r.cluster
            for r in connected_components(_pairs(spark,
                                                 [(1, 2), (2, 3),
                                                  (7, 8)])).collect()}
    assert got == want == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}


def test_planted_ann_recall_above_point_nine(spark):
    """ANN recall on the planted-cluster fixture (r12): on
    cluster-STRUCTURED data (what real embedding corpora look like)
    the serving operators must deliver recall@10 > 0.9 at reasonable
    probe settings — the isotropic driver synthetic hid this behind
    crowded cosines.  Curves in SCALE.md (tools/embedding_recall.py);
    this pins the headline points: IVF exact-in-cell, IVF-PQ with
    re-rank headroom, and the PCA-32 chain."""
    import numpy as np
    from scespet_spark.operators.similarity import (cosine, ivf_topk,
                                                    ivfpq_topk, pca_fit,
                                                    pca_project)
    from scespet_spark.sources.batch import planted_embeddings

    emb = planted_embeddings(spark, n=1000, centers=10).persist()
    rows = sorted(emb.collect(), key=lambda r: r.vec_id)
    X = np.array([r.embedding for r in rows])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    qids = [3, 250, 700]
    truth = {q: {int(i) for i in
                 [i for _, i in sorted(zip(-np.round(Xn @ Xn[q], 6),
                                           range(len(rows))))[:10]]}
             for q in qids}

    def recall(got_fn):
        return sum(len(got_fn(q) & truth[q]) / 10 for q in qids) / len(qids)

    qv = {q: [float(x) for x in X[q]] for q in qids}
    r_ivf = recall(lambda q: {r.vec_id for r in
                              ivf_topk(emb, qv[q], k=10, nprobe=2)
                              .collect()})
    assert r_ivf > 0.9, r_ivf
    r_pq = recall(lambda q: {r.vec_id for r in
                             ivfpq_topk(emb, qv[q], k=10, nprobe=4,
                                        shortlist=200).collect()})
    assert r_pq > 0.9, r_pq
    model = pca_fit(emb)
    red = (pca_project(emb, model, k=32, out="p32")
           .select("vec_id", "label",
                   F.col("p32").alias("embedding"))).persist()
    qred = {q: red.filter(F.col("vec_id") == q).collect()[0].embedding
            for q in qids}
    orig = emb.select("vec_id",
                      F.col("embedding").cast("array<double>").alias("v"))

    def chain(q):
        cand = ivfpq_topk(red, qred[q], k=50, nprobe=4, shortlist=100,
                          m=8, dsub=4)
        qc = F.array(*[F.lit(float(x)) for x in qv[q]])
        rr = (cand.select("vec_id").join(orig, "vec_id")
              .select("vec_id",
                      F.round(cosine(F.col("v"), qc), 6).alias("score"))
              .orderBy(F.desc("score"), "vec_id").limit(10))
        return {r.vec_id for r in rr.collect()}

    r_chain = recall(chain)
    assert r_chain > 0.9, r_chain
    emb.unpersist(); red.unpersist()


def test_planted_embeddings_deterministic_and_clustered(spark):
    """Fixture contract: same seed -> identical rows; the planted
    structure is real (intra-center cosine far above inter-center)."""
    import numpy as np
    from scespet_spark.sources.batch import planted_embeddings
    a = planted_embeddings(spark, n=200, centers=5, seed=3).collect()
    b = planted_embeddings(spark, n=200, centers=5, seed=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    X = np.array([r.embedding for r in sorted(a, key=lambda r: r.vec_id)])
    lab = np.array([r.label for r in sorted(a, key=lambda r: r.vec_id)])
    S = X @ X.T
    same = S[lab[:, None] == lab[None, :]].mean()
    diff = S[lab[:, None] != lab[None, :]].mean()
    assert same > 0.8 and abs(diff) < 0.3 and same - diff > 0.5

def _aniso_embeddings(spark, n=600, seed=11):
    """Anisotropic cross-correlated fixture: planted clusters with a
    per-dim exponential variance decay, then a FIXED random rotation so
    the true correlation axes are misaligned with PQ's axis-aligned
    subspace split — the regime OPQ's learned rotation exists for."""
    import numpy as np
    from scespet_spark.sources.batch import planted_embeddings
    emb = planted_embeddings(spark, n=n, centers=10, seed=5)
    rng = np.random.default_rng(seed)
    scale = np.exp(-np.arange(64) / 16.0)
    Q, _ = np.linalg.qr(rng.normal(size=(64, 64)))
    rows = sorted(emb.collect(), key=lambda r: r.vec_id)
    X = np.stack([r.embedding for r in rows]) * scale @ Q.T
    df = spark.createDataFrame(
        [(int(r.vec_id), [float(x) for x in X[i]])
         for i, r in enumerate(rows)],
        "vec_id long, embedding array<double>")
    return df, X


def test_opq_rotation_orthonormal_and_deterministic(spark):
    """OPQ contract (r12): the learned rotation is orthonormal to
    1e-9 (pure rotation — preserves cosine, so the exact re-rank
    against original vectors stays exact) and two runs over the same
    input produce identical codes, codebooks, and rotation rows."""
    import numpy as np
    from scespet_spark.operators.similarity import opq_train
    df, _ = _aniso_embeddings(spark, n=300)
    codes, cents, rot = opq_train(df, m=8, dsub=8, ksub=16,
                                  iters=2, pq_iters=2)
    R = np.stack([np.array(r.w) for r in
                  sorted([r for r in rot.collect() if r.idx >= 0],
                         key=lambda r: r.idx)])
    assert np.allclose(R @ R.T, np.eye(64), atol=1e-9)
    c2, k2, r2 = opq_train(df, m=8, dsub=8, ksub=16,
                           iters=2, pq_iters=2)
    assert sorted(map(tuple, codes.collect())) \
        == sorted(map(tuple, c2.collect()))
    assert sorted(map(tuple, cents.collect())) \
        == sorted(map(tuple, k2.collect()))
    assert sorted(map(tuple, rot.collect())) \
        == sorted(map(tuple, r2.collect()))


def test_opq_beats_pq_reconstruction_on_anisotropic(spark):
    """The point of OPQ: on cross-correlated anisotropic data the
    learned rotation must strictly reduce PQ reconstruction error
    (measured ~0.72x on this fixture; asserted < 0.9x with slack).
    Error is computed in each method's own code space — valid to
    compare because the rotation is orthonormal (isometry)."""
    import numpy as np
    from scespet_spark.operators.similarity import opq_train, pq_train
    df, X = _aniso_embeddings(spark, n=600)

    def recon_mse(codes_df, cents_df, R=None):
        codes = {(r.vec_id, r.sub): r.code for r in codes_df.collect()}
        cents = {(r.sub, r.code): np.array(r.c)
                 for r in cents_df.collect()}
        Xr = X @ R.T if R is not None else X
        err = 0.0
        for (vid, sub), code in codes.items():
            y = Xr[vid, sub * 8:(sub + 1) * 8]
            err += float(((y - cents[(sub, code)]) ** 2).sum())
        return err / len(X)

    pq_codes, pq_cents = pq_train(df, m=8, dsub=8, ksub=16, iters=2)
    e_pq = recon_mse(pq_codes, pq_cents)
    codes, cents, rot = opq_train(df, m=8, dsub=8, ksub=16,
                                  iters=3, pq_iters=2)
    R = np.stack([np.array(r.w) for r in
                  sorted([r for r in rot.collect() if r.idx >= 0],
                         key=lambda r: r.idx)])
    e_opq = recon_mse(codes, cents, R=R)
    assert e_opq < 0.9 * e_pq, (e_opq, e_pq)


def test_opq_adc_topk_membership_and_isotropic_safety(spark):
    """opq_adc_topk serving: on the anisotropic fixture every returned
    id must lie in the exact full-dim cosine top-50 (the invariant the
    registered oracle hashes), scores non-increasing, and k rows out.
    Also guards the seam the eigenvalue-allocation init could regress:
    on a NEAR-UNIFORM fixture (no anisotropy to exploit) OPQ must not
    do worse than the same membership bar."""
    import numpy as np
    from scespet_spark.operators.similarity import (brute_force_topk,
                                                    opq_adc_topk)
    from scespet_spark.sources.batch import planted_embeddings
    for df in (_aniso_embeddings(spark, n=400)[0],
               planted_embeddings(spark, n=400, centers=8, seed=9)
               .select("vec_id", "embedding")):
        qvec = (df.filter(F.col("vec_id") == 0)
                .select("embedding").collect()[0][0])
        got = opq_adc_topk(df, qvec, k=10, shortlist=50,
                           iters=2, pq_iters=2).collect()
        assert len(got) == 10
        scores = [r.score for r in got]
        assert scores == sorted(scores, reverse=True)
        top50 = {r.vec_id for r in
                 brute_force_topk(df, qvec, k=50).collect()}
        assert all(r.vec_id in top50 for r in got)

def test_pq_index_artifact_lifecycle(spark, tmp_path):
    """The pq_index snapshot family (r12): (1) serving from the
    written artifacts is ROW-IDENTICAL to in-query pq_adc_topk (same
    pinned training contract); (2) a generation append encodes the
    drop against the STANDING rotation+codebooks (pq_encode parity —
    the no-refit contract); (3) retraction tombstones the drop's
    codes out of serving and compaction folds them permanently."""
    from scespet_spark.operators.similarity import (pq_adc_topk,
                                                    pq_encode,
                                                    pq_index_topk)
    from scespet_spark.operators.snapshot import (compact_snapshot,
                                                  read_pq_index,
                                                  retract_snapshot,
                                                  write_snapshot)
    from scespet_spark.sources.batch import planted_embeddings
    # keep the fixture's label column: the emb branch of write_snapshot
    # also builds the IVF families (centroids need a coarse label)
    emb = planted_embeddings(spark, n=300, centers=6, seed=4)
    qvec = (emb.filter(F.col("vec_id") == 0)
            .select("embedding").collect()[0][0])
    out = str(tmp_path / "snap")
    written = write_snapshot(out, emb=emb, pq_m=8)
    assert {"pq_codes", "pq_codebooks", "pq_rotation"} <= set(written)
    codes, cbs, rot, geo = read_pq_index(spark, out)
    assert geo == {"m": 8, "dsub": 8, "ksub": 16, "opq_iters": 0,
                   "train_iters": 2, "by_cell": False}
    served = pq_index_topk(emb, codes, cbs, rot, qvec, k=10,
                           shortlist=50).collect()
    inq = pq_adc_topk(emb, qvec, k=10, shortlist=50).collect()
    assert [tuple(r) for r in served] == [tuple(r) for r in inq]

    out2 = str(tmp_path / "snap2")
    prior = emb.filter(F.col("vec_id") % 4 != 3)
    drop = emb.filter(F.col("vec_id") % 4 == 3)
    write_snapshot(out2, emb=prior, pq_m=8)
    write_snapshot(out2, emb=drop, mode="append")
    codes2, cbs2, rot2, _ = read_pq_index(spark, out2)
    assert codes2.select("vec_id").distinct().count() == 300
    drop_rows = codes2.join(drop.select("vec_id"), "vec_id",
                            "left_semi")
    assert sorted(map(tuple, drop_rows.collect())) \
        == sorted(map(tuple, pq_encode(drop, cbs2, rot2).collect()))

    victims = emb.filter(F.col("vec_id").isin([3, 7]))
    retract_snapshot(out2, emb=victims)
    codes3, _, _, _ = read_pq_index(spark, out2)
    assert not ({3, 7} & {r.vec_id for r in
                          codes3.select("vec_id").distinct().collect()})
    compact_snapshot(out2, spark, families=["pq_codes"])
    codes4, _, _, _ = read_pq_index(spark, out2)
    assert not ({3, 7} & {r.vec_id for r in
                          codes4.select("vec_id").distinct().collect()})
    assert codes4.count() == 298 * 8


def test_pq_index_opq_mode_matches_in_query(spark, tmp_path):
    """write_snapshot(pq_opq_iters>0) stores the OPQ rotation; serving
    from the artifacts must be row-identical to in-query opq_adc_topk
    under the same geometry (one training contract, two paths)."""
    from scespet_spark.operators.similarity import (opq_adc_topk,
                                                    pq_index_topk)
    from scespet_spark.operators.snapshot import (read_pq_index,
                                                  write_snapshot)
    df, _ = _aniso_embeddings(spark, n=250)
    df = df.withColumn("label", F.lit(0))  # coarse cell for the IVF families
    qvec = (df.filter(F.col("vec_id") == 0)
            .select("embedding").collect()[0][0])
    out = str(tmp_path / "snap")
    write_snapshot(out, emb=df, pq_m=8, pq_opq_iters=2)
    codes, cbs, rot, geo = read_pq_index(spark, out)
    assert geo["opq_iters"] == 2
    served = pq_index_topk(df, codes, cbs, rot, qvec, k=10,
                           shortlist=50).collect()
    inq = opq_adc_topk(df, qvec, k=10, shortlist=50, iters=2,
                       pq_iters=2).collect()
    assert [tuple(r) for r in served] == [tuple(r) for r in inq]


def test_pq_index_by_cell_lifecycle_keeps_partitioning(spark, tmp_path):
    """pq_by_cell=True: (1) serving through the cell-partitioned index
    at nprobe=ALL cells equals the unpartitioned pq_index_topk result
    (partition layout must not change answers); (2) a generation
    append lands the drop's rows in their cells' hive partitions; (3)
    compaction folds retraction tombstones WITHOUT flattening the
    partition layout (the pruning survives)."""
    import os
    from scespet_spark.operators.similarity import (ivfpq_index_topk,
                                                    pq_index_topk)
    from scespet_spark.operators.snapshot import (compact_snapshot,
                                                  read_pq_index,
                                                  retract_snapshot,
                                                  write_snapshot)
    from scespet_spark.sources.batch import planted_embeddings
    emb = planted_embeddings(spark, n=240, centers=4, seed=6)
    qvec = (emb.filter(F.col("vec_id") == 0)
            .select("embedding").collect()[0][0])
    out = str(tmp_path / "snap")
    prior = emb.filter(F.col("vec_id") % 4 != 3)
    drop = emb.filter(F.col("vec_id") % 4 == 3)
    write_snapshot(out, emb=prior, pq_m=8, pq_by_cell=True)
    write_snapshot(out, emb=drop, mode="append")
    codes, cbs, rot, geo = read_pq_index(spark, out)
    assert geo["by_cell"] is True
    assert codes.select("vec_id").distinct().count() == 240
    # hive layout present and the drop landed inside it
    parts = [p for p in os.listdir(f"{out}/pq_codes")
             if p.startswith("label=")]
    assert len(parts) == 4, parts
    cents = spark.read.parquet(f"{out}/centroids")
    served = ivfpq_index_topk(emb, codes, cbs, rot, cents, qvec, k=10,
                              nprobe=4, shortlist=50).collect()
    flat = pq_index_topk(emb, codes.drop("label"), cbs, rot, qvec,
                         k=10, shortlist=50).collect()
    assert [tuple(r) for r in served] == [tuple(r) for r in flat]
    retract_snapshot(out, emb=emb.filter(F.col("vec_id").isin([2, 11])))
    compact_snapshot(out, spark, families=["pq_codes"])
    codes2, _, _, _ = read_pq_index(spark, out)
    assert not ({2, 11} & {r.vec_id for r in
                           codes2.select("vec_id").distinct().collect()})
    parts2 = [p for p in os.listdir(f"{out}/pq_codes")
              if p.startswith("label=")]
    assert len(parts2) == 4, parts2  # layout survived compaction


def test_pq_by_cell_append_without_label_fails_before_any_write(
        spark, tmp_path):
    """Appending a label-less emb drop into a pq_by_cell snapshot must
    raise the loud guard BEFORE any family is appended — failing at
    the pq encode join after blocks/codes already landed would leave
    the artifact families inconsistent (reviewer finding, r12)."""
    import pytest as _pytest
    from scespet_spark.operators.snapshot import (read_pq_index,
                                                  read_snapshot,
                                                  write_snapshot)
    from scespet_spark.sources.batch import planted_embeddings
    emb = planted_embeddings(spark, n=120, centers=3, seed=8)
    out = str(tmp_path / "snap")
    write_snapshot(out, emb=emb, pq_m=8, pq_by_cell=True)
    n_blocks = read_snapshot(spark, out)["blocks"].count()
    bad_drop = (planted_embeddings(spark, n=40, centers=3, seed=9)
                .select((F.col("vec_id") + 1000).alias("vec_id"),
                        "embedding"))
    with _pytest.raises(ValueError, match="label"):
        write_snapshot(out, emb=bad_drop, mode="append")
    # nothing appended: blocks unchanged, codes still 120 ids
    assert read_snapshot(spark, out)["blocks"].count() == n_blocks
    codes, _, _, _ = read_pq_index(spark, out)
    assert codes.select("vec_id").distinct().count() == 120


def test_pq_index_batch_matches_sequential(spark, tmp_path):
    """Batch serving must be ROW-IDENTICAL per query to sequential
    pq_index_topk against the same artifacts — one job vs Q jobs is a
    cost difference, never an answer difference.  Also covers the OPQ
    rotation path (by_cell=False, opq_iters=2)."""
    from scespet_spark.operators.similarity import (pq_index_batch_topk,
                                                    pq_index_topk)
    from scespet_spark.operators.snapshot import (read_pq_index,
                                                  write_snapshot)
    from scespet_spark.sources.batch import planted_embeddings
    emb = planted_embeddings(spark, n=220, centers=5, seed=12)
    out = str(tmp_path / "snap")
    write_snapshot(out, emb=emb, pq_m=8, pq_opq_iters=2)
    codes, cbs, rot, _ = read_pq_index(spark, out)
    qs = (emb.filter(F.col("vec_id").isin([0, 17, 44]))
          .select(F.col("vec_id").alias("q_id"),
                  F.col("embedding").alias("q_vec")))
    batch = pq_index_batch_topk(emb, codes, cbs, rot, qs, k=7,
                                shortlist=30).collect()
    for qid in (0, 17, 44):
        qvec = (emb.filter(F.col("vec_id") == qid)
                .select("embedding").collect()[0][0])
        seq = pq_index_topk(emb, codes, cbs, rot, qvec, k=7,
                            shortlist=30).collect()
        got = sorted([(r.vec_id, r.adc_microdist, r.score)
                      for r in batch if r.q_id == qid])
        want = sorted([(r.vec_id, r.adc_microdist, r.score)
                       for r in seq])
        assert got == want, qid


def test_gemm_tiling_and_whale_fallback_parity(spark, monkeypatch):
    """r13 whale bound: (a) two-axis tiling with a tiny tile must not
    change any emitted pair/count (each work-matrix entry is the same
    dim-sequential fold whatever tile it lands in); (b) cells/blocks
    past ``whale_rows`` route through the distributed join form and the
    union must be row-identical to the pure-GEMM result."""
    import random

    from scespet_spark.operators import similarity as sim
    from scespet_spark.operators.dedup import embedding_near_dup_pairs
    rnd = random.Random(11)
    # label 0 is the whale (40 rows); labels 1/2 stay small
    rows = [(i, [rnd.uniform(-1.0, 1.0) for _ in range(8)],
             0 if i < 40 else (i % 2) + 1) for i in range(60)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int")

    def rows_of(d):
        return sorted(map(tuple, d.collect()))

    ref_pairs = rows_of(embedding_near_dup_pairs(
        df, block_col="label", threshold=0.2, whale_rows=0))
    ref_sem = rows_of(sim.semantic_dedup(df, threshold=0.2,
                                         whale_rows=0))
    assert len(ref_pairs) > 20          # the whale cell really has pairs
    monkeypatch.setattr(sim, "_GEMM_BLK", 7)    # force many tiles
    assert rows_of(embedding_near_dup_pairs(
        df, block_col="label", threshold=0.2, whale_rows=0)) == ref_pairs
    # carve-out fires for label 0 only (40 > 20), join form takes it
    assert rows_of(embedding_near_dup_pairs(
        df, block_col="label", threshold=0.2, whale_rows=20)) == ref_pairs
    assert rows_of(sim.semantic_dedup(
        df, threshold=0.2, whale_rows=20)) == ref_sem


def test_incremental_probe_whale_fallback_parity(spark, monkeypatch):
    """Cogrouped-probe counterpart: whale blocks (combined new+prior
    rows past the cap) fall back to the join + per-(id, block) best-hit
    window; output row-identical to the pure cogrouped GEMM, including
    under a tiny tile size."""
    import random

    from scespet_spark.operators import similarity as sim
    from scespet_spark.operators.dedup import (
        embedding_block_table, incremental_embedding_near_dup)
    rnd = random.Random(13)
    prior_rows = [(100 + i, [rnd.uniform(-1.0, 1.0) for _ in range(8)])
                  for i in range(50)]
    new_rows = [(i, [rnd.uniform(-1.0, 1.0) for _ in range(8)])
                for i in range(30)]
    prior = spark.createDataFrame(prior_rows,
                                  "vec_id long, embedding array<double>")
    new = spark.createDataFrame(new_rows,
                                "vec_id long, embedding array<double>")
    pb = embedding_block_table(prior, dim=8, bits=2)

    def rows_of(d):
        return sorted(map(tuple, d.collect()))

    ref = rows_of(incremental_embedding_near_dup(
        new, pb, dim=8, bits=2, threshold=0.2, whale_rows=0))
    assert len(ref) > 5
    monkeypatch.setattr(sim, "_GEMM_BLK", 5)
    assert rows_of(incremental_embedding_near_dup(
        new, pb, dim=8, bits=2, threshold=0.2, whale_rows=0)) == ref
    # bits=2 -> 4 blocks of ~20 combined rows: cap 10 makes most whales
    assert rows_of(incremental_embedding_near_dup(
        new, pb, dim=8, bits=2, threshold=0.2, whale_rows=10)) == ref


def test_connected_components_null_endpoints(spark):
    """ADVICE r12: the driver union-find fast path must tolerate null
    ids the way the distributed paths do — a null endpoint connects
    nothing, the null node labels null, non-null partners stay isolated
    unless connected elsewhere."""
    from scespet_spark.operators.dedup import connected_components
    pairs = spark.createDataFrame(
        [(1, 2), (None, 3), (4, None), (2, 5)],
        "id_a int, id_b int")
    fast = {r.id: r.cluster for r in connected_components(pairs).collect()}
    slow = {r.id: r.cluster
            for r in connected_components(pairs,
                                           driver_threshold=0).collect()}
    assert fast == slow
    assert fast[3] == 3 and fast[4] == 4       # null edges connect nothing
    assert fast[1] == fast[2] == fast[5] == 1
    assert fast[None] is None


def test_reliable_checkpoint_knob(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_RELIABLE_CHECKPOINT switches every staging point
    from localCheckpoint to a reliable checkpoint under the given dir;
    staged rows are identical and the checkpoint dir gets used."""
    import os

    from scespet_spark.operators._staging import stage
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    local_rows = sorted(map(tuple, stage(df).collect()))
    ck = str(tmp_path / "ckpt")
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", ck)
    reliable = stage(df)
    assert sorted(map(tuple, reliable.collect())) == local_rows
    # the reliable form actually wrote blocks under the knob's dir
    sc = spark.sparkContext
    ckdir = sc.getCheckpointDir()
    assert ckdir is not None
    if ckdir.startswith("file:"):
        ckdir = ckdir[len("file:"):]
    found = []
    for root, _dirs, files in os.walk(ckdir):
        found.extend(files)
    assert found, "reliable checkpoint wrote nothing"
    # an operator staged under the knob returns the same rows too
    from scespet_spark.operators.text import bigram_lm_score
    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b a b a b"), (3, "c c d e")],
        "doc_id long, text string")
    with_knob = sorted(map(tuple, bigram_lm_score(docs).collect()))
    monkeypatch.delenv("SPARK_GRAFT_RELIABLE_CHECKPOINT")
    without = sorted(map(tuple, bigram_lm_score(docs).collect()))
    assert with_knob == without


def test_ngram_jaccard_block_kernel_matches_join_form(spark):
    """r13: the block form's grouped set-overlap kernel must emit
    exactly the self-join's rows — same pairs, same rounded jaccard —
    including at threshold 0 (where zero-intersection same-block pairs
    qualify) and through the whale fallback route."""
    import random

    from scespet_spark.operators.dedup import (ngram_jaccard_pairs,
                                               shingle_hashes,
                                               token_hash_array, _spread)
    rnd = random.Random(5)
    words = [f"w{i}" for i in range(30)]
    base = [" ".join(rnd.choices(words, k=12)) for _ in range(5)]
    # near-dup families: each doc is a template with a small mutation,
    # so shingle overlap genuinely crosses the 0.2 threshold
    rows = [(i, base[i % 5] + " " + rnd.choice(words),
             f"l{i % 3}") for i in range(40)]
    rows.append((100, None, "l0"))          # null text
    rows.append((101, "a b c d e", None))   # null block
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    def join_form(thr):
        # the pre-r13 self-join, reproduced inline as the reference
        sh = (_spread(df)
              .select("doc_id", "lang",
                      token_hash_array(F.col("text")).alias("__hs"))
              .select("doc_id", "lang",
                      shingle_hashes(F.col("__hs"), 3).alias("__sh")))
        a, b = sh.alias("a"), sh.alias("b")
        inter = F.size(F.array_intersect("a.__sh", "b.__sh"))
        union = F.size("a.__sh") + F.size("b.__sh") - inter
        jac = F.round(inter.cast("double") / union, 6)
        return (a.join(b, [F.col("a.lang") == F.col("b.lang"),
                           F.col("a.doc_id") < F.col("b.doc_id")])
                .select(F.col("a.doc_id").alias("id_a"),
                        F.col("b.doc_id").alias("id_b"),
                        jac.alias("jaccard"))
                .filter(F.col("jaccard") >= thr))

    for thr in (0.2, 0.0):
        ref = sorted(map(tuple, join_form(thr).collect()))
        got = sorted(map(tuple, ngram_jaccard_pairs(
            df, block_cols=["lang"], threshold=thr).collect()))
        assert got == ref, f"thr={thr}"
        assert len(ref) > 10
        # whale route: every block exceeds a cap of 5
        whale = sorted(map(tuple, ngram_jaccard_pairs(
            df, block_cols=["lang"], threshold=thr,
            whale_rows=5).collect()))
        assert whale == ref, f"whale thr={thr}"
