"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (the whole point of these):

* Exact dedup is a hash ``groupBy`` — one shuffle on a 60-bit digest,
  never on the raw text (100TB of text never moves; only (hash, id)).
* MinHash/LSH turns all-pairs O(n^2) similarity into a band-bucket
  equi-join: candidates are pairs sharing >=1 of ``bands`` banded
  signatures.  The shuffle key is the (band, band_hash) pair — small,
  uniformly distributed; skew only appears for degenerate corpora and is
  handled by AQE skew-join.
* SimHash is a single groupBy over exploded tokens (map-side combinable).
* n-gram Jaccard / embedding cosine verify *candidate pairs only* —
  always join on a blocking/candidate key first, never cross-join.

Everything is built-in columnar expressions (no Python UDFs), with
md5-based hashing so the DuckDB oracle reproduces results exactly
(see hashing.py; swap h64 for xxhash64 in production).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ._driver import local_frame
from ._staging import stage as _stage

from .hashing import h64, h64hi
from .text import tokens

#: digest column names for narrow / wide content elections
DIGEST_NAMES = ("content_hash", "content_hash2")


def digest_cols(col: Column, hash_fn=None, wide: bool = False) -> list[Column]:
    """Digest column(s) for a content election (exact / segment /
    URL-content gates).  Narrow (default): ONE 60-bit ``h64`` — or
    ``hash_fn`` (production: ``F.xxhash64``).  ``wide=True``: TWO
    independent digests, 120+ combined bits, for corpora past the
    single-digest birthday bound (see the SCALE.md digest-width table:
    at 100 TB a 60/64-bit digest falsely merges ~2^12 docs and ~2^19
    segments; 120 bits stays collision-free past 2^55 keys).  With the
    md5 default the second digest is the upper half of the SAME md5
    (zero extra hash cost); a custom ``hash_fn`` is re-applied under a
    domain prefix (two independent values — a first-digest collision
    does not propagate).  An election keyed on BOTH columns has exact
    semantics at any scale; every member of this family accepts the
    same two hooks, so fit the digest width to the corpus, not the
    other way around."""
    hf = hash_fn or h64
    if not wide:
        return [hf(col)]
    if hash_fn is None:
        return [h64(col), h64hi(col)]
    return [hf(col), hf(F.concat(F.lit("w2:"), col))]


def _spread(df: DataFrame) -> DataFrame:
    """Ensure hash-compute stages inherit full cluster parallelism: a
    small file count must not serialize a CPU-bound stage (one tiny
    parquet file -> one partition -> one core doing every md5).  A
    round-robin repartition with an *explicit* count (AQE never
    re-coalesces user-specified repartition(n)) costs one small shuffle
    of (id, text) and buys back the whole stage's parallelism; skipped
    when the scan is already parallel (the 100TB case).

    A shuffled input is always spread: its partition count is known
    only once AQE has run its shuffle stages, so asking ``.rdd`` would
    start a job at build time.  The physical plan, which shows the
    Exchanges (``sparkPlan`` precedes their insertion), is planned
    without running anything."""
    if df.isStreaming:
        # micro-batches inherit the source's parallelism, and .rdd is
        # illegal on a streaming plan — the spread is a batch-only fix
        return df
    n = df.sparkSession.sparkContext.defaultParallelism
    if ("Exchange" in df._jdf.queryExecution().executedPlan().toString()
            or df.rdd.getNumPartitions() < n):
        return df.repartition(n)
    return df


def exact_groups(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", hash_fn=None,
                 wide: bool = False) -> DataFrame:
    """Exact duplicate groups: one row per distinct content digest with
    the representative (min id) and the duplicate count.

    Digest-width discipline (SCALE.md): a 60/64-bit digest falsely
    merges DISTINCT documents once the corpus approaches the birthday
    bound (~2^30 docs for 60 bits — expected ~2^12 innocent merges at
    10^11 docs / 100 TB, each dropping a unique document as a "dup").
    ``hash_fn=F.xxhash64`` is the cheap production digest;
    ``wide=True`` keys the election on TWO independent digests
    (adds a ``content_hash2`` column; see ``digest_cols``) — exact at
    any conceivable corpus size, same single shuffle."""
    ds = digest_cols(F.col(text_col), hash_fn, wide)
    names = list(DIGEST_NAMES[:len(ds)])
    return (df.groupBy(*[d.alias(n) for d, n in zip(ds, names)])
            .agg(F.min(id_col).alias("rep_id"), F.count("*").alias("n_dups")))


def _bloom_probe(df: DataFrame, pri: DataFrame, keys: list[str],
                 prior_bloom: dict | None, want_hits: bool = False,
                 probe_col=None):
    """The prior-membership probe of every incremental dedup: returns
    ``(kept, hits)`` — rows of ``df`` whose key set is absent from /
    present in ``pri`` (``hits`` only when ``want_hits``).  Output is
    row-identical to the plain anti/semi joins at ANY fpp.

    Plain path (no ``prior_bloom``): shuffle-hash anti/semi joins —
    correct, but BOTH sides Exchange, and the prior side is the
    10^12-digest corpus table, re-shuffled per crawl drop.

    Bloom path: the snapshot filter answers "definitely not prior"
    MAP-SIDE (no false negatives for inserted keys — bloom.py), so

    * definitely-novel rows skip the prior entirely;
    * the sketch-positive RESIDUE (~fpp x drop + true dups — bounded
      by the drop, which is small by definition of incremental
      processing) is distinct-collected and BROADCAST into the prior
      scan: the prior resolves exact membership via a broadcast-hash
      semi-join — a map-only columnar scan of its digest column with
      ZERO prior-side Exchange (set ``residue_broadcast: False`` on
      the bloom dict for adversarial near-all-duplicate drops, whose
      residue approaches the drop and would broadcast heavy — the
      probe then keeps the map-side suppression but runs the exact
      join shuffle-hash);
    * the surviving hit set (true dup digests only — false positives
      die here) is itself residue-sized, and broadcasts back against
      the drop for the final anti/semi.

    Net per-drop Exchange: the residue's distinct (tiny).  The prior's
    only touch is a sequential shuffle-free scan.  A false positive
    costs one broadcast lookup, never a wrong row.

    The filter probes the FIRST digest column only (a 60-bit
    pre-filter in front of a wide election stays exact: the residue
    joins key on ALL digest columns); ``probe_col`` overrides it for
    composite keys whose Bloom was built on a derived expression
    (`band_bloom_key`).  On a STREAMING ``df`` the residue flip is
    illegal (a stream side cannot re-broadcast), so the bloom split
    composes with plain stream-static joins — the map-side suppression
    still shrinks the per-batch join input."""
    if prior_bloom is None:
        kept = df.join(pri, keys, "left_anti")
        hits = df.join(pri, keys, "left_semi") if want_hits else None
        return kept, hits
    from .bloom import bloom_attach
    att = bloom_attach(df, prior_bloom,
                       keys[0] if probe_col is None else probe_col)
    t = F.col("__bloom_maybe")
    maybe = att.filter(t).drop("__bloom_maybe")
    novel = att.filter(~t).drop("__bloom_maybe")
    if df.isStreaming or not prior_bloom.get("residue_broadcast", True):
        # streaming: a stream side cannot re-broadcast.  Batch with
        # residue_broadcast=False (set it on the read_bloom dict): the
        # escape hatch for an adversarial near-all-duplicate drop,
        # whose residue approaches the drop itself and would broadcast
        # heavy — the map-side suppression still shrinks the join
        # input; the exact join runs shuffle-hash as in the plain path.
        kept = maybe.join(pri, keys, "left_anti").unionByName(novel)
        hits = maybe.join(pri, keys, "left_semi") if want_hits else None
        return kept, hits
    residue = maybe.select(*keys).distinct()
    dup_keys = (pri.join(F.broadcast(residue), keys, "left_semi")
                .select(*keys).distinct())
    kept = (maybe.join(F.broadcast(dup_keys), keys, "left_anti")
            .unionByName(novel))
    hits = (maybe.join(F.broadcast(dup_keys), keys, "left_semi")
            if want_hits else None)
    return kept, hits


def incremental_keep(new: DataFrame, prior: DataFrame,
                     text_col: str = "text", id_col: str = "doc_id",
                     prior_digest_col=None, hash_fn=None,
                     wide: bool = False,
                     prior_bloom: dict | None = None) -> DataFrame:
    """Incremental (cross-snapshot) exact dedup: which documents of a NEW
    crawl batch survive against an already-kept PRIOR corpus — the
    continuous-corpus-build step that runs once per crawl.

    A new doc is kept iff (a) its content digest is absent from the
    prior corpus and (b) it is the first occurrence (min ``id_col``) of
    that digest within the batch.  Returns ``(id_col, content_hash)``.

    Scale shape: at 100 TB the prior side is a *digest table* (60-bit
    ints, materialized once per snapshot — pass ``prior_digest_col`` to
    reuse it instead of re-hashing text).  The anti-join is then
    digest-vs-digest: a shuffle hash anti-join on uniformly-distributed
    60-bit keys; neither side's text ever moves and no broadcast is
    assumed (both sides can be billions of rows).  Within-batch
    first-wins is a combinable min-aggregation (map-side partials), not
    a window sort.  Differs from ``decontaminate`` (pipeline.py), whose
    eval side is benchmark-sized and broadcasts.

    Digest-width discipline (SCALE.md): a single-digest collision here
    is worse than in ``exact_groups`` — an innocent NEW doc whose
    digest happens to equal a prior doc's is silently KILLED by the
    anti-join (~2^12 expected at 10^11 docs under 60 bits).  Pass
    ``hash_fn=F.xxhash64`` for the cheap production digest and
    ``wide=True`` to anti-join on TWO independent digests (exact at
    any scale); a wide prior digest table must be built with the same
    ``wide``/``hash_fn`` (pass both column names via
    ``prior_digest_col``).

    ``prior_bloom`` (the snapshot Bloom artifact —
    ``snapshot.read_bloom``) suppresses definitely-novel digests
    MAP-SIDE before the Exchange: only the sketch-positive residue
    (~fpp * |drop| + true dups) enters the anti-join, so the per-drop
    shuffle scales with the DROP, not the 10^12-digest prior; a false
    positive still resolves through the exact join, so the output is
    row-identical at any fpp (bloom.py)."""
    ds = digest_cols(F.col(text_col), hash_fn, wide)
    names = list(DIGEST_NAMES[:len(ds)])
    newd = new.select(F.col(id_col),
                      *[d.alias(n) for d, n in zip(ds, names)])
    if prior_digest_col is not None:
        cols = ([prior_digest_col] if isinstance(prior_digest_col, str)
                else list(prior_digest_col))
        if len(cols) != len(names):
            raise ValueError(
                f"wide={wide} elections need {len(names)} prior digest "
                f"column(s), got {cols} — the prior digest table must "
                f"be built with the same wide= setting")
        pri = prior.select(*[F.col(c).alias(n)
                             for c, n in zip(cols, names)])
    else:
        pds = digest_cols(F.col(text_col), hash_fn, wide)
        pri = prior.select(*[d.alias(n) for d, n in zip(pds, names)])
    kept, _ = _bloom_probe(newd, pri, names, prior_bloom)
    return (kept.groupBy(*names)
            .agg(F.min(id_col).alias(id_col))
            .select(id_col, *names))


def segment_digests(df: DataFrame, size: int = 10,
                    text_col: str = "text",
                    id_col: str = "doc_id", hash_fn=None,
                    wide: bool = False) -> DataFrame:
    """Map-side segment digest table ``(id, seg_idx, __d[, __d2])``:
    each doc's consecutive ``size``-token segments hashed in place —
    the text is dropped before any shuffle.  Shared by batch
    ``segment_dedup`` and the live first-wins election; works unchanged
    on streaming plans (``_spread`` is a batch-only no-op there).

    Digest-width discipline (SCALE.md): segment counts run ~10x doc
    counts, so the birthday bound arrives sooner — at 100 TB (~10^12
    segments) a 60-bit digest falsely merges ~2^19 innocent segment
    pairs, each cutting a unique segment from its carrier doc.
    ``hash_fn=F.xxhash64`` swaps the digest; ``wide=True`` adds a
    second independent digest column ``__d2`` (the md5 default's upper
    half — zero extra hash cost) so the election keys on 120 bits."""
    if size < 1:
        raise ValueError("segment size must be >= 1")
    toks = tokens(F.col(text_col))
    seg_text = F.array_join(
        F.slice(F.col("__t"), F.col("seg_idx") * size + 1, size), " ")
    ds = digest_cols(seg_text, hash_fn, wide)
    names = ["__d", "__d2"][:len(ds)]
    return (_spread(df.select(F.col(id_col), toks.alias("__t"))
                    .where(F.size("__t") > 0))
            .select(id_col, "__t",
                    F.explode(F.sequence(
                        F.lit(0),
                        F.ceil(F.size("__t") / F.lit(size)).cast("int") - 1))
                     .alias("seg_idx"))
            .select(id_col, "seg_idx",
                    *[d.alias(n) for d, n in zip(ds, names)]))


def segment_dedup(df: DataFrame, size: int = 10,
                  text_col: str = "text", id_col: str = "doc_id",
                  hash_fn=None, wide: bool = False) -> DataFrame:
    """Sub-document (C4/RefinedWeb-style "line-level") dedup: split each
    document into consecutive ``size``-token segments — the corpus
    equivalent of lines — drop every segment whose content digest
    already occurred earlier in the corpus (first occurrence by
    ``(id, segment index)`` wins), and reassemble the survivors in
    order.  Boilerplate that repeats across pages (headers, footers,
    cookie banners) vanishes from all but its first carrier; documents
    that lose every segment drop out entirely.

    Returns ``(id_col, clean_text, n_kept, n_segments)``.

    Scale design: the winner election shuffles only
    ``(digest, id, seg_idx)`` ints — segment text never enters a
    hash-partitioned Exchange (the digest is computed map-side from the
    document row and the text discarded; plan-pinned by
    ``test_segment_dedup_election_shuffles_ints_only``, which also
    allows the batch-only ``_spread`` round-robin of the raw scan).
    The one text-bearing shuffle is the final ``id_col`` equi-join
    attaching each doc's kept-segment index list back to its corpus
    row; reconstruction then re-derives the surviving segment text
    map-side from the original document, so at 100 TB the segment
    table itself — ~1x corpus bytes — never materializes past its map
    stage.

    ``hash_fn``/``wide`` follow the digest-width discipline of
    ``segment_digests``: a narrow-digest collision cuts an innocent
    segment, so past the birthday bound (~10^12 segments at 100 TB for
    60/64 bits) elect on the wide two-digest key.
    """
    if size < 1:
        raise ValueError("segment size must be >= 1")
    dnames = ["__d", "__d2"] if wide else ["__d"]
    winners = (segment_digests(df, size, text_col, id_col,
                               hash_fn=hash_fn, wide=wide)
               .groupBy(*dnames)
               .agg(F.min(F.struct(F.col(id_col).alias("i"),
                                   F.col("seg_idx").alias("s"))).alias("__w"))
               .select(F.col("__w.i").alias(id_col),
                       F.col("__w.s").alias("seg_idx")))
    kept = (winners.groupBy(id_col)
            .agg(F.sort_array(F.collect_list("seg_idx")).alias("__keep")))
    return _rebuild_from_kept(df.join(kept, id_col), size, text_col, id_col)


def _rebuild_from_kept(joined: DataFrame, size: int, text_col: str,
                       id_col: str) -> DataFrame:
    """Reassemble survivor text from a kept-seg_idx list map-side.  The
    token array is STAGED as a bound column first: referenced unbound
    inside the per-index transform lambda, Catalyst would re-split the
    document text once per kept segment (the quadratic inlining blowup
    measured 15x on winnowing)."""
    staged = joined.select(id_col, "__keep",
                           tokens(F.col(text_col)).alias("__toks"))
    rebuilt = F.array_join(
        F.transform(F.col("__keep"),
                    lambda i: F.array_join(
                        F.slice(F.col("__toks"), i * size + 1, size), " ")),
        " ")
    return staged.select(
        id_col, rebuilt.alias("clean_text"),
        F.size("__keep").cast("long").alias("n_kept"),
        F.ceil(F.size("__toks") / F.lit(size)).cast("long")
         .alias("n_segments"))


def incremental_segment_dedup(new: DataFrame,
                              prior: DataFrame | None = None,
                              prior_segments: DataFrame | None = None,
                              size: int = 10, text_col: str = "text",
                              id_col: str = "doc_id", hash_fn=None,
                              wide: bool = False,
                              prior_bloom: dict | None = None) -> DataFrame:
    """Cross-snapshot segment (line-level) dedup: clean a NEW crawl
    batch against the segments already kept in a PRIOR corpus — the
    per-crawl form of ``segment_dedup``.  A new segment survives iff
    its digest is absent from the prior segment-digest table AND it
    wins the within-batch first-occurrence election.  Returns the same
    ``(id, clean_text, n_kept, n_segments)`` shape as ``segment_dedup``
    (docs losing every segment drop).

    Pass ``prior_segments`` (a ``__d``-digest column table — the
    materialized snapshot artifact, see snapshot.py) to skip
    re-segmenting the prior corpus; ``prior`` re-derives it from text.

    Scale shape: the anti-join is digest-vs-digest (shuffle hash, both
    sides int-only, neither broadcast — a billion-row crawl against a
    100 TB corpus's segment table); the within-batch election and
    reassembly follow ``segment_dedup``'s ints-only design.

    ``hash_fn``/``wide``: digest-width discipline per
    ``segment_digests`` — a narrow collision against the PRIOR table
    silently kills an innocent new segment, so at prior-table sizes
    past the birthday bound probe on the wide two-digest key.  A wide
    prior_segments table must carry both ``__d`` and ``__d2`` (built
    with the same ``wide``/``hash_fn``).

    ``prior_bloom`` (snapshot artifact, ``snapshot.read_bloom``):
    map-side pre-filter on ``__d`` — only sketch-positive segments
    enter the anti-join; output row-identical at any fpp
    (`_bloom_split`)."""
    if (prior is None) == (prior_segments is None):
        raise ValueError("pass exactly one of prior / prior_segments")
    dnames = ["__d", "__d2"] if wide else ["__d"]
    if prior_segments is None:
        prior_segments = segment_digests(prior, size, text_col, id_col,
                                         hash_fn=hash_fn, wide=wide)
    elif wide and "__d2" not in prior_segments.columns:
        raise ValueError(
            "wide=True probe needs a prior_segments table with both "
            "__d and __d2 — rebuild the snapshot with the same wide= "
            "setting")
    pri = prior_segments.select(*dnames).distinct()
    segs = segment_digests(new, size, text_col, id_col,
                           hash_fn=hash_fn, wide=wide)
    fresh, _ = _bloom_probe(segs, pri, dnames, prior_bloom)
    winners = (fresh
               .groupBy(*dnames)
               .agg(F.min(F.struct(F.col(id_col).alias("i"),
                                   F.col("seg_idx").alias("s"))).alias("__w"))
               .select(F.col("__w.i").alias(id_col),
                       F.col("__w.s").alias("seg_idx")))
    kept = (winners.groupBy(id_col)
            .agg(F.sort_array(F.collect_list("seg_idx")).alias("__keep")))
    return _rebuild_from_kept(new.join(kept, id_col), size, text_col,
                              id_col)


def gram_digests(df: DataFrame, min_len: int = 20, text_col: str = "text",
                 id_col: str = "doc_id", hash_fn=None,
                 wide: bool = False) -> DataFrame:
    """Positional overlapping ``min_len``-token-gram digest table:
    ``(id_col, pos, __g[, __g2])`` with one row per token position
    (docs shorter than ``min_len`` tokens produce none).  The digest
    is the full 60-bit ``h64`` of the joined gram text — NOT the
    31-bit rolled shingle family (`_positional_shingles`):
    exact-substring removal acts directly on digest equality with no
    later verification step, so birthday collisions at 2^15.5 grams
    would cut innocent text.  Cost is ``min_len`` md5-input bytes per
    corpus byte, map-side and embarrassingly parallel; at 100 TB pass
    ``hash_fn=F.xxhash64`` (or any Column->Column digest) via the
    production hook — md5 ``h64`` is the default oracle-parity choice
    (hashing.py).

    SCALE WARNING (digest width): a 64-bit digest is PAST its birthday
    bound at 100 TB — ~2^44.5 gram occurrences give an expected
    ``n^2 / 2^65 ~= 2^24`` colliding pairs, each a potential innocent
    cut.  Whenever corpus gram count approaches ``2^32`` (the 64-bit
    birthday bound), either pair the ``hash_fn=F.xxhash64`` hook with
    ``substring_dedup(..., verify=True)`` (collision-audit mode, zero
    false cuts) or pass ``wide=True`` — a second independent digest
    column ``__g2`` (`digest_cols`) so every election/probe keys on
    120 bits; the incremental probe, which CANNOT verify (the prior
    side is a digest table, its text long gone), has only the wide
    rung.  Quantified in SCALE.md (digest-width sections)."""
    if min_len < 2:
        raise ValueError("min_len must be >= 2")
    hf = hash_fn or h64
    # stage the token array, then build the per-position digest ARRAY in
    # one projection and explode it: exploding (id, pos, token-array)
    # rows first would materialize the O(n^2) per-doc array copies
    staged = (_spread(df.select(F.col(id_col), F.col(text_col)))
              .select(id_col, tokens(F.col(text_col)).alias("__t")))
    seq = F.sequence(F.lit(1), F.size("__t") - (min_len - 1))

    def gtxt(i):
        return F.array_join(F.slice(F.col("__t"), i, min_len), " ")

    if wide:
        g = F.transform(seq, lambda i: F.struct(
            *[d.alias(n) for d, n in
              zip(digest_cols(gtxt(i), hash_fn, True), ("g", "g2"))]))
        return (staged.filter(F.size("__t") >= min_len)
                .select(id_col, F.posexplode(g).alias("__p0", "__s"))
                .select(id_col, (F.col("__p0") + 1).alias("pos"),
                        F.col("__s.g").alias("__g"),
                        F.col("__s.g2").alias("__g2")))
    g = F.transform(seq, lambda i: hf(gtxt(i)))
    return (staged.filter(F.size("__t") >= min_len)
            .select(id_col, F.posexplode(g).alias("__p0", "__g"))
            .select(id_col, (F.col("__p0") + 1).alias("pos"), "__g"))


def _cut_and_rebuild(docs: DataFrame, dup_occ: DataFrame, min_len: int,
                     text_col: str, id_col: str) -> DataFrame:
    """Shared tail of the substring-dedup family: given duplicate gram
    occurrences ``(id_col, pos)``, remove every token covered by one
    and reassemble.  Returns (id, clean_text, n_tokens, n_removed) for
    EVERY input doc (a fully-duplicated doc keeps its row with empty
    ``clean_text`` — the caller decides whether to drop it).

    The rebuild is O(tokens + cuts) map-side, not O(tokens * cuts):
    cut intervals all have length ``min_len``, so their ends are
    monotone in their sorted starts and the kept text is exactly the
    GAPS between consecutive cuts — [prev_cut + min_len, next_cut - 1]
    plus the head/tail gaps — with no interval-merge loop needed."""
    L = min_len
    cuts = (dup_occ.groupBy(id_col)
            .agg(F.sort_array(F.collect_set("pos")).alias("__cuts")))
    staged = (docs.join(cuts, id_col, "left")
              .select(id_col, "__cuts",
                      tokens(F.col(text_col)).alias("__toks"))
              .select(id_col, "__cuts", "__toks",
                      F.size("__toks").alias("__n")))
    m = F.size("__cuts")
    gaps = F.concat(
        F.array(F.struct(F.lit(1).alias("lo"),
                         (F.element_at("__cuts", 1) - 1).alias("hi"))),
        F.transform(
            F.sequence(F.lit(2), F.greatest(m, F.lit(2))),
            lambda i: F.struct(
                (F.coalesce(F.try_element_at("__cuts", i - 1), F.lit(0)) + L)
                .alias("lo"),
                (F.coalesce(F.try_element_at("__cuts", i), F.lit(0)) - 1)
                .alias("hi"))),
        F.array(F.struct((F.element_at("__cuts", m) + L).alias("lo"),
                         F.col("__n").alias("hi"))))
    kept = F.flatten(F.transform(
        F.filter(gaps, lambda s: s["hi"] >= s["lo"]),
        lambda s: F.slice(F.col("__toks"), s["lo"], s["hi"] - s["lo"] + 1)))
    kept = F.when(F.col("__cuts").isNull(), F.col("__toks")).otherwise(kept)
    return (staged.select(id_col, kept.alias("__k"), "__n")
            .select(F.col(id_col),
                    F.array_join("__k", " ").alias("clean_text"),
                    F.col("__n").cast("long").alias("n_tokens"),
                    (F.col("__n") - F.size("__k")).cast("long")
                    .alias("n_removed")))


def substring_dedup(df: DataFrame, min_len: int = 20,
                    text_col: str = "text",
                    id_col: str = "doc_id", hash_fn=None,
                    verify: bool = False,
                    wide: bool = False) -> DataFrame:
    """Exact-substring dedup (the suffix-array family of "Deduplicating
    Training Data Makes Language Models Better", Lee et al. 2021):
    remove every ARBITRARY-OFFSET substring of >= ``min_len`` tokens
    that also occurs elsewhere in the corpus (any other document, or an
    earlier position of the same document), keeping the globally first
    occurrence by ``(id, pos)``.  The suffix-array formulation and this
    one coincide exactly: a token lies in some repeated substring of
    length >= L iff some repeated L-gram covers it, and an L-gram
    occurrence is "repeated" iff it is not the first occurrence of its
    content — so duplicate-marking overlapping L-grams IS the
    suffix-array semantics, re-expressed as a groupBy instead of a
    suffix sort (which does not distribute).

    Returns ``(id, clean_text, n_tokens, n_removed)`` for every doc.

    Scale shape: gram digests are map-side (`gram_digests`); the
    first-occurrence election shuffles ``(digest, id, pos)`` ints only,
    pre-filtered to digests with >1 occurrence (the overwhelmingly
    unique grams of a real corpus never join); cut positions flow back
    as one int list per doc and the text is re-derived map-side
    (`_cut_and_rebuild`), so gram/segment text never enters an
    Exchange.

    ``hash_fn`` swaps the gram digest (production: ``F.xxhash64``; the
    md5 default is the oracle-parity choice).  ``verify=True`` is the
    collision-audit mode for digests narrower than the corpus demands:
    every duplicate-marked occurrence is re-checked against its
    winner's actual gram tokens (two doc-id joins carrying token
    arrays, bounded by the DUPLICATE density — not corpus size) and a
    digest collision between different grams no longer cuts innocent
    text.  Verification is CONSERVATIVE under collisions: an occurrence
    whose true first occurrence lost the collided group's election is
    kept rather than cut — the audit mode trades a vanishing miss rate
    for a zero false-cut rate.  ``wide=True`` elects on the two-digest
    120-bit key instead (`digest_cols`) — the verification-free
    alternative, and the ONLY rung available to the incremental probe
    (see ``incremental_substring_dedup``)."""
    gnames = ["__g", "__g2"] if wide else ["__g"]
    occ = gram_digests(df, min_len, text_col, id_col, hash_fn=hash_fn,
                       wide=wide)
    dup_g = (occ.groupBy(*gnames)
             .agg(F.min(F.struct(F.col(id_col).alias("i"),
                                 F.col("pos").alias("p"))).alias("__w"),
                  F.count("*").alias("__c"))
             .filter(F.col("__c") > 1)
             .select(*gnames, "__w"))
    dup_occ = (occ.join(dup_g, gnames)
               .filter((F.col(id_col) != F.col("__w.i"))
                       | (F.col("pos") != F.col("__w.p")))
               .select(id_col, "pos", "__w"))
    if verify:
        ta = (df.select(F.col(id_col), tokens(F.col(text_col))
                        .alias("__toks")))
        wa = ta.select(F.col(id_col).alias("__wi"),
                       F.col("__toks").alias("__wtoks"))
        dup_occ = (dup_occ
                   .join(ta, id_col)
                   .join(wa, F.col("__w.i") == F.col("__wi"))
                   .filter(F.slice(F.col("__toks"), F.col("pos"), min_len)
                           == F.slice(F.col("__wtoks"), F.col("__w.p"),
                                      min_len)))
    return _cut_and_rebuild(df, dup_occ.select(id_col, "pos"),
                            min_len, text_col, id_col)


def incremental_substring_dedup(new: DataFrame,
                                prior: DataFrame | None = None,
                                prior_grams: DataFrame | None = None,
                                min_len: int = 20, text_col: str = "text",
                                id_col: str = "doc_id", hash_fn=None,
                                wide: bool = False,
                                prior_bloom: dict | None = None) -> DataFrame:
    """Cross-snapshot exact-substring dedup: clean a NEW crawl batch
    against a PRIOR corpus — a new-batch token is cut iff covered by a
    gram that occurs in the prior corpus OR earlier in the new batch
    itself.  Pass ``prior_grams`` (a ``__g`` digest table, the snapshot
    artifact) to skip re-hashing the prior corpus.

    Scale shape: the prior probe is a digest-vs-digest semi-join (ints
    both sides, neither broadcast); the within-batch election follows
    ``substring_dedup``.

    Digest-width discipline: the batch form's ``verify=True`` audit is
    IMPOSSIBLE here — the prior side is a digest table whose text is
    long gone — so past the birthday bound (~2^30 grams for 60 bits)
    the ONLY safe rung is ``wide=True``: probe and elect on the
    two-digest key (a wide ``prior_grams`` table carries ``__g2``;
    build the snapshot with the same ``wide``/``hash_fn``).

    ``prior_bloom`` (snapshot artifact, ``snapshot.read_bloom``):
    gram occurrences the sketch rules out of the prior skip BOTH prior
    joins (the semi for cut positions and the anti feeding the
    within-batch election) — the gram table runs ~min_len x corpus
    rows, so this is the family's biggest shuffle saving; output
    row-identical at any fpp (`_bloom_split`)."""
    if (prior is None) == (prior_grams is None):
        raise ValueError("pass exactly one of prior / prior_grams")
    gnames = ["__g", "__g2"] if wide else ["__g"]
    if prior_grams is None:
        prior_grams = gram_digests(prior, min_len, text_col, id_col,
                                   hash_fn=hash_fn, wide=wide)
    elif wide and "__g2" not in prior_grams.columns:
        raise ValueError(
            "wide=True probe needs a prior_grams table with both __g "
            "and __g2 — rebuild the snapshot with the same wide= "
            "setting")
    pri = prior_grams.select(*gnames).distinct()
    occ = gram_digests(new, min_len, text_col, id_col, hash_fn=hash_fn,
                       wide=wide)
    fresh, hits = _bloom_probe(occ, pri, gnames, prior_bloom,
                               want_hits=True)
    hit_prior = hits.select(id_col, "pos")
    dup_g = (fresh.groupBy(*gnames)
             .agg(F.min(F.struct(F.col(id_col).alias("i"),
                                 F.col("pos").alias("p"))).alias("__w"),
                  F.count("*").alias("__c"))
             .filter(F.col("__c") > 1)
             .select(*gnames, "__w"))
    dup_batch = (fresh.join(dup_g, gnames)
                 .filter((F.col(id_col) != F.col("__w.i"))
                         | (F.col("pos") != F.col("__w.p")))
                 .select(id_col, "pos"))
    return _cut_and_rebuild(new, hit_prior.unionByName(dup_batch),
                            min_len, text_col, id_col)


def novelty_score(new: DataFrame, prior: DataFrame | None = None,
                  prior_grams: DataFrame | None = None,
                  min_len: int = 20, text_col: str = "text",
                  id_col: str = "doc_id", hash_fn=None,
                  wide: bool = False,
                  prior_bloom: dict | None = None) -> DataFrame:
    """Per-document NOVELTY against the prior snapshot: the fraction
    of a doc's overlapping ``min_len``-token grams absent from the
    prior corpus — the "how much of this page is new text" metric
    (the analysis dual of exact-substring dedup: dedup CUTS known
    spans, novelty MEASURES them).  Low-novelty docs are syndication,
    mirrors, and templated spam even when no single gram run is long
    enough to kill them; the score also drives crawl prioritization
    (re-crawl sources whose drops keep arriving novel).  Returns
    ``(id, n_grams, n_known, novelty)`` for docs with >= ``min_len``
    tokens, ``novelty = round(1 - n_known/n_grams, 6)``.

    Scale shape: identical to the ``incremental_substring_dedup``
    probe — map-side gram digests, a digest-keyed semi-join against
    the snapshot gram table (pass ``prior_grams``; ``prior``
    re-derives it from text), two combinable per-doc counts; text
    never shuffles.  ``prior_bloom`` / ``hash_fn`` / ``wide`` follow
    the family's hooks (the bloom suppresses definitely-novel grams
    map-side — for a mostly-novel crawl that is MOST grams)."""
    if (prior is None) == (prior_grams is None):
        raise ValueError("pass exactly one of prior / prior_grams")
    gnames = ["__g", "__g2"] if wide else ["__g"]
    if prior_grams is None:
        prior_grams = gram_digests(prior, min_len, text_col, id_col,
                                   hash_fn=hash_fn, wide=wide)
    elif wide and "__g2" not in prior_grams.columns:
        raise ValueError(
            "wide=True probe needs a prior_grams table with both __g "
            "and __g2")
    pri = prior_grams.select(*gnames).distinct()
    occ = gram_digests(new, min_len, text_col, id_col, hash_fn=hash_fn,
                       wide=wide)
    if prior_bloom is None:
        # r13 (guide §1.2/§2.4): one pass instead of two.  The old
        # shape referenced `occ` twice (a per-doc count AND a semi-join
        # for hits) — the whole tokenize+gram explode ran twice and the
        # two per-doc aggregates re-joined.  A left join against the
        # DISTINCT prior gram set marks each occurrence row known/
        # unknown in the same flow, and ONE aggregate produces both
        # counts: count(*) = n_grams, count(marker) = n_known.  Rows
        # identical: pri is distinct so the left join is 1:1 per
        # occurrence, unmatched rows count null markers as unknown —
        # exactly the semi-join's hit set.
        marked = occ.join(pri.withColumn("__k", F.lit(1)), gnames,
                          "left")
        return (marked.groupBy(id_col)
                .agg(F.count("*").alias("n_grams"),
                     F.count("__k").alias("n_known"))
                .withColumn("novelty",
                            F.round(1 - F.col("n_known")
                                    / F.col("n_grams"), 6)))
    # bloom path unchanged: the sketch suppresses definitely-novel
    # grams MAP-SIDE before any join — the point of the artifact is
    # that those rows never shuffle toward the prior, which the
    # one-pass left join above cannot preserve (it must route every
    # occurrence row through the join to count it)
    _, hits = _bloom_probe(occ, pri, gnames, prior_bloom,
                           want_hits=True)
    per_doc = occ.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    known = hits.groupBy(id_col).agg(F.count("*").alias("n_known"))
    return (per_doc.join(known, id_col, "left")
            .select(id_col, "n_grams",
                    F.coalesce("n_known", F.lit(0)).alias("n_known"))
            .withColumn("novelty",
                        F.round(1 - F.col("n_known") / F.col("n_grams"),
                                6)))


#: query-string parameters that never identify content — the standard
#: tracking params crawl pipelines strip before URL-keyed dedup
TRACKING_PARAM_RE = "^(utm_[^=]*|fbclid|gclid|msclkid|ref|ref_src)="


def canonical_url(col: Column) -> Column:
    """Canonical form of a URL column — the cheapest high-yield dedup
    signal a crawl pipeline applies BEFORE any content hashing (the
    same page is typically crawled under dozens of URL spellings):

      * scheme and host lowercased; ``www.`` prefix and default ports
        (:80, :443) stripped from the host;
      * fragment dropped; trailing slashes trimmed from the path;
      * tracking query params removed (`TRACKING_PARAM_RE`), the rest
        SORTED (param order never identifies content) and re-joined.

    Malformed URLs (no scheme://host) canonicalize to NULL — a null
    key never elects into a dedup group.  Pure codegen regexp/array
    expressions (RE2-safe, no backrefs) with an exact DuckDB mirror:
    map-only at any scale."""
    pat = r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)([^?#]*).*$"
    scheme = F.lower(F.regexp_extract(col, pat, 1))
    host = F.regexp_replace(
        F.regexp_replace(F.lower(F.regexp_extract(col, pat, 2)),
                         "^www\\.", ""),
        ":(80|443)$", "")
    path = F.regexp_replace(F.regexp_extract(col, pat, 3), "/+$", "")
    q = F.regexp_extract(col, r"^[^?#]*\?([^#]*).*$", 1)
    params = F.array_join(
        F.array_sort(F.filter(
            F.split(q, "&"),
            lambda x: (x != "") & ~x.rlike(TRACKING_PARAM_RE))), "&")
    canon = F.concat(
        scheme, F.lit("://"), host, path,
        F.when(params != "", F.concat(F.lit("?"), params)).otherwise(F.lit("")))
    return F.when((scheme != "") & (host != ""), canon)


def url_dedup(df: DataFrame, url_col: str = "url",
              id_col: str = "doc_id") -> DataFrame:
    """URL-keyed first-wins dedup: one row per canonical URL with the
    kept (min-``id_col``) representative and the spelling-variant
    count; malformed URLs (null canonical form) never group.  One
    combinable groupBy on the canonical string — at crawl scale this
    runs before fetch/content hashing and removes most duplicates for
    the cost of one map pass + one key shuffle."""
    return (df.withColumn("canon_url", canonical_url(F.col(url_col)))
            .filter(F.col("canon_url").isNotNull())
            .groupBy("canon_url")
            .agg(F.min(id_col).alias(id_col),
                 F.count("*").alias("n_dups")))


#: default adult/spam URL-substring terms of the FineWeb/RefinedWeb
#: URL filter (Penedo et al. 2023 §3.1 block on URL keywords).  Tiny
#: demo list — production passes its own curated list.
URL_BLOCKED_TERMS: tuple[str, ...] = ("porn", "xxx", "casino", "viagra")

#: TLDs blocked outright (FineWeb blocks adult TLDs at the URL stage).
URL_BLOCKED_TLDS: tuple[str, ...] = ("xxx", "adult", "sex")


def url_rule_filter(df: DataFrame, url_col: str = "url",
                    blocked_domains: tuple[str, ...] = (),
                    blocked_tlds: tuple[str, ...] = URL_BLOCKED_TLDS,
                    blocked_terms: tuple[str, ...] = URL_BLOCKED_TERMS,
                    max_len: int = 2048,
                    max_depth: int = 16) -> DataFrame:
    """FineWeb/RefinedWeb-style URL filtering (Penedo et al. 2023
    §3.1) — the rule gate a crawl applies BEFORE fetching content:

      * ``blocked_domains``: exact host or any-subdomain match
        (``d`` blocks ``d`` and ``*.d``) against a curated blocklist;
      * ``blocked_tlds``: the host's last label;
      * ``blocked_terms``: substring match on the lowercased full URL
        (the adult/spam keyword rule);
      * structural sanity: URL length <= ``max_len``, path depth
        <= ``max_depth`` (crawler traps), and a parseable
        ``scheme://host``.

    Returns every input row plus the lowercased ``host`` and a
    ``url_reason`` string naming the FIRST rule that fired (NULL =
    passes) — the filter-audit shape (the caller filters
    ``url_reason IS NULL``; rejected rows stay inspectable, and the
    reason histogram is the crawl-ops dashboard).

    Scale shape: ONE map-only projection of pure codegen regexp/string
    expressions; the blocklists fold into literal predicate chains
    (production-sized domain lists — millions of hosts — swap the
    literal chain for a broadcast left join on ``host`` and on the
    host's suffix expansion; the rule semantics and audit column are
    unchanged).  No shuffle, no state: runs at scan speed over 100 TB
    and append-legal on a live stream."""
    pat = r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)([^?#]*).*$"
    url = F.col(url_col)
    scheme = F.lower(F.regexp_extract(url, pat, 1))
    host = F.regexp_replace(F.lower(F.regexp_extract(url, pat, 2)),
                            ":[0-9]+$", "")
    path = F.regexp_extract(url, pat, 3)
    tld = F.regexp_extract(host, r"\.([a-z0-9-]+)$", 1)
    low = F.lower(url)
    depth = F.size(F.filter(F.split(path, "/"), lambda x: x != ""))

    dom_hit = F.lit(False)
    for d in blocked_domains:
        d = d.lower()
        dom_hit = dom_hit | (host == d) | host.endswith("." + d)
    tld_hit = F.lit(False)
    for t in blocked_tlds:
        tld_hit = tld_hit | (tld == t.lower())
    term_hit = F.lit(False)
    for t in blocked_terms:
        term_hit = term_hit | low.contains(t.lower())

    reason = (F.when(url.isNull() | (scheme == "") | (host == ""),
                     F.lit("malformed"))
              .when(F.length(url) > max_len, F.lit("too_long"))
              .when(depth > max_depth, F.lit("deep_path"))
              .when(dom_hit, F.lit("blocked_domain"))
              .when(tld_hit, F.lit("blocked_tld"))
              .when(term_hit, F.lit("blocked_term")))
    return df.withColumns({"host": host, "url_reason": reason})


def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingles (distinct, as strings) of a text column.
    Human-readable form — the dedup hot paths use ``shingle_hashes``,
    which never constructs the joined shingle strings at all."""
    toks = tokens(col)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
            lambda i: F.array_join(F.slice(toks, i, n), " ")))


#: universal-hash family for minhash: h_i(x) = (a_i * x + b_i) mod p over
#: a single base digest per shingle.  One md5 per TOKEN total (not one
#: per shingle, nor one per hash function); shingle digests and the
#: affine family are pure 64-bit arithmetic, exact and identical in
#: DuckDB (operands < 2^31, products < 2^62 — no overflow in signed
#: 64-bit on either engine).
MH_PRIME = (1 << 31) - 1


def mh_coeffs(i: int) -> tuple[int, int]:
    a = (2654435761 * (i + 1)) % MH_PRIME
    b = (40503 * (i + 1) + 1) % MH_PRIME
    return (a or 1), b


def sh_coeff(j: int) -> int:
    """Positional coefficient for the rolling shingle hash."""
    return ((2654435761 * (j + 7)) % MH_PRIME) or 1


def token_hash_array(col: Column) -> Column:
    """Per-token 60-bit digests (mod MH_PRIME) of a text column: the ONE
    md5 pass the whole dedup family shares.  Callers must project this
    into a real column before indexing into it — Catalyst inlines lazy
    Column expressions, so ``element_at`` on the un-projected expression
    would re-evaluate the entire md5 transform per element (O(tokens^2);
    measured 40x slower at 100k docs)."""
    return F.transform(tokens(col), lambda x: h64(x) % MH_PRIME)


def shingle_hashes(hs_col: Column, n: int = 3) -> Column:
    """Distinct word-n-gram shingle digests from a *materialized*
    token-hash array column (see ``token_hash_array``): shingle digest =
    sum_j c_j * hs[i+j] mod p — pure codegen arithmetic, no shingle
    string is ever built.  Positions past the end (docs shorter than
    ``n``) contribute 0, so a short doc yields one degenerate shingle;
    6.3x faster than md5-per-joined-shingle-string at 100k docs.
    Replicates reference shingling semantics (ProcessedTextSource-style
    n-gram keys) arithmetically."""
    def digest(i: Column) -> Column:
        acc = None
        for j in range(n):
            t = (F.coalesce(F.try_element_at(hs_col, i + j), F.lit(0))
                 * sh_coeff(j)) % MH_PRIME
            acc = t if acc is None else acc + t
        return acc % MH_PRIME

    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1),
                       F.greatest(F.size(hs_col) - (n - 1), F.lit(1))),
            digest))


def _positional_shingles(hs_col: Column, n: int) -> Column:
    """Positional (non-distinct) shingle digest sequence — shared by
    winnowing, which needs window positions, unlike the distinct-set
    form ``shingle_hashes`` feeds minhash."""
    def digest(i: Column) -> Column:
        acc = None
        for j in range(n):
            t = (F.coalesce(F.try_element_at(hs_col, i + j), F.lit(0))
                 * sh_coeff(j)) % MH_PRIME
            acc = t if acc is None else acc + t
        return acc % MH_PRIME

    return F.transform(
        F.sequence(F.lit(1),
                   F.greatest(F.size(hs_col) - (n - 1), F.lit(1))),
        digest)


def winnow_fingerprints(df: DataFrame, shingle_n: int = 3, window: int = 4,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS sketch): the min shingle digest of every ``window``-length
    sliding window over the positional shingle sequence, deduplicated —
    guarantees any shared passage of >= window+shingle_n-1 tokens
    between two documents shares at least one selected fingerprint,
    while storing only ~2/(window+1) of the shingles.  Returns
    ``(id_col, fingerprint)`` rows.

    Pure codegen array arithmetic map-side (one md5 per token; shingle
    and window selection are rolled 64-bit ops); the output is a
    fingerprint table ~corpus_tokens * 2/(window+1) rows of ints."""
    if shingle_n < 1 or window < 1:
        raise ValueError("need shingle_n >= 1 and window >= 1")
    # STAGE the shingle array as a bound column before the window
    # transform references it O(len) times: inlined, Catalyst would
    # rebuild the whole shingle array per window position — a quadratic
    # per-doc blowup (measured 46s -> 1.4s at sf0.01)
    staged = (_spread(df.select(F.col(id_col), F.col(text_col)))
              .select(id_col,
                      token_hash_array(F.col(text_col)).alias("__hs"))
              .select(id_col,
                      _positional_shingles(F.col("__hs"), shingle_n)
                      .alias("__sh")))
    wins = F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("__sh") - (window - 1),
                                        F.lit(1))),
        lambda i: F.array_min(F.slice(F.col("__sh"), i, window))))
    return staged.select(id_col, F.explode(wins).alias("fingerprint"))


def winnow_overlap_pairs(df: DataFrame, min_shared: int = 2,
                         max_df: int = 100, shingle_n: int = 3,
                         window: int = 4, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Passage-overlap candidate pairs via shared winnowed
    fingerprints: docs sharing >= ``min_shared`` selected fingerprints
    — the partial-plagiarism / passage-contamination complement to
    whole-document MinHash (which needs global similarity; winnowing
    catches ONE copied paragraph inside otherwise-different docs).

    Scale shape: the pair generation is a fingerprint equi-join —
    linear in overlap density, never all-pairs — and ``max_df`` drops
    fingerprints carried by more than that many docs FIRST (ubiquitous
    boilerplate would otherwise quadratically explode the hot digests;
    the same cap MOSS applies).  Returns (id_a, id_b, n_shared)."""
    fp = winnow_fingerprints(df, shingle_n, window, text_col, id_col)
    # the fingerprint pipeline (per-token md5 + positional shingles +
    # window-min) feeds the rare filter AND both self-join sides —
    # persist so it runs once, not ~3x (same shape as
    # ngram_jaccard_pairs)
    from ._cache import persist
    fp = persist(fp, "dedup")
    rare = (fp.groupBy("fingerprint")
            .agg(F.count_distinct(id_col).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("fingerprint"))
    fp = fp.join(rare, "fingerprint")
    a = fp.select(F.col("fingerprint"), F.col(id_col).alias("id_a"))
    b = fp.select(F.col("fingerprint"), F.col(id_col).alias("id_b"))
    return (a.join(b, "fingerprint")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared))


def minhash_signature(df: DataFrame, text_col: str = "text",
                      num_hashes: int = 16, shingle_n: int = 3,
                      id_col: str = "doc_id") -> DataFrame:
    """One row per ``id_col`` with ``mh_0..mh_{k-1}`` minhash columns:
    min over shingle digests of the universal hash family.

    Shape chosen for scale: one md5 per token (projected, then rolled
    into shingle digests arithmetically — no shingle strings), explode
    digests to rows, then ONE groupBy with k ``min`` aggregates.
    ``min`` is map-side combinable, so the shuffle carries one partial
    signature row per (doc, partition), never the shingle set."""
    staged = df.select(F.col(id_col),
                       token_hash_array(F.col(text_col)).alias("__hs"))
    ex = staged.select(
        id_col,
        F.explode(shingle_hashes(F.col("__hs"), shingle_n)).alias("__h"))
    aggs = []
    for i in range(num_hashes):
        a, b = mh_coeffs(i)
        aggs.append(F.min((F.col("__h") * a + b) % MH_PRIME).alias(f"mh_{i}"))
    return ex.groupBy(id_col).agg(*aggs)


def release_cached() -> int:
    """Unpersist tables cached by the dedup family
    (``winnow_overlap_pairs`` fingerprints, ``ngram_jaccard_pairs``
    shingle sets, ``incremental_components`` touched-prior rows).
    Call after downstream results have been materialized; returns how
    many tables were released."""
    from ._cache import release
    return release("dedup")


def banded_signatures(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", num_hashes: int = 16,
                      bands: int = 4, shingle_n: int = 3) -> DataFrame:
    """LSH band-bucket table: ``bands`` rows per doc of
    ``(id, band, band_hash)`` — the unit of storage for persistent LSH
    indexes (a snapshot materializes THIS table; probes and self-joins
    both run against it)."""
    if bands <= 0 or num_hashes % bands != 0:
        # rows = 0 would hash EVERY doc to one empty-concat bucket (the
        # downstream self-join degenerates to all-pairs); a non-divisor
        # would silently compute-but-ignore the trailing hashes
        raise ValueError(f"bands ({bands}) must evenly divide "
                         f"num_hashes ({num_hashes})")
    rows = num_hashes // bands
    sig = minhash_signature(_spread(df), text_col, num_hashes, shingle_n,
                            id_col=id_col)
    return sig.select(
        F.col(id_col),
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                h64(F.concat_ws("_", *[F.col(f"mh_{b * rows + r}").cast("string")
                                       for r in range(rows)])).alias("band_hash"))
            for b in range(bands)])).alias("bb"),
    ).select(id_col, "bb.band", "bb.band_hash")


def banded_signatures_rowwise(df: DataFrame, id_col: str = "doc_id",
                              text_col: str = "text",
                              num_hashes: int = 16, bands: int = 4,
                              shingle_n: int = 3) -> DataFrame:
    """MAP-ONLY form of `banded_signatures` — identical (id, band,
    band_hash) rows, zero Exchange: each minhash is ``array_min`` over
    the per-row shingle-digest array instead of explode + groupBy-min
    (same `shingle_hashes` / `mh_coeffs` / `h64` arithmetic, so values
    are bit-identical — parity-tested).  This is the form a STREAMING
    plan needs (a groupBy on a stream is an aggregation, illegal in
    append mode): live probes band arriving docs with this and
    stream-static-join the snapshot's band table."""
    if bands <= 0 or num_hashes % bands != 0:
        raise ValueError(f"bands ({bands}) must evenly divide "
                         f"num_hashes ({num_hashes})")
    rows = num_hashes // bands
    # STAGE the shingle array and each minhash into real projections:
    # inlining `sh` into all num_hashes transforms (and each transform
    # into its band's concat) builds an expression tree ~num_hashes x
    # |sh| that Catalyst re-analyzes per plan — measured 10x slower in
    # batch and ~60x in a micro-batch plan at sf0.01.  Projections are
    # map-only, so the form stays streaming-legal, and CollapseProject
    # declines to re-inline non-cheap multiply-referenced aliases.
    staged = df.select(
        F.col(id_col),
        shingle_hashes(token_hash_array(F.col(text_col)), shingle_n)
        .alias("__sh"))

    def _hash_fn(a, b):
        # closure factory, NOT default-arg capture: F.transform infers
        # the callback's arity from its signature, and extra defaulted
        # params read as the 3-arg form (INVALID_LAMBDA_FUNCTION_CALL)
        return lambda x: (x * a + b) % MH_PRIME

    mh_cols = []
    for i in range(num_hashes):
        a, b = mh_coeffs(i)
        mh_cols.append(
            F.array_min(F.transform(F.col("__sh"), _hash_fn(a, b)))
            .alias(f"__mh{i}"))
    sig = staged.select(id_col, *mh_cols)
    # Short-doc edge (parity-tested): `shingle_hashes` pads every doc —
    # even empty or NULL text — to at least one degenerate shingle, so
    # the minhashes are NEVER NULL and both forms band every doc
    # identically (empty and NULL text share the degenerate [0] shingle
    # set and therefore one bucket, in BOTH forms).  No filter is
    # needed here, and none should be added casually: a Filter over
    # these wide projections costs ~5x in optimizer/plan overhead
    # (measured at sf0.01), dwarfing the work it saves.
    return (sig.select(
        F.col(id_col),
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                h64(F.concat_ws("_", *[
                    F.col(f"__mh{b * rows + r}").cast("string")
                    for r in range(rows)])).alias("band_hash"))
            for b in range(bands)])).alias("bb"))
        .select(id_col, "bb.band", "bb.band_hash"))


def band_bloom_key() -> Column:
    """The single-column Bloom key for the (band, band_hash) composite
    probe — the identical expression must derive it on the snapshot
    build side and the crawl probe side, or inserted keys could test
    negative (bloom.py's no-false-negative contract)."""
    return F.xxhash64(F.col("band"), F.col("band_hash"))


def incremental_near_dup(new: DataFrame, prior: DataFrame | None = None,
                         id_col: str = "doc_id", text_col: str = "text",
                         num_hashes: int = 16, bands: int = 4,
                         shingle_n: int = 3,
                         prior_bands: DataFrame | None = None,
                         prior_bloom: dict | None = None) -> DataFrame:
    """Near-duplicate counterpart of ``incremental_keep``: flag NEW
    documents that LSH-collide with the PRIOR corpus — i.e. share at
    least one minhash band bucket — returning ``(id_col, n_hit_bands)``
    for the suspects (to drop outright or verify with
    ``ngram_jaccard_pairs`` before dropping).

    Scale shape: at 100 TB the prior side is the banded signature TABLE
    from the last snapshot (pass ``prior_bands`` — the same table
    ``banded_signatures`` materializes; never re-minhash the corpus),
    and the probe is a band-key equi-join: new docs contribute
    ``bands`` rows each, the join key (band, band_hash) is uniformly
    distributed, and neither side's text or vectors move.  The
    within-batch near-dup pass stays ``lsh_candidate_pairs`` on the
    batch alone.

    ``prior_bloom`` (the snapshot's ``bloom_bands`` artifact, keyed on
    `band_bloom_key` — snapshot.read_bloom): band rows the sketch
    rules out of the prior never enter the probe join; the residue
    broadcasts into the prior band table (`_bloom_probe`).  Output
    row-identical at any fpp (a false-positive band row joins and
    finds nothing)."""
    if prior is None and prior_bands is None:
        raise ValueError("incremental_near_dup needs the prior corpus: "
                         "pass prior= (text) or prior_bands= (the "
                         "snapshot's banded signature table)")
    nb = banded_signatures(new, id_col=id_col, text_col=text_col,
                           num_hashes=num_hashes, bands=bands,
                           shingle_n=shingle_n)
    if prior_bands is None:
        prior_bands = banded_signatures(prior, id_col=id_col,
                                        text_col=text_col,
                                        num_hashes=num_hashes, bands=bands,
                                        shingle_n=shingle_n)
    pb = prior_bands.select("band", "band_hash").distinct()
    _, hits = _bloom_probe(nb, pb, ["band", "band_hash"], prior_bloom,
                           want_hits=True, probe_col=band_bloom_key())
    return (hits.groupBy(id_col)
            .agg(F.count_distinct("band").alias("n_hit_bands")))


def band_pairs(banded: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Candidate pairs from a band table ``(id_col, band, band_hash)``:
    the bucket self-join on (band, band_hash), then ``distinct``.
    Output: (id_a, id_b) with id_a < id_b.  Both join sides plan the
    same Exchange over ``banded``, so Spark's exchange reuse computes
    the band table once (a ``ReusedExchange`` in the executed plan);
    no persist is needed.  ``banded`` is either `banded_signatures`
    output or a snapshot's written ``bands`` table."""
    a = banded.alias("a")
    b = banded.alias("b")
    return (a.join(b, [F.col("a.band") == F.col("b.band"),
                       F.col("a.band_hash") == F.col("b.band_hash"),
                       F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .distinct())


def lsh_candidate_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", num_hashes: int = 16,
                        bands: int = 4, shingle_n: int = 3) -> DataFrame:
    """MinHash-LSH near-duplicate *candidate* pairs: shingle -> minhash ->
    band -> bucket equi-join (`band_pairs`).  Output: (id_a, id_b) with
    id_a < id_b, distinct.  Rows per doc = ``bands``; join key =
    (band, band_hash)."""
    return band_pairs(banded_signatures(df, id_col=id_col,
                                        text_col=text_col,
                                        num_hashes=num_hashes, bands=bands,
                                        shingle_n=shingle_n), id_col)


def split_leakage(df: DataFrame, split_col: str = "split",
                  id_col: str = "doc_id", text_col: str = "text",
                  num_hashes: int = 16, bands: int = 4,
                  shingle_n: int = 3, split_of=None) -> DataFrame:
    """Cross-split contamination report: MinHash-LSH near-duplicate
    candidate pairs whose members landed in DIFFERENT dataset splits —
    the check that a frozen eval split actually measures
    generalization (a val doc with a near-duplicate in train is a
    leaked answer; Lee et al. 2021 found >1% of standard benchmark
    splits leaked this way).  Returns one row per unordered split pair
    ``(split_a < split_b, n_pairs)`` — a nonzero row is the actionable
    signal: re-split by duplicate CLUSTER (connected_components), not
    by document.

    Scale shape: pair generation is `lsh_candidate_pairs` (band-bucket
    equi-join, never all-pairs); the split attach is two id-equi-joins
    against the (id, split) projection — ints only; the report is one
    combinable count aggregate of <= |splits|^2 rows.

    ``split_of`` (r13, guide §2.4/§8): when the split is a
    DETERMINISTIC FUNCTION of the id (every `pipeline.split_assign`
    split is — pass ``pipeline.split_expr``'s column builder), the
    attach becomes two map-only expressions over the pair ids and BOTH
    id-equi-joins (and their Exchanges of the corpus-sized (id, split)
    projection) disappear.  Identical rows by construction — the
    expression IS how the split column was assigned."""
    pairs = lsh_candidate_pairs(df, id_col=id_col, text_col=text_col,
                                num_hashes=num_hashes, bands=bands,
                                shingle_n=shingle_n)
    if split_of is not None:
        j = (pairs.withColumn("__sa", split_of(F.col("id_a")))
             .withColumn("__sb", split_of(F.col("id_b")))
             .filter(F.col("__sa") != F.col("__sb")))
    else:
        s = df.select(F.col(id_col), F.col(split_col))
        j = (pairs
             .join(s.select(F.col(id_col).alias("id_a"),
                            F.col(split_col).alias("__sa")), "id_a")
             .join(s.select(F.col(id_col).alias("id_b"),
                            F.col(split_col).alias("__sb")), "id_b")
             .filter(F.col("__sa") != F.col("__sb")))
    return (j.select(F.least("__sa", "__sb").alias("split_a"),
                     F.greatest("__sa", "__sb").alias("split_b"))
            .groupBy("split_a", "split_b")
            .agg(F.count("*").alias("n_pairs"))
            .orderBy("split_a", "split_b"))


def simhash(df: DataFrame, text_col: str = "text", bits: int = 32,
            out: str = "simhash") -> DataFrame:
    """SimHash document signature: per-bit majority vote over the token
    multiset's hashes.  One explode + one groupBy (map-side combinable);
    re-joined to the input broadcast-free via the id-preserving groupBy.

    Token-less documents (empty/whitespace text) are PRESERVED with
    signature 0 — ``explode_outer`` keeps their row as a null token
    voting 0 on every bit; a plain explode would silently drop them
    from the output."""
    tok = _spread(df).select(
        "*", F.explode_outer(tokens(F.col(text_col))).alias("__tok"))
    th = tok.withColumn("__h", h64(F.col("__tok")))
    bit_sums = [
        F.sum(F.when(F.col("__tok").isNull(), 0)
              .when(F.col("__h").bitwiseAND(F.lit(1 << j)) != 0, 1)
              .otherwise(-1))
         .alias(f"__b{j}")
        for j in range(bits)
    ]
    keys = [c for c in df.columns]
    agged = th.groupBy(*keys).agg(*bit_sums)
    sig = sum((F.when(F.col(f"__b{j}") > 0, F.lit(1 << j)).otherwise(0)
               for j in range(bits)), F.lit(0).cast("long"))
    return agged.withColumn(out, sig).drop(*[f"__b{j}" for j in range(bits)])


def ngram_jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", block_cols: list[str] | None = None,
                        candidates: DataFrame | None = None,
                        shingle_n: int = 3, threshold: float = 0.5,
                        whale_rows: int | None = None) -> DataFrame:
    """n-gram Jaccard verification over bounded pair sets (never
    all-pairs).  Output: (id_a, id_b, jaccard) with jaccard >= threshold.

    Pass ``candidates`` — a (id_a, id_b) DataFrame, typically
    ``lsh_candidate_pairs`` output — for the scale path: the pair count
    stays linear in near-duplicate density, and the shingle sets are
    brought to the pairs by two id-equi-joins (the corpus text itself
    never self-joins).  ``block_cols`` remains for small corpora where a
    low-cardinality blocking key bounds the quadratic term acceptably,
    but a 100TB corpus must use candidates= (a lang-blocked all-pairs
    join is O(n^2 / |langs|)).

    r13 (guide §4.2, the cosine-GEMM pattern): the block form's pair
    check is ONE grouped set-overlap kernel per block instead of a
    block self-join materializing every candidate pair with TWO full
    shingle arrays — each shingle set crosses the blocking Exchange
    once, and within-block intersection counts come from one sorted
    sweep over the block's (digest, doc) rows.  Jaccard values
    identical: integer intersection/union counts, the same IEEE float
    division, and `_round6` = Spark's round().  Blocks past
    ``whale_rows`` (default `similarity._WHALE_ROWS`; 0 disables) fall
    back to the self-join via the same bounded whale election as the
    embedding kernels."""
    inter_of = lambda x, y: F.size(F.array_intersect(x, y))  # noqa: E731
    shingle_sets = lambda d: (  # noqa: E731
        # distinct shingle *digests*, not strings: set sizes (and hence
        # Jaccard) are identical, the md5 work drops to one per token,
        # and the arrays that flow through the joins are ints not text
        _spread(d)
        .select(F.col(id_col), token_hash_array(F.col(text_col)).alias("__hs"))
        .select(F.col(id_col), shingle_hashes(F.col("__hs"), shingle_n).alias("__sh")))
    if candidates is not None:
        # persisted: the set pipeline (_spread + per-token md5 + shingle
        # roll) is joined once per pair SIDE — without the persist it
        # recomputes over the full corpus twice
        from ._cache import persist as _persist
        sh = _persist(shingle_sets(df), "dedup")
        out = (candidates.select("id_a", "id_b")
               .join(sh.select(F.col(id_col).alias("id_a"),
                               F.col("__sh").alias("__sa")), "id_a")
               .join(sh.select(F.col(id_col).alias("id_b"),
                               F.col("__sh").alias("__sb")), "id_b"))
        inter = inter_of(F.col("__sa"), F.col("__sb"))
        union = F.size(F.col("__sa")) + F.size(F.col("__sb")) - inter
        jac = F.round(inter.cast("double") / union, 6)
        return (out.select("id_a", "id_b", jac.alias("jaccard"))
                .filter(F.col("jaccard") >= threshold))
    block_cols = block_cols or ["lang"]
    import numpy as np
    import pandas as pd

    from .similarity import _WHALE_ROWS, _round6, _whale_keys
    if whale_rows is None:
        whale_rows = _WHALE_ROWS
    sh = (_spread(df)
          .select(id_col, *block_cols,
                  token_hash_array(F.col(text_col)).alias("__hs"))
          .select(id_col, *block_cols,
                  shingle_hashes(F.col("__hs"), shingle_n).alias("__sh")))

    def _join_form(frame):
        a, b = frame.alias("a"), frame.alias("b")
        cond = [F.col(f"a.{c}") == F.col(f"b.{c}") for c in block_cols]
        cond.append(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        inter = inter_of(F.col("a.__sh"), F.col("b.__sh"))
        union = F.size(F.col("a.__sh")) + F.size(F.col("b.__sh")) - inter
        jac = F.round(inter.cast("double") / union, 6)
        return (a.join(b, cond)
                .select(F.col(f"a.{id_col}").alias("id_a"),
                        F.col(f"b.{id_col}").alias("id_b"),
                        jac.alias("jaccard"))
                .filter(F.col("jaccard") >= threshold))

    # rows a self-join could never pair (null block key / null id /
    # null shingle set) are excluded up front — same output rows
    grouped = sh
    for c in block_cols:
        grouped = grouped.filter(F.col(c).isNotNull())
    grouped = grouped.filter(F.col(id_col).isNotNull()
                             & F.col("__sh").isNotNull())
    id_t = df.schema[id_col].dataType.simpleString()
    thr = float(threshold)

    def _blk_jaccard(pdf: pd.DataFrame) -> pd.DataFrame:
        cols: dict = {"id_a": [], "id_b": [], "jaccard": []}
        n = len(pdf)
        if n >= 2:
            ids = pdf[id_col].to_numpy()
            sets = pdf["__sh"].to_numpy()
            sizes = np.array([len(s) for s in sets], dtype=np.int64)
            # one sorted sweep over (digest, doc): a digest shared by k
            # docs contributes +1 to each of its C(k,2) doc pairs
            all_d = np.concatenate([np.asarray(s, dtype=np.int64)
                                    for s in sets])
            all_o = np.repeat(np.arange(n), sizes)
            order = np.argsort(all_d, kind="stable")
            all_d, all_o = all_d[order], all_o[order]
            cuts = np.nonzero(np.diff(all_d))[0] + 1
            inter: dict = {}
            for run in np.split(all_o, cuts):
                if len(run) < 2:
                    continue
                run = np.sort(run)
                for i in range(len(run) - 1):
                    a_ = run[i]
                    for b_ in run[i + 1:]:
                        k = (a_, b_)
                        inter[k] = inter.get(k, 0) + 1
            for (a_, b_), cnt in inter.items():
                ia, ib = ids[a_], ids[b_]
                if ia == ib:
                    continue
                if ia > ib:
                    ia, ib = ib, ia
                jac = _round6(cnt / (int(sizes[a_]) + int(sizes[b_])
                                     - cnt))
                if jac >= thr:
                    cols["id_a"].append(ia)
                    cols["id_b"].append(ib)
                    cols["jaccard"].append(jac)
            if thr <= 0:
                # the self-join emits EVERY same-block pair at
                # threshold <= 0, zero-intersection ones included
                for i in range(n):
                    for j in range(n):
                        if ids[i] < ids[j] \
                                and (min(i, j), max(i, j)) not in inter:
                            u = int(sizes[i]) + int(sizes[j])
                            cols["id_a"].append(ids[i])
                            cols["id_b"].append(ids[j])
                            cols["jaccard"].append(_round6(0.0 / u))
        return pd.DataFrame(cols)

    # whale election on single-column blocks (the only form with a key
    # the bounded collect can enumerate; multi-column blocks keep the
    # grouped kernel unconditionally)
    whales = _whale_keys(
        grouped.groupBy(block_cols[0]).agg(F.count("*").alias("__n")),
        block_cols[0], whale_rows,
        streaming=df.isStreaming) if len(block_cols) == 1 else []
    if not whales:
        return (grouped.groupBy(*block_cols)
                .applyInPandas(_blk_jaccard,
                               f"id_a {id_t}, id_b {id_t}, "
                               f"jaccard double"))
    is_whale = F.col(block_cols[0]).isin(whales)
    out = (grouped.filter(~is_whale).groupBy(*block_cols)
           .applyInPandas(_blk_jaccard,
                          f"id_a {id_t}, id_b {id_t}, jaccard double"))
    return out.unionByName(_join_form(grouped.filter(is_whale)))


def embedding_near_dup_pairs(df: DataFrame, id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             block_col: str = "label",
                             block_code: Column | None = None,
                             threshold: float = 0.99,
                             whale_rows: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a blocking key:
    cosine >= threshold.

    ``block_code`` is the scale path: a computed coarse code — e.g.
    ``similarity.sign_lsh_code`` (sign-random-projection LSH) or the
    offline ``kmeans_codes`` IVF assignment — whose cardinality grows
    with the corpus, keeping within-block pair counts bounded.  Near-dup
    vectors (cosine ~1) agree on almost every random hyperplane sign, so
    they land in the same code with high probability.  ``block_col``
    blocks by an existing column — only safe when that column's
    cardinality scales with the data.

    r12 optimization (guide §4.2 + §2.3): the pair check is one
    grouped GEMM per block (`applyInPandas`) instead of a block
    self-join materializing every candidate pair — two full vectors
    per row — through a per-pair Arrow cosine.  Each vector crosses
    the one block Exchange once; scores use the same dim-sequential
    IEEE fold as `similarity.cosine` (bit-identical), and emitted
    cosines round via `_round6` (exact HALF_UP-at-6dp, replicating
    Spark's round()).  Null blocks pair with nothing (the join-form
    null-key semantics); null / length-mismatched vectors pair to NaN
    there and are excluded here — same rows either way.

    r13 whale-block bound (guide §2.5/§5): the kernel tiles BOTH axes
    of the work matrix (`similarity._GEMM_BLK`) and blocks larger than
    ``whale_rows`` (default `similarity._WHALE_ROWS`; 0 disables) are
    carved out and pair-checked by the distributed join form — a hot
    LSH code can no longer OOM one task.  Rows identical either way."""
    import numpy as np
    import pandas as pd

    from .similarity import (_GEMM_BLK, _WHALE_ROWS, _round6,
                             _whale_keys, cosine)
    blk = block_code if block_code is not None else F.col(block_col)
    n = (df.select(id_col, blk.alias("__blk"),
                   F.col(vec_col).cast("array<double>").alias("__v"))
         .filter(F.col("__blk").isNotNull()))
    id_t = df.schema[id_col].dataType.simpleString()
    thr = float(threshold)
    step = _GEMM_BLK                    # captured: tests can monkeypatch
    if whale_rows is None:
        whale_rows = _WHALE_ROWS

    def _blk_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        cols: dict = {"id_a": [], "id_b": [], "cosine": []}
        lens = pdf["__v"].str.len().fillna(-1).to_numpy()
        ids_all = pdf[id_col].to_numpy()
        vs_all = pdf["__v"].to_numpy()
        for dlen in np.unique(lens[lens > 0]):
            sel = lens == dlen
            ids = ids_all[sel]
            M = np.stack(vs_all[sel]).astype(np.float64)
            nrows, d = M.shape
            nrm = np.zeros(nrows)
            for j in range(d):          # dim-sequential left fold
                x = M[:, j]
                nrm = nrm + x * x
            nrm = np.sqrt(nrm)
            # r13: tile both axes — work matrix at most (step, step)
            for s in range(0, nrows, step):
                A = M[s:s + step]
                for t in range(0, nrows, step):
                    B = M[t:t + step]
                    D = np.zeros((len(A), len(B)))
                    for j in range(d):
                        D = D + np.outer(A[:, j], B[:, j])
                    with np.errstate(divide="ignore", invalid="ignore"):
                        S = D / (nrm[s:s + step, None]
                                 * nrm[t:t + step][None, :])
                    cand = (S >= thr - 1e-6) & (ids[s:s + step, None]
                                                < ids[t:t + step][None, :])
                    for p, q in zip(*np.nonzero(cand)):
                        r = _round6(S[p, q])
                        if r >= thr:
                            cols["id_a"].append(ids[s + p])
                            cols["id_b"].append(ids[t + q])
                            cols["cosine"].append(r)
        return pd.DataFrame(cols)

    # whale election: bounded collect of hot blocks (similarity.
    # _whale_keys) — with none, the served plan is the untouched
    # single-Exchange grouped GEMM and the census is one narrow count
    # job over the block column (no vector bytes)
    whales = _whale_keys(n.groupBy("__blk")
                         .agg(F.count("*").alias("__n")), "__blk",
                         whale_rows, streaming=df.isStreaming)
    if not whales:
        return (n.groupBy("__blk")
                .applyInPandas(_blk_pairs,
                               f"id_a {id_t}, id_b {id_t}, "
                               f"cosine double"))
    is_whale = F.col("__blk").isin(whales)
    big = n.filter(is_whale)
    a, b = big.alias("a"), big.alias("b")
    cos = F.round(cosine(F.col("a.__v"), F.col("b.__v")), 6)
    whale_part = (a.join(b, [F.col("a.__blk") == F.col("b.__blk"),
                             F.col(f"a.{id_col}")
                             < F.col(f"b.{id_col}")])
                  .select(F.col(f"a.{id_col}").alias("id_a"),
                          F.col(f"b.{id_col}").alias("id_b"),
                          cos.alias("cosine"))
                  .filter(F.col("cosine") >= threshold))
    out = (n.filter(~is_whale).groupBy("__blk")
           .applyInPandas(_blk_pairs,
                          f"id_a {id_t}, id_b {id_t}, cosine double"))
    return out.unionByName(whale_part)


def embedding_block_table(df: DataFrame, id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          block_code: Column | None = None,
                          dim: int = 64, bits: int = 6) -> DataFrame:
    """The embedding snapshot artifact: ``(id, block, vector)`` with the
    sign-LSH coarse code materialized — the table a snapshot persists so
    later crawls can probe it without re-coding the corpus (the
    embedding counterpart of ``banded_signatures``)."""
    from .similarity import sign_lsh_code
    blk = (block_code if block_code is not None
           else sign_lsh_code(F.col(vec_col), dim=dim, bits=bits))
    return df.select(F.col(id_col), blk.alias("block"),
                     F.col(vec_col).cast("array<double>").alias("vec"))


def incremental_embedding_near_dup(new: DataFrame,
                                   prior_blocks: DataFrame,
                                   id_col: str = "vec_id",
                                   vec_col: str = "embedding",
                                   block_code: Column | None = None,
                                   dim: int = 64, bits: int = 6,
                                   threshold: float = 0.99,
                                   prior_bloom: dict | None = None,
                                   whale_rows: int | None = None) -> DataFrame:
    """Embedding-cosine counterpart of ``incremental_near_dup``: flag
    NEW vectors whose cosine against ANY prior-snapshot vector in their
    sign-LSH block reaches ``threshold`` — returning ``(id, prior_id,
    cosine)`` for the best prior hit per new vector (deterministic:
    highest cosine, then lowest prior id).

    Scale shape: the prior side is the materialized block table from
    the last snapshot (``embedding_block_table`` — never re-code or
    re-read the corpus); the probe is a block-key equi-join, so each
    new vector meets only its block's prior members (bounded by LSH
    collision density, never all-pairs), and verification cosines are
    computed only on those candidates.

    ``prior_bloom`` (the snapshot's ``bloom_blocks`` artifact): new
    vectors whose block the sketch rules out of the prior drop
    MAP-SIDE before the block Exchange — the vector payload (the heavy
    column here) never shuffles for them.  A false positive joins an
    absent block and finds nothing: output row-identical at any fpp.

    r12 optimization (guide §4.2 + §2.3): the probe is one COGROUPED
    GEMM per block (`cogroup(...).applyInPandas`) instead of a block
    equi-join materializing every new x prior candidate — two full
    vectors per row — through a per-pair Arrow cosine, then a window
    over the hit rows.  Each vector crosses its block Exchange once;
    scores are the same dim-sequential IEEE fold as
    `similarity.cosine` (bit-identical); emitted cosines round via
    `_round6` (exact HALF_UP-at-6dp); the best-hit rule (highest
    rounded cosine, then lowest prior id) resolves inside the group —
    the window Exchange disappears.

    Precondition (r12 probe semantics): ``new`` ids are expected
    unique — the best hit resolves per (id, block), so a duplicate id
    whose rows hash to DIFFERENT blocks yields one row per block (the
    pre-r12 global window would have kept exactly one).  Every caller
    in this engine probes with snapshot-keyed unique ids.

    r13 whale-block bound (guide §2.5/§5): the kernel tiles both work-
    matrix axes (`similarity._GEMM_BLK`), and blocks whose combined
    new+prior rows exceed ``whale_rows`` (default
    `similarity._WHALE_ROWS`; 0 disables) fall back to the distributed
    join + per-block best-hit window — one hot block cannot OOM a
    task.  Rows identical either way (same fold, same rounding, same
    per-(id, block) best-hit rule)."""
    import numpy as np
    import pandas as pd

    from .similarity import (_GEMM_BLK, _WHALE_ROWS, _round6,
                             _whale_keys, cosine, sign_lsh_code)
    blk = (block_code if block_code is not None
           else sign_lsh_code(F.col(vec_col), dim=dim, bits=bits))
    n = (new.select(F.col(id_col), blk.alias("block"),
                    F.col(vec_col).cast("array<double>").alias("__nv"))
         .filter(F.col("block").isNotNull()))
    if prior_bloom is not None:
        from .bloom import bloom_attach
        n = (bloom_attach(n, prior_bloom, "block")
             .filter(F.col("__bloom_maybe")).drop("__bloom_maybe"))
    p = (prior_blocks.select(F.col(id_col).alias("prior_id"), "block",
                             F.col("vec").alias("__pv"))
         .filter(F.col("block").isNotNull()))
    id_t = new.schema[id_col].dataType.simpleString()
    pid_t = prior_blocks.schema[id_col].dataType.simpleString()
    thr = float(threshold)
    step = _GEMM_BLK                    # captured: tests can monkeypatch
    if whale_rows is None:
        whale_rows = _WHALE_ROWS

    def _probe(npdf: pd.DataFrame, ppdf: pd.DataFrame) -> pd.DataFrame:
        cols: dict = {id_col: [], "prior_id": [], "cosine": []}
        if not len(npdf) or not len(ppdf):
            return pd.DataFrame(cols)
        nlens = npdf["__nv"].str.len().fillna(-1).to_numpy()
        plens = ppdf["__pv"].str.len().fillna(-1).to_numpy()
        nids_all = npdf[id_col].to_numpy()
        pids_all = ppdf["prior_id"].to_numpy()
        nvs, pvs = npdf["__nv"].to_numpy(), ppdf["__pv"].to_numpy()
        # best per new id across dlen groups: (rounded desc, prior asc)
        best: dict = {}
        for dlen in np.unique(nlens[nlens > 0]):
            psel = plens == dlen
            if not psel.any():
                continue
            nsel = nlens == dlen
            nids, pids = nids_all[nsel], pids_all[psel]
            A = np.stack(nvs[nsel]).astype(np.float64)
            B = np.stack(pvs[psel]).astype(np.float64)
            d = A.shape[1]
            na, nb = np.zeros(len(A)), np.zeros(len(B))
            for j in range(d):          # dim-sequential left fold
                na = na + A[:, j] * A[:, j]
                nb = nb + B[:, j] * B[:, j]
            na, nb = np.sqrt(na), np.sqrt(nb)
            # r13: tile both axes — work matrix at most (step, step)
            for s in range(0, len(A), step):
                Ab = A[s:s + step]
                for t in range(0, len(B), step):
                    Bb = B[t:t + step]
                    D = np.zeros((len(Ab), len(Bb)))
                    for j in range(d):
                        D = D + np.outer(Ab[:, j], Bb[:, j])
                    with np.errstate(divide="ignore", invalid="ignore"):
                        S = D / (na[s:s + step, None]
                                 * nb[t:t + step][None, :])
                    for q, r_ in zip(*np.nonzero(S >= thr - 1e-6)):
                        rv = _round6(S[q, r_])
                        if rv < thr:
                            continue
                        key = nids[s + q]
                        cur = best.get(key)
                        cand = (-rv, pids[t + r_])
                        if cur is None or cand < cur:
                            best[key] = cand
        for k in sorted(best):
            cols[id_col].append(k)
            cols["prior_id"].append(best[k][1])
            cols["cosine"].append(-best[k][0])
        return pd.DataFrame(cols)

    # whale election: a block is a whale when its COMBINED new+prior
    # rows exceed the cap (the cogrouped task materializes both sides)
    counted = (n.groupBy("block").agg(F.count("*").alias("__cn"))
               .join(p.groupBy("block").agg(F.count("*").alias("__cp")),
                     "block", "full_outer")
               .select("block",
                       (F.coalesce("__cn", F.lit(0))
                        + F.coalesce("__cp", F.lit(0))).alias("__n")))
    whales = _whale_keys(counted, "block", whale_rows,
                         streaming=new.isStreaming
                         or prior_blocks.isStreaming)
    if not whales:
        return (n.groupBy("block")
                .cogroup(p.groupBy("block"))
                .applyInPandas(_probe,
                               f"{id_col} {id_t}, prior_id {pid_t}, "
                               f"cosine double"))
    wn = n.filter(F.col("block").isin(whales))
    wp = p.filter(F.col("block").isin(whales))
    cos = F.round(cosine(F.col("__nv"), F.col("__pv")), 6)
    hits = (wn.join(wp, "block")
            .select("block", id_col, "prior_id", cos.alias("cosine"))
            .filter(F.col("cosine") >= threshold))
    # best hit per (id, block) — the same scope the grouped kernel
    # resolves in (ids are unique per the precondition above, so this
    # equals best-per-id for every real caller)
    w = Window.partitionBy("block", id_col).orderBy(
        F.col("cosine").desc(), F.col("prior_id"))
    whale_part = (hits.withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") == 1)
                  .drop("__rn", "block"))
    out = (n.filter(~F.col("block").isin(whales)).groupBy("block")
           .cogroup(p.filter(~F.col("block").isin(whales))
                    .groupBy("block"))
           .applyInPandas(_probe, f"{id_col} {id_t}, prior_id {pid_t}, "
                                  f"cosine double"))
    return out.unionByName(whale_part)


def connected_components(pairs: DataFrame, a: str = "id_a", b: str = "id_b",
                         max_iters: int = 20,
                         algorithm: str = "label",
                         driver_threshold: int = 200_000) -> DataFrame:
    """Duplicate clusters from candidate pairs: connected components.
    Returns (id, cluster) where cluster is the smallest id reachable
    from id.

    r12 fast path (guide §1.2 — the per-round job overhead of the
    iterative forms dwarfs the work at drop scale): when the pair set
    fits ``driver_threshold`` rows it collects once and resolves with
    a driver union-find — the same bounded-collect election
    `incremental_components` already makes for its super-graph, and
    the same min-label output (a component's label is its smallest
    member).  Candidate-pair sets are duplicate-density-sized, not
    corpus-sized, so this is the common case; a colossal graph falls
    through to the distributed iterations.  ``driver_threshold=0``
    forces the distributed form (the non-convergence contract below
    stays testable).

    ``algorithm="label"`` (default): min-label propagation — one join +
    one groupBy-min per iteration (all combinable); iterations = graph
    diameter.  The right choice for near-dup clusters, which are
    shallow.

    ``algorithm="star"``: the alternating large-star/small-star method
    (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    converges in O(log n) rounds on ANY graph shape, including the long
    chains that make label propagation take diameter rounds.  The
    extreme-scale choice when cluster topology is unknown.

    Both truncate lineage per iteration via `_staging.stage`
    (localCheckpoint locally; a reliable checkpoint under
    ``$SPARK_GRAFT_RELIABLE_CHECKPOINT`` on clusters — guide §5).
    """
    if driver_threshold > 0:
        head = (pairs.select(F.col(a).alias("sa"), F.col(b).alias("sb"))
                .limit(driver_threshold + 1).collect())
        if len(head) <= driver_threshold:
            parent: dict = {}

            def find(x):
                r = x
                while parent.get(r, r) != r:
                    r = parent[r]
                while parent.get(x, x) != r:      # path compression
                    parent[x], x = r, parent[x]
                return r

            has_null = False
            for e in head:
                sa, sb = e["sa"], e["sb"]
                if sa is None or sb is None:
                    # equi-join null semantics (matching the distributed
                    # paths): a null endpoint connects nothing, but the
                    # null node itself still appears, labeled null
                    has_null = True
                    continue
                ra, rb = find(sa), find(sb)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
            nodes = {v for e in head for v in (e["sa"], e["sb"])
                     if v is not None}
            roots = {n: find(n) for n in nodes}
            lab: dict = {}
            for n, r in roots.items():            # label = min member
                lab[r] = min(lab.get(r, n), n)
            from pyspark.sql.types import StructField, StructType
            ntype = pairs.schema[a].dataType
            rows = [(n, lab[r]) for n, r in sorted(roots.items())]
            if has_null:
                rows.append((None, None))
            return local_frame(
                pairs.sparkSession,
                rows,
                StructType([StructField("id", ntype),
                            StructField("cluster", ntype)]))
    if algorithm == "star":
        return _cc_star(pairs, a, b, max_iters)
    # staged once, as in `_cc_star`: every round joins the edges, and
    # the pairs' own lineage (a MinHash pass over the corpus, for
    # `lsh_candidate_pairs`, which persists nothing) must not re-run
    # per round
    edges = _stage(
        pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .unionByName(pairs.select(F.col(b).alias("src"),
                                  F.col(a).alias("dst")))
        .distinct(), eager=True)
    labels = (edges.select(F.col("src").alias("id"))
              .distinct()
              .withColumn("cluster", F.col("id")))
    converged = False
    for it in range(max_iters):
        # candidate label for each node: min over neighbors' labels
        prop = (edges.join(labels, edges.dst == labels.id)
                .groupBy("src").agg(F.min("cluster").alias("nbr")))
        new = (labels.join(prop, labels.id == prop.src, "left")
               .select(labels.id,
                       F.least(labels.cluster,
                               F.coalesce(F.col("nbr"), labels.cluster))
                        .alias("cluster")))
        new = _stage(new, eager=True)
        prev, labels = labels, new
        # convergence check every 2nd round (and on the last): the
        # join+count is a full job per check, and comparing adjacent
        # rounds never misses convergence — worst case is one extra
        # (no-op) propagation round, cheaper than a check per round
        if it % 2 == 1 or it == max_iters - 1:
            changed = (new.alias("n").join(prev.alias("o"), "id")
                       .filter(F.col("n.cluster") != F.col("o.cluster"))
                       .limit(1).count())
            if changed == 0:
                converged = True
                break
    if not converged:
        # silently returning partial labels would hand callers WRONG
        # duplicate clusters with no signal (a >max_iters-diameter chain
        # still has un-propagated labels)
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} "
            f"label-propagation rounds (graph diameter exceeds "
            f"max_iters); raise max_iters or use algorithm='star' "
            f"(O(log n) rounds on any topology)")
    return labels


def _cc_star(pairs: DataFrame, a: str, b: str, max_iters: int) -> DataFrame:
    """Alternating large-star/small-star connected components.

    Each round: large-star hangs every neighbor v > u onto u's minimum
    neighborhood label; small-star re-hangs the v <= u neighbors.  Both
    are one groupBy-min plus one join per pass — the same shuffle
    profile as label propagation — but the tree flattens geometrically,
    so rounds are O(log n) regardless of diameter.  Terminates when the
    edge multiset stops changing; the final forest is star-shaped, and
    (id, root) is exactly (id, min-reachable-id)."""
    nodes = (pairs.select(F.col(a).alias("id"))
             .unionByName(pairs.select(F.col(b).alias("id")))
             .distinct())
    # work on canonical directed edges u > v (u points toward smaller);
    # self-loops dropped
    edges = (pairs.select(F.greatest(a, b).alias("u"),
                          F.least(a, b).alias("v"))
             .filter(F.col("u") != F.col("v"))
             .distinct()
             )
    edges = _stage(edges, eager=True)

    def neighborhood_min(sym: DataFrame) -> DataFrame:
        m = sym.groupBy("u").agg(F.min("v").alias("m"))
        return m.withColumn("m", F.least("m", F.col("u")))

    for _ in range(max_iters):
        # large-star: for each node u, every STRICTLY LARGER neighbor v
        # re-attaches to min(N(u) + {u})
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = neighborhood_min(sym)
        large = (sym.join(mins, "u")
                 .filter(F.col("v") > F.col("u"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .filter(F.col("u") != F.col("v")))
        edges1 = _stage(large.distinct(), eager=True)
        # small-star: for each node u, every v <= u (plus u itself)
        # re-attaches to the neighborhood min
        sym1 = edges1.unionByName(
            edges1.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins1 = neighborhood_min(sym1)
        small = (sym1.join(mins1, "u")
                 .filter(F.col("v") <= F.col("u"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v"))
                 .unionByName(mins1.select(F.col("u"), F.col("m").alias("v")))
                 .filter(F.col("u") != F.col("v")))
        new_edges = _stage(small.distinct(), eager=True)
        if (new_edges.exceptAll(edges).limit(1).count() == 0
                and edges.exceptAll(new_edges).limit(1).count() == 0):
            edges = new_edges
            converged = True
            break
        edges = new_edges
    else:
        converged = False
    if not converged:
        # same contract as the label branch: partial flattening hands
        # callers silently WRONG clusters (ids not labeled with their
        # min reachable id) — fail loudly instead
        raise RuntimeError(
            f"connected_components (star) did not converge in "
            f"{max_iters} large/small-star rounds; raise max_iters")
    roots = edges.groupBy("u").agg(F.min("v").alias("cluster")) \
                 .select(F.col("u").alias("id"), "cluster")
    return (nodes.join(roots, "id", "left")
            .select("id", F.coalesce("cluster", F.col("id")).alias("cluster")))


def incremental_components(prior_labels: DataFrame, new_pairs: DataFrame,
                           a: str = "id_a", b: str = "id_b",
                           max_iters: int = 20, algorithm: str = "label",
                           full: bool = True,
                           driver_threshold: int = 200_000) -> DataFrame:
    """Generational connected components: fold a drop's NEW candidate
    pairs into a PRIOR ``(id, cluster)`` label table (the snapshot
    artifact from a previous `connected_components` run) WITHOUT
    re-clustering the corpus — the last full-corpus recompute in the
    continuous-build dedup family (r10 verdict item #1).

    ``prior_labels`` must be min-reachable-id labels (what
    `connected_components` returns; a cluster's label is the smallest
    id in it).  ``new_pairs`` may connect new ids to each other, new
    ids to prior ids, or BRIDGE two prior clusters.  Ids must share one
    ordered domain and new ids must not collide with prior ids.

    Output: ``(id, cluster)``.  ``full=True`` (default) returns the
    complete next-generation label table — row-identical to running
    `connected_components` from scratch over prior-pairs ∪ new-pairs
    (property-tested).  ``full=False`` returns only the DELTA — rows
    whose label changed plus the new ids — which is what a
    generational snapshot append actually writes (output size ∝
    affected components, not corpus).

    Scale shape — the prior table NEVER shuffles:

    1. The drop's pair endpoints (drop-sized) BROADCAST into one
       map-side semi-join scan of ``prior_labels`` to fetch the
       touched rows' clusters (result ≤ #endpoints rows).
    2. Each endpoint lifts to its super-node — its prior cluster label
       if prior, else itself — and `connected_components` runs on the
       SUPER-graph only (nodes = touched prior clusters + new ids;
       size ∝ the drop, never the corpus).
    2b. At drop scale the super-graph resolves with a DRIVER
       union-find (≤ ``driver_threshold`` edges collect — a delta, not
       a corpus; the distributed iterative CC's per-round job overhead
       dwarfs the work at this size); a colossal drop falls back to
       the distributed `connected_components`.
    3. The (old-label → new-root) mapping (∝ affected components)
       broadcasts back into ONE map-only pass over ``prior_labels``:
       touched clusters relabel, the untouched remainder streams
       through unchanged (``full=False`` skips the untouched rows
       entirely).

    Min-label semantics compose exactly: a prior label IS the min id of
    its component, so the super-graph's min-reachable label is the
    global min id of each merged component — identical to from-scratch.
    """
    pl = prior_labels.select("id", "cluster")
    ends = (new_pairs.select(F.col(a).alias("id"))
            .unionByName(new_pairs.select(F.col(b).alias("id")))
            .distinct())
    # 1. touched prior rows: endpoints broadcast, prior scans map-side.
    # Persisted: it feeds three joins below — without the persist each
    # one would re-run the corpus scan.
    from ._cache import persist as _persist
    touched = _persist(pl.join(F.broadcast(ends), "id", "left_semi"),
                       "dedup")  # released by dedup.release_cached()
    # 2. lift endpoints to super-nodes (prior cluster label | new id)
    lift_a = touched.select(F.col("id").alias(a),
                            F.col("cluster").alias("__ca"))
    lift_b = touched.select(F.col("id").alias(b),
                            F.col("cluster").alias("__cb"))
    sup = (new_pairs
           .join(F.broadcast(lift_a), a, "left")
           .join(F.broadcast(lift_b), b, "left")
           .select(F.coalesce("__ca", F.col(a)).alias("sa"),
                   F.coalesce("__cb", F.col(b)).alias("sb"))
           .filter(F.col("sa") != F.col("sb"))
           .distinct())
    # the super-graph is DELTA-sized by construction (drop pairs + the
    # prior clusters they touch), so the common case resolves with a
    # driver union-find in one collect — the distributed iterative CC
    # pays several eager-checkpoint jobs PER ROUND, which dwarfs the
    # actual work at drop scale (measured: 5.6s -> sub-second at
    # sf0.1).  Past the threshold (a colossal drop), fall back to the
    # distributed form; either path yields min-label components.
    sup_edges = sup.limit(driver_threshold + 1).collect()
    if len(sup_edges) <= driver_threshold:
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for e in sup_edges:
            ra, rb = find(e["sa"]), find(e["sb"])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes = {v for e in sup_edges for v in (e["sa"], e["sb"])}
        roots = {n: find(n) for n in nodes}
        lab: dict = {}
        for n, r in roots.items():  # component label = min member
            lab[r] = min(lab.get(r, n), n)
        from pyspark.sql.types import StructField, StructType
        ntype = sup.schema["sa"].dataType
        mapping = local_frame(
            new_pairs.sparkSession,
            [(n, lab[r]) for n, r in roots.items()],
            StructType([StructField("__node", ntype),
                        StructField("__root", ntype)]))
    else:
        # already past the bounded-collect election: force the
        # distributed form (no second threshold collect)
        comp = connected_components(sup, "sa", "sb", max_iters=max_iters,
                                    algorithm=algorithm,
                                    driver_threshold=0)
        mapping = comp.select(F.col("id").alias("__node"),
                              F.col("cluster").alias("__root"))
    # 3. one map-only broadcast pass over the prior label table.
    # A new id can never collide with a prior CLUSTER value (cluster
    # values are prior ids; id domains are disjoint by contract), so
    # joining mapping on the cluster column only matches touched
    # prior clusters.
    remap = F.broadcast(
        mapping.select(F.col("__node").alias("cluster"), "__root"))
    if full:
        prior_out = (pl.join(remap, "cluster", "left")
                     .select("id", F.coalesce("__root", F.col("cluster"))
                             .alias("cluster")))
    else:
        prior_out = (pl.join(remap, "cluster")
                     .filter(F.col("__root") != F.col("cluster"))
                     .select("id", F.col("__root").alias("cluster")))
    # new ids: their super-node root, else themselves (a drop id whose
    # every pair was a self-pair — or none — stays a singleton)
    new_ids = ends.join(F.broadcast(touched.select("id")), "id",
                        "left_anti")
    new_out = (new_ids
               .join(F.broadcast(mapping.withColumnRenamed("__node", "id")),
                     "id", "left")
               .select("id", F.coalesce("__root", F.col("id"))
                       .alias("cluster")))
    return prior_out.unionByName(new_out)
