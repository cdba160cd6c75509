"""Text-analysis operators for large-scale training-data pipelines.

All expressions are built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage-codegen'd) — no Python UDFs in the hot path, so these run at
scan speed over 100TB of documents.  Each has an exact DuckDB-SQL
counterpart used by the correctness oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ._driver import fitted_rows, local_frame
from ._staging import stage as _stage

from .hashing import h64

#: marker-token heuristic for language ID: tiny, branch-free, columnar.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "fr": ["le", "et", "les"],
    "es": ["el", "que", "los"],
    "zh": ["de", "shi", "le"],
}

#: BPE-ish token regex: words / numbers / single punctuation marks.
TOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def tokens(col: Column) -> Column:
    """Whitespace tokens with empties removed (split-on-space semantics
    match DuckDB string_split for the space-joined synthetic corpus)."""
    return F.filter(F.split(col, " "), lambda x: x != "")


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex tokens + mean
    token length (rounded for float parity)."""
    toks = tokens(F.col(text_col))
    return df.withColumns({
        "n_ws_tokens": F.size(toks),
        "n_bpe_tokens": F.size(F.regexp_extract_all(F.col(text_col),
                                                    F.lit(TOKEN_REGEX), 0)),
        # sum of token lengths == count of non-space chars (tokens are
        # exactly the non-space runs): pure codegen arithmetic, no
        # interpreted per-token fold
        "mean_token_len": F.round(
            F.length(F.replace(F.col(text_col), F.lit(" "), F.lit("")))
            .cast("double") / F.size(toks), 6),
    })


def marker_count(col: Column, marker: str) -> Column:
    """Occurrences of a word marker (space-delimited match)."""
    padded = F.concat(F.lit(" "), col, F.lit(" "))
    needle = f" {marker} "
    return ((F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
            / len(needle)).cast("long")


def lang_id(df: DataFrame, text_col: str = "text",
            out: str = "pred_lang") -> DataFrame:
    """n-gram/marker-token language ID: score = marker hits per language,
    prediction = argmax with lexicographic tie-break (deterministic)."""
    scores = [
        F.struct(
            sum((marker_count(F.col(text_col), m) for m in markers),
                F.lit(0).cast("long")).alias("score"),
            F.lit(lang).alias("lang"))
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    # argmax: sort structs by (score asc, lang desc) and take the last —
    # highest score, ties broken toward the lexicographically *smaller* lang
    best = F.array_max(F.array(*[
        F.struct(s.getField("score").alias("score"),
                 # invert lang ordering so max picks the smaller name on ties
                 F.lit(-i).alias("ord"),
                 s.getField("lang").alias("lang"))
        for i, s in enumerate(scores)]))
    return df.withColumn(out, best.getField("lang"))


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality heuristics: length, punctuation ratio, stopword ratio,
    mean word length — combined into one bounded score.  Pure columnar
    math; ratios rounded to 6dp for cross-engine float parity."""
    toks = tokens(F.col(text_col))
    n_tok = F.size(toks)
    stop = F.array([F.lit(m) for ms in LANG_MARKERS.values() for m in ms])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop, x)))
    n_punct = F.size(F.regexp_extract_all(F.col(text_col), F.lit("[^A-Za-z0-9 ]"), 0))
    return df.withColumns({
        "n_chars_m": F.length(text_col),
        "punct_ratio": F.round(n_punct.cast("double") / F.length(text_col), 6),
        "stopword_ratio": F.round(n_stop.cast("double") / n_tok, 6),
        "quality": F.round(
            F.least(F.lit(1.0), n_tok.cast("double") / F.lit(100.0)) * 0.5
            + (F.lit(1.0) - F.least(F.lit(1.0),
                                    n_punct.cast("double") / F.length(text_col))) * 0.3
            + F.least(F.lit(1.0), n_stop.cast("double") / n_tok * 5.0) * 0.2, 6),
    })


def fingerprint(df: DataFrame, text_col: str = "text",
                out: str = "fingerprint") -> DataFrame:
    """Order-insensitive document fingerprint: hash of the sorted distinct
    token set (collision-resistant content signature for shuffling-free
    re-identification across pipelines)."""
    toks = F.array_sort(F.array_distinct(tokens(F.col(text_col))))
    return df.withColumn(out, h64(F.array_join(toks, " ")))


def repetition_stats(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Repetition / boilerplate detection (the C4/RefinedWeb-style
    repeated-content filters): distinct-token ratio and distinct-bigram
    ratio are map-only columnar math; the top token's share of the
    document is an explode + two map-side-combinable groupBys (the
    SimHash shuffle shape — counts, never text).  Empty documents yield
    null ratios in both engines."""
    from .dedup import _spread, shingle_hashes, token_hash_array
    staged = (_spread(df)
              .select(F.col(id_col),
                      token_hash_array(F.col(text_col)).alias("__hs")))
    n = F.size(F.col("__hs"))
    # distinct counts run over token/bigram DIGESTS (one md5 per token,
    # bigrams rolled arithmetically — no bigram string is built); digest
    # collisions are ~n^2/2^32 per doc and identical in the oracle
    bigrams = F.when(n >= 2, shingle_hashes(F.col("__hs"), 2)) \
               .otherwise(F.array().cast("array<bigint>"))
    # the map-only ratios ride the explode as per-doc grouping CONSTANTS
    # (functionally dependent on id), so the top-token count needs no
    # join back — one scan, one hash pass, two combinable groupBys
    # (previously the base/counts join branches each re-hashed the text)
    ex = staged.select(
        F.col(id_col), n.alias("n_tokens"),
        F.when(n > 0, F.round(F.size(F.array_distinct(F.col("__hs")))
                              .cast("double") / n, 6))
         .alias("distinct_token_ratio"),
        F.when(n > 0, F.round(F.size(bigrams).cast("double")
                              / F.greatest(n - 1, F.lit(1)), 6))
         .alias("distinct_bigram_ratio"),
        F.explode_outer(F.col("__hs")).alias("__tk"))
    grp = [F.col(id_col), F.col("n_tokens"), F.col("distinct_token_ratio"),
           F.col("distinct_bigram_ratio")]
    return (ex.groupBy(*grp, F.col("__tk")).agg(F.count("*").alias("__c"))
            .groupBy(*grp)
            .agg(F.max(F.when(F.col("__tk").isNotNull(), F.col("__c")))
                 .alias("__maxc"))
            .select(id_col, "n_tokens", "distinct_token_ratio",
                    "distinct_bigram_ratio",
                    F.when(F.col("n_tokens") > 0,
                           F.round(F.col("__maxc").cast("double")
                                   / F.col("n_tokens"), 6))
                    .alias("top_token_share")))


def chunk_documents(df: DataFrame, size: int = 64, overlap: int = 16,
                    text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token-window document chunking (one-to-many): fixed ``size``-token
    chunks advancing by ``size - overlap`` tokens, the standard prep for
    embedding / context-window-bounded training corpora.

    Pure columnar sequence+explode — no UDF, no shuffle; chunking 100TB
    is a map-only stage whose output stays partition-local.  A short
    document yields exactly one chunk.
    """
    if not 0 <= overlap < size:
        raise ValueError("need 0 <= overlap < size")
    stride = size - overlap
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(size)) / F.lit(stride)).cast("int") + 1, F.lit(1))
    return (df.select(
        id_col,
        toks.alias("__t"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"))
        .select(
            id_col, "chunk_idx",
            F.array_join(F.slice(F.col("__t"),
                                 F.col("chunk_idx") * stride + 1, size),
                         " ").alias("chunk_text"),
            F.least(F.lit(size),
                    F.size("__t") - F.col("chunk_idx") * stride)
             .alias("n_tokens")))


def stratified_sample(df: DataFrame, strata_col: str, rates: dict,
                      default_rate: float = 0.0,
                      id_col: str = "doc_id") -> DataFrame:
    """Deterministic stratified sampling: keep a row iff
    ``hash(id) mod 10000 < rate*10000`` with the rate chosen by stratum.
    Hash-based (not ``rand()``) so the sample is reproducible across
    runs, engines, and re-partitioning — a requirement for auditable
    training-data pipelines.  Pure filter: no shuffle at any scale.
    """
    from .hashing import h64
    bucket = F.pmod(h64(F.col(id_col).cast("string")), F.lit(10000))
    # round, don't truncate: int(0.29 * 10000) is 2899 in binary float,
    # silently sampling one bucket short of the declared rate
    rate = F.lit(round(default_rate * 10000))
    for k, v in rates.items():
        rate = F.when(F.col(strata_col) == k, round(v * 10000)).otherwise(rate)
    return df.filter(bucket < rate)


def weighted_sample(df: DataFrame, weight_col: str, k: int,
                    id_col: str = "doc_id", seed: int = 17) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis-
    Spirakis A-ES): each row draws a reproducible uniform u from a hash
    of its id and gets sort key ``u^(1/w)``; the global top-k by key is
    an exact weighted sample — the quality-weighted corpus subsampling
    step (sample 1M docs proportional to quality score) that plain
    `.sample()` cannot do deterministically or weighted.

    Rows with weight <= 0 or null never sample.  Scale shape: one
    map-side key computation + a distributed TakeOrdered top-k (k rows
    to the driver, the corpus never sorts globally).

    The sort key is ``ln(u)/w`` (same order as ``u^(1/w)``): for
    weights around 1e8+ the key spread of the pow form drops below any
    fixed *decimal-place* rounding, collapsing keys into id-ordered
    ties and deterministically biasing the sample toward low ids;
    ``ln(u)/w`` stays numerically well-spread at any weight scale.  The
    key is then rounded to 12 SIGNIFICANT digits (magnitude-scaled, so
    the precision follows the key's dynamic range instead of a fixed
    decimal place): libm ``log`` is not correctly rounded, so a
    last-ulp difference between engines could reorder near-tie keys at
    the LIMIT-k boundary; 12 significant digits is far above any
    cross-libm divergence (~1 ulp, 15-16 digits) yet fine enough that
    distinct ids virtually never collide — and exact ties that do occur
    break deterministically on ``id_col``."""
    from .hashing import h64
    _M = 1 << 20
    u = (F.pmod(h64(F.col(id_col).cast("string"), seed=seed), F.lit(_M))
         + 0.5) / _M
    raw = F.log(u) / F.col(weight_col)
    # 12-significant-digit rounding: scale by 10^(11 - floor(log10|x|)),
    # round to an integer, scale back.  ln(u) < 0 and w > 0 (filtered),
    # so the key is strictly negative and log10(|key|) is total.
    scale = F.pow(F.lit(10.0), F.lit(11) - F.floor(F.log10(F.abs(raw))))
    key = F.round(raw * scale) / scale
    return (df.where(F.col(weight_col) > 0)
            .withColumn("__sk", key)
            .orderBy(F.col("__sk").desc(), F.col(id_col))
            .limit(k)
            .drop("__sk"))


def mixture_sample(df: DataFrame, weights: dict, total: int,
                   source_col: str = "source", id_col: str = "doc_id",
                   seed: int = 11) -> DataFrame:
    """Deterministic mixture resampling toward target source weights —
    the training-mix step that turns raw per-source availability into a
    declared data recipe (e.g. 40% web, 40% books, 20% code).

    Each source ``s`` gets keep-probability
    ``p_s = min(1, weights[s] * total / n_s)`` and a row is kept iff
    ``hash(seed, id) mod M < floor(p_s * M)`` — so the sample hits the
    target mixture in expectation, is reproducible across runs, engines
    and partitionings, and ``p_s`` caps at 1 when a source is scarcer
    than its target share (no oversampling).  Sources absent from
    ``weights`` are dropped.

    Scale shape: one tiny per-source count aggregation (map-side
    combinable, output is #sources rows), a broadcast join of the
    cutoffs, then a map-side filter — the corpus itself is never
    shuffled and the whole operator is a single pass."""
    cut = mixture_cutoffs(df, weights, total, source_col)
    return mixture_apply(df, cut, source_col, id_col, seed)


def mixture_cutoffs(df: DataFrame, weights: dict, total: int,
                    source_col: str = "source") -> DataFrame:
    """The mixture recipe as a #sources-row cutoff table — the snapshot
    artifact ``mixture_apply`` consumes (persist it once per corpus
    snapshot; a live ingest stream then samples against it without
    ever counting the corpus)."""
    _M = 1 << 20
    counts = df.groupBy(source_col).agg(F.count("*").alias("__n"))
    wmap = F.create_map(*[x for kv in weights.items()
                          for x in (F.lit(kv[0]), F.lit(float(kv[1])))])
    # absent sources are dropped OUTSIDE the least(): Spark's least()
    # skips NULL args, so a NULL weight would silently become cutoff 1.0
    return counts.where(F.col(source_col).isin(*weights.keys())).select(
        source_col,
        F.floor(F.least(F.lit(1.0),
                        wmap[F.col(source_col)] * total / F.col("__n"))
                * _M).alias("__cut"))


def temperature_cutoffs(df: DataFrame, alpha: float, total: int,
                        source_col: str = "source") -> DataFrame:
    """Temperature-sampled mixture recipe: target share ``p_s
    proportional to n_s^alpha`` (the multilingual-LM sampling standard,
    Arivazhagan et al. 2019 — ``alpha=1`` keeps natural proportions,
    ``alpha=0`` is uniform over sources, ``0 < alpha < 1`` upweights
    scarce sources), rendered as the same #sources-row cutoff table
    ``mixture_apply`` consumes — so the declared recipe comes from the
    DATA, not a hand-written weights dict.

    The keep probability is rounded to 12 decimal digits before the
    integer cutoff floor (the ``weighted_sample`` lesson: ``pow`` can
    differ across libm implementations in the last ulps, and an
    unrounded floor would flip the cutoff by 1 between engines).
    Scale shape: one tiny per-source count aggregation + a 1-row
    normalizer, broadcast; the corpus never shuffles."""
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    _M = 1 << 20
    counts = df.groupBy(source_col).agg(F.count("*").alias("__n"))
    z = counts.agg(F.sum(F.pow("__n", F.lit(float(alpha)))).alias("__z"))
    p = F.round(F.least(
        F.lit(1.0),
        F.pow("__n", F.lit(float(alpha))) / F.col("__z")
        * total / F.col("__n")), 12)
    return (counts.crossJoin(F.broadcast(z))
            .select(source_col, F.floor(p * _M).alias("__cut")))


def epoch_schedule(df: DataFrame, total_tokens: int, alpha: float = 0.5,
                   max_epochs: float = 4.0, source_col: str = "source",
                   text_col: str = "text") -> DataFrame:
    """Data-constrained epoch schedule (Muennighoff et al. 2023,
    "Scaling Data-Constrained Language Models": repeating a source up
    to ~4 epochs is near-free; value decays past that): given a total
    token budget and per-source availability, derive how many EPOCHS
    of each source to train on —

        n_s      = source token count (one combinable aggregate)
        p_s      ~ n_s^alpha   (temperature share, 12-digit-rounded —
                                the ``temperature_cutoffs`` parity rule)
        epochs_s = min(max_epochs, p_s * total_tokens / n_s)  (6dp)
        realized = floor(epochs_s * n_s)

    Returns ``(source, n_tokens, share, epochs, realized_tokens)`` —
    the recipe table a training loader consumes (epochs > 1 = repeat
    the source, < 1 = subsample via ``mixture_apply``); the capped
    sources' undershoot (sum(realized) < total_tokens) is the honest
    signal that the budget exceeds what ``max_epochs`` allows.

    Scale shape: one tiny per-source aggregation + a 1-row normalizer
    broadcast — |sources| rows end to end; the corpus never
    shuffles.  A source whose docs hold zero tokens is excluded from
    the schedule (it cannot contribute, and its epochs ratio would be
    0/0 — an ANSI-mode crash, not a number)."""
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    if max_epochs <= 0:
        raise ValueError(f"max_epochs must be > 0, got {max_epochs}")
    n_tok = F.size(tokens(F.coalesce(F.col(text_col), F.lit(""))))
    counts = df.groupBy(source_col).agg(
        F.sum(n_tok).cast("long").alias("n_tokens")) \
        .filter(F.col("n_tokens") > 0)
    z = counts.agg(
        F.sum(F.pow("n_tokens", F.lit(float(alpha)))).alias("__z"))
    share = F.round(
        F.pow("n_tokens", F.lit(float(alpha))) / F.col("__z"), 12)
    epochs = F.round(
        F.least(F.lit(float(max_epochs)),
                share * total_tokens / F.col("n_tokens")), 6)
    return (counts.crossJoin(F.broadcast(z))
            .select(source_col, "n_tokens", share.alias("share"),
                    epochs.alias("epochs"),
                    F.floor(epochs * F.col("n_tokens"))
                    .cast("long").alias("realized_tokens")))


def temperature_mixture_sample(df: DataFrame, alpha: float, total: int,
                               source_col: str = "source",
                               id_col: str = "doc_id",
                               seed: int = 11) -> DataFrame:
    """Deterministic temperature mixture resampling: derive the recipe
    from per-source availability (``temperature_cutoffs``) and apply it
    with the reproducible hash filter (``mixture_apply``) — one tiny
    aggregation + a broadcast + a map-side filter at any scale."""
    return mixture_apply(df, temperature_cutoffs(df, alpha, total,
                                                 source_col),
                         source_col, id_col, seed)


def mixture_apply(df: DataFrame, cutoffs: DataFrame,
                  source_col: str = "source", id_col: str = "doc_id",
                  seed: int = 11) -> DataFrame:
    """Apply a cutoff table to a corpus OR a live stream: broadcast
    (stream-static when ``df`` streams) join + map-side deterministic
    hash filter.  A crawl stream is sampled toward the declared recipe
    row by row, reproducibly — no corpus counting on the hot path."""
    from .hashing import h64
    _M = 1 << 20
    h = F.pmod(h64(F.col(id_col).cast("string"), seed=seed), F.lit(_M))
    return (df.join(F.broadcast(cutoffs), source_col)
            .where(h < F.col("__cut"))
            .drop("__cut")
            .select(*df.columns))


#: (name, pattern, replacement) — order matters (emails before bare
#: domains, etc.).  Patterns are RE2-safe (no backrefs) so they run in
#: Spark's codegen'd regexp_replace and in DuckDB identically.
DEFAULT_REDACTIONS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+?\d[\d\s().-]{7,}\d", "<PHONE>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
)


def vocab_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Unigram digest-count table ``(__h, __c)`` — one md5 per token,
    ONE map-side-combinable aggregate, Zipf-bounded output; the
    snapshot artifact `vocab_drift` compares drops against."""
    from .hashing import h64
    return (df.select(F.explode(tokens(F.coalesce(F.col(text_col),
                                                  F.lit("")))).alias("__t"))
            .select(h64(F.col("__t")).alias("__h"))
            .groupBy("__h").agg(F.count("*").alias("__c")))


def vocab_drift(new: DataFrame, prior: DataFrame | None = None,
                prior_counts: DataFrame | None = None,
                text_col: str = "text") -> DataFrame:
    """Distribution-level crawl drift: KL(drop || prior) between the
    drop's unigram distribution and the prior snapshot's, plus the
    drop's out-of-vocabulary token mass — the page a crawl operator
    watches next to `novelty_score`'s content-level signal (novelty
    says "these pages repeat known text"; drift says "this drop's
    LANGUAGE changed" — a spam wave, an encoding break, a new domain
    mix, all before any model quality moves).  Returns ONE row
    ``(n_tokens, n_distinct, oov_frac, kl)``:

        p(w) = c_new(w) / N_new                 (the drop)
        q(w) = (c_prior(w) + 1) / (N_prior + V) (add-1 over the UNION
                                                 vocabulary V — OOV
                                                 tokens get the floor,
                                                 never a zero divide)
        kl   = sum_w p(w) * ln(p(w) / q(w))     (6dp-rounded)

    Pass ``prior_counts`` (the `vocab_counts` snapshot artifact) to
    skip re-counting the prior corpus.  Scale shape: one combinable
    count aggregate per side (vocabulary-sized outputs), one
    digest-keyed outer join of the two count tables, one scalar
    aggregate — the corpora never shuffle and nothing is
    driver-collected but the single result row."""
    if (prior is None) == (prior_counts is None):
        raise ValueError("pass exactly one of prior / prior_counts")
    if prior_counts is None:
        prior_counts = vocab_counts(prior, text_col)
    nc = vocab_counts(new, text_col)
    pc = prior_counts.select(F.col("__h"), F.col("__c").alias("__cp"))
    j = nc.join(pc, "__h", "full_outer").select(
        F.coalesce("__c", F.lit(0)).alias("cn"),
        F.coalesce("__cp", F.lit(0)).alias("cp"))
    totals = j.agg(
        F.sum("cn").alias("n_new"), F.sum("cp").alias("n_prior"),
        F.count("*").alias("v"),
        F.sum((F.col("cn") > 0).cast("long")).alias("v_new"),
        F.sum(F.when((F.col("cn") > 0) & (F.col("cp") == 0),
                     F.col("cn")).otherwise(F.lit(0))).alias("oov"))
    stats = j.crossJoin(F.broadcast(totals)).filter(F.col("cn") > 0)
    p = F.col("cn") / F.col("n_new")
    q = (F.col("cp") + 1) / (F.col("n_prior") + F.col("v"))
    return (stats.agg(
        F.max("n_new").cast("long").alias("n_tokens"),
        F.max("v_new").cast("long").alias("n_distinct"),
        F.round(F.max("oov") / F.max("n_new"), 6).alias("oov_frac"),
        F.round(F.sum(p * F.log(p / q)), 6).alias("kl")))


def token_doc_freq(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Corpus token document-frequency table: one row per distinct token
    with the number of documents containing it.  The building block for
    frequency-based quality filters (CCNet-style).

    Scale: explode *distinct* tokens per doc (bounded by doc length),
    then one combinable groupBy-count.  The result's cardinality is the
    corpus vocabulary — Zipf-bounded, orders of magnitude smaller than
    the corpus itself."""
    return (df.select(F.explode(F.array_distinct(tokens(F.col(text_col))))
                      .alias("token"))
            .groupBy("token").agg(F.count("*").alias("doc_freq")))


def release_cached() -> int:
    """Unpersist tables cached by the text family (the generational
    ``token_doc_freq`` prior table the `text_idf_incremental` demo
    persists in place of a snapshot read).  Call after downstream
    results have been materialized; returns how many were released."""
    from ._cache import release
    return release("text_idf")


def token_doc_freq_merge(prior_freq: DataFrame, delta: DataFrame,
                         text_col: str = "text") -> DataFrame:
    """Generational document-frequency maintenance: fold a new corpus
    drop into the prior generation's ``token_doc_freq`` table.  Because
    generations are disjoint document sets, per-token doc counts ADD
    exactly — the merged table is row-identical to a from-scratch
    ``token_doc_freq`` over prior ∪ delta, but the PRIOR CORPUS IS
    NEVER RE-READ: the only inputs are the drop's text and the
    vocabulary-sized prior count table (a snapshot artifact in the
    continuous-build story, like the digest tables of the incremental
    dedup family).

    Scale: one pass over the drop, then a union + combinable groupBy
    whose shuffle is bounded by the two VOCABULARIES (Zipf-bounded),
    not either corpus."""
    dfreq = token_doc_freq(delta, text_col)
    return (prior_freq.unionByName(dfreq)
            .groupBy("token").agg(F.sum("doc_freq").alias("doc_freq")))


def idf_score(df: DataFrame, freq: DataFrame, n_docs: int,
              text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Score documents against a PRECOMPUTED document-frequency table:
    the apply half of ``corpus_idf_quality`` split out for generational
    use — ``freq`` comes from ``token_doc_freq_merge`` (or a snapshot
    artifact) and ``n_docs`` from generation manifests, so a new drop
    is scored with full-corpus-consistent IDF values without touching
    the prior corpus.  Returns (id, n_distinct_tokens, mean_idf) with
    semantics identical to ``corpus_idf_quality`` whenever ``freq``
    covers the target's vocabulary (a merged table always does).

    Scale: explode distinct tokens of the TARGET only, one equi-join
    against the vocabulary-sized table — (token, id) pairs shuffle,
    text never does; ``n_docs`` is a driver-known literal (manifest
    metadata), not an aggregate over the corpus."""
    if n_docs < 1:
        raise ValueError(f"need n_docs >= 1, got {n_docs}")
    ex = df.select(F.col(id_col),
                   F.explode(F.array_distinct(tokens(F.col(text_col))))
                   .alias("token"))
    return (ex.join(freq, "token")
            .groupBy(id_col)
            .agg(F.count("*").alias("n_distinct_tokens"),
                 F.round(F.avg(F.log(F.lit(float(n_docs))
                                     / F.col("doc_freq"))), 6)
                  .alias("mean_idf")))


def corpus_idf_quality(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """CCNet-style corpus-frequency quality score: mean inverse document
    frequency ``ln(N / df)`` over each document's distinct tokens.  Low
    mean-IDF = common/boilerplate vocabulary; high = rare (noise, OCR
    garbage).  Returns (id, n_distinct_tokens, mean_idf).

    Two passes over the corpus: (1) the vocabulary-sized doc-frequency
    table (``token_doc_freq``), (2) explode distinct tokens again and
    equi-join them to the table.  The join shuffles (token, id) pairs —
    never text — and the frequency side is vocabulary-sized; Zipf means
    the hot tokens are few and AQE's skew-join splits them."""
    n_docs = df.select(F.count("*").alias("__n"))
    freq = token_doc_freq(df, text_col, id_col)
    ex = df.select(F.col(id_col),
                   F.explode(F.array_distinct(tokens(F.col(text_col))))
                   .alias("token"))
    return (ex.join(freq, "token")
            .crossJoin(F.broadcast(n_docs))
            .groupBy(id_col)
            .agg(F.count("*").alias("n_distinct_tokens"),
                 F.round(F.avg(F.log(F.col("__n").cast("double")
                                     / F.col("doc_freq"))), 6)
                  .alias("mean_idf")))


def _plabel(p: float) -> str:
    """Full-precision percentile label: 0.25 -> 'p25', 0.995 -> 'p99_5'
    (so 0.99 and 0.995 never collide into the same column name)."""
    return "p" + format(p * 100, "g").replace(".", "_")


def profile_columns(df: DataFrame,
                    percentiles: tuple = (0.25, 0.5, 0.75),
                    approx: bool = False) -> DataFrame:
    """Data-profiling report: one output row per input column with row /
    null / distinct counts, and for numeric columns min, max, mean
    (6dp) and exact interpolated percentiles (Spark ``percentile`` ==
    DuckDB ``quantile_cont`` — both sort-based and deterministic, so
    the profile is engine-exact, unlike approx sketches).

    ONE scan + ONE aggregate computes every column's stats as a wide
    row; the wide row then explodes to the per-column report.  Counts,
    distincts, min/max/mean are combinable single-pass aggregates.
    Exact percentiles buffer the column's values in the aggregate — fine
    into the billions of rows; ``approx=True`` is the 100 TB path: it
    swaps ``F.percentile`` for ``approx_percentile`` (KLL-style sketch,
    combinable, bounded memory per partial) at the cost of oracle
    exactness — counts/min/max/mean stay exact either way."""
    from pyspark.sql.types import NumericType
    labels = [_plabel(p) for p in percentiles]
    if len(set(labels)) != len(labels):
        raise ValueError(f"duplicate percentile labels: {labels}")
    num = {f.name for f in df.schema.fields
           if isinstance(f.dataType, NumericType)}
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in df.columns:
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                    .alias(f"__nulls_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"__dist_{c}"))
        if c in num:
            d = F.col(c).cast("double")
            aggs += [F.min(d).alias(f"__min_{c}"), F.max(d).alias(f"__max_{c}"),
                     F.round(F.avg(d), 6).alias(f"__mean_{c}")]
            for p in percentiles:
                pct = (F.approx_percentile(d, F.lit(p), F.lit(10000))
                       if approx else F.percentile(d, F.lit(p)))
                aggs.append(F.round(pct, 6).alias(f"__{_plabel(p)}_{c}"))
    wide = df.agg(*aggs)
    null_d = F.lit(None).cast("double")
    rows = []
    for c in df.columns:
        fields = [F.lit(c).alias("column"), F.col("__n").alias("n_rows"),
                  F.col(f"__nulls_{c}").cast("long").alias("n_nulls"),
                  F.col(f"__dist_{c}").alias("n_distinct")]
        if c in num:
            fields += [F.col(f"__min_{c}").alias("vmin"),
                       F.col(f"__max_{c}").alias("vmax"),
                       F.col(f"__mean_{c}").alias("vmean")]
            fields += [F.col(f"__{lb}_{c}").alias(lb) for lb in labels]
        else:
            fields += [null_d.alias("vmin"), null_d.alias("vmax"),
                       null_d.alias("vmean")]
            fields += [null_d.alias(lb) for lb in labels]
        rows.append(F.struct(*fields))
    return (wide.select(F.explode(F.array(*rows)).alias("r"))
            .select("r.*"))


def bigram_lm_score(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: float = 1.0) -> DataFrame:
    """In-corpus bigram language-model quality score: per-doc mean
    ``ln P(w_i | w_{i-1})`` under an add-``k`` smoothed bigram model
    fitted on the corpus itself (the CCNet perplexity-filter idea
    without an external LM).  Low scores flag documents whose token
    transitions are unusual for the corpus — OCR noise, shuffled text,
    keyword-stuffed spam.  Returns (id, n_bigrams, mean_logp) for docs
    with at least one bigram.

    Tokens ride as 60-bit digests end-to-end (one md5 per token; the
    bigram key is rolled arithmetically like ``dedup.shingle_hashes``):
    the count tables and every shuffled row are ints, never text.  The
    model tables are vocabulary-/bigram-vocabulary-sized (Zipf-bounded);
    the per-doc join shuffles (digest, id) pairs, with AQE skew-join
    covering the Zipf head.

    r12 optimization (guide §1.2 — fewer passes): the tokenize+hash
    stage materializes ONCE (`_staging.stage`, the repo-wide
    corpus-materialization-point pattern ngram_lm_model already uses)
    and both the fit's two count branches and the apply's per-doc
    bigram explode read it — one tokenize pass over the corpus
    instead of three.  Derivation is deterministic, so rows are
    identical either way."""
    staged = _bigram_staged(df, text_col, id_col)
    if not staged.isStreaming:
        staged = _stage(staged)
    bg = _bigrams_from_staged(staged, id_col)
    model = bigram_lm_model(df, text_col, id_col, _staged=staged)
    return bigram_lm_apply(df, model, text_col=text_col, id_col=id_col,
                           k=k, _bg=bg)


def _bigram_staged(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """``(id, __hs)`` token-hash frame (one md5 per token) — the
    map-side front of the bigram-LM family."""
    from .dedup import token_hash_array
    return df.select(F.col(id_col),
                     token_hash_array(F.col(text_col)).alias("__hs"))


def _bigrams_from_staged(staged: DataFrame, id_col: str) -> DataFrame:
    """Rolled per-doc bigram digests ``(id, __pre, __bg)`` from the
    staged token-hash frame (keys rolled arithmetically like
    ``dedup.shingle_hashes``)."""
    from .dedup import MH_PRIME, sh_coeff
    c0, c1 = sh_coeff(0), sh_coeff(1)
    n = F.size(F.col("__hs"))
    pos = F.when(n >= 2, F.sequence(F.lit(1), n - 1)) \
           .otherwise(F.array().cast("array<int>"))
    return (staged.select(id_col, F.col("__hs"),
                          F.explode(pos).alias("__i"))
            .select(id_col,
                    F.element_at("__hs", F.col("__i")).alias("__pre"),
                    (((F.element_at("__hs", F.col("__i")) * c0) % MH_PRIME
                      + (F.element_at("__hs", F.col("__i") + 1) * c1)
                      % MH_PRIME)
                     % MH_PRIME).alias("__bg")))


def _doc_bigrams(df: DataFrame, text_col: str, id_col: str):
    """Per-doc rolled bigram digests ``(id, __pre, __bg)`` plus the
    staged token-hash frame — the map-side front half shared by model
    fitting and application."""
    staged = _bigram_staged(df, text_col, id_col)
    return _bigrams_from_staged(staged, id_col), staged


def bigram_lm_model(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", _staged: DataFrame = None):
    """Fit the bigram-LM tables ONCE — the snapshot model artifact a
    continuous pipeline persists and re-applies to later crawls.
    Returns ``(bg_counts, pre_counts, vocab)`` DataFrames (bigram
    counts, prefix counts, 1-row vocabulary size).

    ONE corpus-wide count pass: group by (pre, bg); both model tables
    then roll up from that bigram-vocabulary-sized table (Zipf-bounded)
    instead of each taking its own pass over the corpus.  The
    tokenize+hash stage materializes once (`_staging.stage`) so the
    bigram-count branch and the vocabulary branch share it — callers
    that already staged it (``bigram_lm_score``) pass ``_staged``."""
    if _staged is not None:
        staged = _staged
    else:
        staged = _bigram_staged(df, text_col, id_col)
        if not staged.isStreaming:
            staged = _stage(staged)
    bg = _bigrams_from_staged(staged, id_col)
    pair_counts = (bg.groupBy("__pre", "__bg").agg(F.count("*").alias("__c")))
    bg_counts = pair_counts.groupBy("__bg").agg(F.sum("__c").alias("__cbg"))
    pre_counts = pair_counts.groupBy("__pre").agg(F.sum("__c").alias("__cpre"))
    vocab = (staged.select(F.explode("__hs").alias("__h"))
             .agg(F.count_distinct("__h").alias("__v")))
    return bg_counts, pre_counts, vocab


def bigram_lm_apply(df: DataFrame, model, text_col: str = "text",
                    id_col: str = "doc_id", k: float = 1.0,
                    _bg: DataFrame = None) -> DataFrame:
    """Score documents under a FITTED bigram model (see
    ``bigram_lm_model``): per-doc mean ``ln P(w_i | w_{i-1})`` with
    add-``k`` smoothing; bigrams the model never saw coalesce to count
    0 (pure smoothing mass), so new crawls score honestly.  Works
    unchanged on a LIVE stream (stream-static joins against the
    snapshot model tables; the 1-row vocabulary count is read once
    driver-side there, since a streaming plan cannot cross-join).

    The per-doc attach stays TWO joins — one on __bg, one on __pre —
    because the rolled __bg key can birthday-collide across distinct
    prefixes (~B^2/2^32 pairs: a certainty at corpus scale); a single
    join on __bg alone would duplicate rows for colliding bigram
    types.  Counts for colliding keys merge, which is exactly what the
    oracle's plain GROUP BY computes — engine-identical at any
    collision density.  ``_bg``: the caller's already-staged bigram
    frame when df IS the fit corpus (``bigram_lm_score``) — skips a
    second tokenize pass; derivation is deterministic, so rows are
    identical either way."""
    bg_counts, pre_counts, vocab = model
    bg = _bg if _bg is not None else _doc_bigrams(df, text_col, id_col)[0]
    if df.isStreaming:
        v_col = F.lit(vocab.collect()[0][0])
        attached = bg
    else:
        v_col = F.col("__v")
        attached = None  # cross-join below
    logp = F.log((F.coalesce(F.col("__cbg"), F.lit(0)) + F.lit(k))
                 / (F.coalesce(F.col("__cpre"), F.lit(0))
                    + F.lit(k) * v_col))
    joined = (bg.join(bg_counts, "__bg", "left")
              .join(pre_counts, "__pre", "left"))
    if attached is None:
        joined = joined.crossJoin(F.broadcast(vocab))
    return (joined.groupBy(id_col)
            .agg(F.count("*").alias("n_bigrams"),
                 F.round(F.avg(logp), 6).alias("mean_logp")))


def _hash_staged(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """``(id, __hs)`` token-hash frame shared by the n-gram LM family:
    one md5 per token (`dedup.token_hash_array`), `_spread` so the
    CPU-bound hash pass never serializes onto a single-file scan's one
    core (batch-only no-op on streams)."""
    from .dedup import _spread, token_hash_array
    return (_spread(df.select(F.col(id_col), F.col(text_col)))
            .select(F.col(id_col),
                    token_hash_array(F.col(text_col)).alias("__hs")))


def _rollk(*cols: Column) -> Column:
    """Rolled k-gram digest over token-hash columns: ``sum_j c_j *
    h_j mod p`` (the ``dedup.shingle_hashes`` arithmetic — each term
    < 2^31, so a sum of <= 6 terms never overflows int64)."""
    from .dedup import MH_PRIME, sh_coeff
    acc = None
    for j, c in enumerate(cols):
        t = (c * sh_coeff(j)) % MH_PRIME
        acc = t if acc is None else acc + t
    return acc % MH_PRIME


def _pos_explode(staged: DataFrame, id_col: str, span: int) -> DataFrame:
    """Explode n-gram start positions 1..n-(span-1) over the staged
    token-hash frame — the `_doc_bigrams` shape: position indices
    explode FIRST and every key derives from ``element_at`` on the
    retained ``__hs`` AFTER the Generate barrier.  Building key ARRAYS
    before the explode instead (transform lambdas over the projected
    __hs, then element_at per exploded row) measured 100x slower at
    sf0.1 (48s -> 0.5s): the array-projection shape does not survive
    Catalyst, the post-Generate element_at does."""
    n = F.size("__hs")
    pos = F.when(n >= span, F.sequence(F.lit(1), n - (span - 1))) \
           .otherwise(F.array().cast("array<int>"))
    return staged.select(id_col, "__hs", F.explode(pos).alias("__i"))


#: supported stupid-backoff orders (6 keeps the rolled-key sum safely
#: inside int64; CCNet's production filter is order 5)
_NGRAM_MAX_ORDER = 6


def _check_order(order: int) -> None:
    if not 2 <= order <= _NGRAM_MAX_ORDER:
        raise ValueError(
            f"order must be in [2, {_NGRAM_MAX_ORDER}], got {order}")


def ngram_lm_model(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", order: int = 3):
    """Fit an order-``order`` stupid-backoff LM ONCE — the
    higher-order rungs above ``bigram_lm_model`` (CCNet's real
    perplexity filter is a 5-gram model: ``order=5`` IS that shape,
    with Brants et al. 2007 stupid backoff, whose score is SQL-exact —
    unlike Kneser-Ney's discounting recursion).  Returns
    ``{"order": order, "counts": {k: DataFrame}, "totals": DataFrame}``
    — one ``(__k{k}, __c{k})`` count table per n-gram order k = 1..N
    plus a 1-row (N_tokens, V) total; the snapshot model artifact.

    Scale shape: ONE tokenize+hash pass (stage-materialized
    batch-side so the N count branches read it once — the repo-wide
    corpus-materialization-point pattern, ~1x corpus bytes one-shot),
    then N map-side-combinable count shuffles whose outputs are
    n-gram-vocabulary-sized (Zipf-bounded).  Every k-gram key derives
    from ``element_at`` on the retained hash array AFTER the Generate
    barrier — the array-projection shape measured 100x slower
    (SCALE.md r9)."""
    _check_order(order)
    staged = _hash_staged(df, text_col, id_col)
    if not staged.isStreaming:
        staged = _stage(staged)

    def el(off):
        return F.element_at(F.col("__hs"), F.col("__i") + off)

    counts = {}
    for k in range(1, order + 1):
        if k == 1:
            occ_k = staged.select(F.explode("__hs").alias("__k1"))
        else:
            occ_k = (_pos_explode(staged, id_col, k)
                     .select(_rollk(*[el(j) for j in range(k)])
                             .alias(f"__k{k}")))
        counts[k] = (occ_k.groupBy(f"__k{k}")
                     .agg(F.count("*").alias(f"__c{k}")))
    totals = counts[1].agg(F.sum("__c1").alias("__n"),
                           F.count("*").alias("__v"))
    # the materialized tokenize+hash stage rides along so a same-corpus
    # apply (ngram_lm_score) can reuse it instead of re-deriving the
    # whole pass (guide §1.2 — fewer passes); artifact-served models
    # (read_ngram_lm) simply lack the key and apply re-derives
    return {"order": order, "counts": counts, "totals": totals,
            "staged": None if staged.isStreaming else staged}


def ngram_lm_apply(df: DataFrame, model, text_col: str = "text",
                   id_col: str = "doc_id",
                   backoff: float = 0.4,
                   head_k: int | None = None,
                   _staged: DataFrame | None = None) -> DataFrame:
    """Score documents under a FITTED stupid-backoff model (see
    ``ngram_lm_model``): per-doc mean ``ln S(w | context)`` where, for
    the k-gram ending at the scored token,

        S_k = c_k / c_{k-1}(its prefix)   if the k-gram was seen
            = backoff * S_{k-1}           otherwise      (k = N..2)
        S_1 = (c_1 + 1) / (N + V)         add-1 unigram (always finite
                                          — unseen words score honestly)

    Returns ``(id, n_ngrams, mean_logp)`` for docs with >= ``order``
    tokens.  Works unchanged on a LIVE stream (stream-static joins
    against the snapshot count tables; the 1-row totals are read
    driver-side — a streaming plan cannot cross-join).

    Every CASE guards BOTH the matched count and its denominator
    (rolled keys can birthday-collide: a collided k-gram hit whose
    true prefix is absent must fall through to backoff, not divide by
    NULL); counts for colliding keys merge, exactly what the oracle's
    GROUP BY computes — engine-identical at any collision density.
    Scale shape: the per-doc attach is ``2*order - 1`` left joins
    against Zipf-bounded count tables (AQE skew-join covers the Zipf
    head); everything shuffled is (digest, id) ints.

    ``head_k`` (e.g. 256) is the explicit Zipf-head split for the
    UNIGRAM joins — the one place AQE's skew handling is load-bearing
    at 100 TB: at web scale the unigram table outgrows the broadcast
    threshold (vocab ~10^8+), the occurrence table shuffles on raw
    token hashes, and the head tokens ("the", "of", ...) are whale
    keys.  With ``head_k`` set, the top-K unigram counts (one
    distributed TakeOrdered, K literals) become a literal lookup map:
    occurrences whose scored token AND backoff prefix both sit in the
    head resolve ENTIRELY map-side and never enter the unigram
    Exchanges; the rest join the tail-only count table (near-uniform
    keys) with the head map coalesced over misses — bit-identical to
    the plain path (head ∪ tail partition the count table).  Batch
    only (a streaming plan takes the stream-static joins; its
    micro-batches are small enough that skew is not the binding
    constraint)."""
    N, counts, totals = model["order"], model["counts"], model["totals"]
    # _staged: the fit's already-materialized tokenize+hash stage, when
    # the caller KNOWS df is the fit corpus (ngram_lm_score) — skips a
    # full second corpus pass; derivation is deterministic, so rows are
    # identical either way
    staged = _staged if _staged is not None \
        else _hash_staged(df, text_col, id_col)
    ex = _pos_explode(staged, id_col, N)

    def el(off):
        return F.element_at(F.col("__hs"), F.col("__i") + off)

    # per scored token w (window offset N-1): the k-gram ENDING at w
    # for k=1..N, and the k-gram ending at w-1 (the backoff prefix of
    # the (k+1)-gram) for k=1..N-1
    def kgram(end_off, k):
        # unigram keys are the RAW token hashes (the model's __k1 is a
        # plain explode of __hs, not a rolled 1-gram)
        if k == 1:
            return el(end_off)
        return _rollk(*[el(end_off - k + 1 + j) for j in range(k)])

    keys = [F.col(id_col)]
    for k in range(1, N + 1):
        keys.append(kgram(N - 1, k).alias(f"__w{k}"))
    for k in range(1, N):
        keys.append(kgram(N - 2, k).alias(f"__p{k}"))
    occ = ex.select(*keys)
    if df.isStreaming:
        r = totals.collect()[0]
        n_col, v_col = F.lit(int(r["__n"])), F.lit(int(r["__v"]))
        streaming = True
    else:
        n_col, v_col = F.col("__n"), F.col("__v")
        streaming = False
    use_head = head_k is not None and not streaming
    if use_head and head_k < 1:
        raise ValueError(f"head_k must be >= 1, got {head_k}")
    head: dict = {}
    if use_head:
        head = {int(r["__k1"]): int(r["__c1"]) for r in
                counts[1].orderBy(F.col("__c1").desc(), F.col("__k1"))
                .limit(int(head_k)).collect()}
    joined = occ
    for k in range(1, N + 1):
        if k == 1 and head:
            continue  # unigram attach handled by the head split below
        joined = joined.join(
            counts[k].select(F.col(f"__k{k}").alias(f"__w{k}"),
                             F.col(f"__c{k}").alias(f"__cw{k}")),
            f"__w{k}", "left")
        if k < N:
            joined = joined.join(
                counts[k].select(F.col(f"__k{k}").alias(f"__p{k}"),
                                 F.col(f"__c{k}").alias(f"__cp{k}")),
                f"__p{k}", "left")
    if head:
        hmap = F.create_map(*[F.lit(x) for kv in head.items() for x in kv])
        cw1h, cp1h = hmap[F.col("__w1")], hmap[F.col("__p1")]
        fully_head = cw1h.isNotNull() & cp1h.isNotNull()
        # head-resolved occurrences never enter the unigram Exchanges
        resolved = (joined.filter(fully_head)
                    .withColumn("__cw1", cw1h).withColumn("__cp1", cp1h))
        tail = counts[1].filter(~F.col("__k1").isin(list(head)))
        rest = (joined.filter(~fully_head)
                .join(tail.select(F.col("__k1").alias("__w1"),
                                  F.col("__c1").alias("__cwt")),
                      "__w1", "left")
                .join(tail.select(F.col("__k1").alias("__p1"),
                                  F.col("__c1").alias("__cpt")),
                      "__p1", "left")
                .withColumn("__cw1", F.coalesce(cw1h, F.col("__cwt")))
                .withColumn("__cp1", F.coalesce(cp1h, F.col("__cpt")))
                .drop("__cwt", "__cpt"))
        joined = resolved.unionByName(rest)
    if not streaming:
        joined = joined.crossJoin(F.broadcast(totals))
    a = F.lit(backoff)
    s = (F.coalesce(F.col("__cw1"), F.lit(0)) + 1) / (n_col + v_col)
    for k in range(2, N + 1):
        s = F.when(F.col(f"__cw{k}").isNotNull()
                   & F.col(f"__cp{k - 1}").isNotNull(),
                   F.col(f"__cw{k}") / F.col(f"__cp{k - 1}")) \
            .otherwise(a * s)
    return (joined.groupBy(id_col)
            .agg(F.count("*").alias("n_ngrams"),
                 F.round(F.avg(F.log(s)), 6).alias("mean_logp")))


def ngram_lm_score(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", backoff: float = 0.4,
                   order: int = 3, head_k: int | None = None) -> DataFrame:
    """In-corpus stupid-backoff quality score: fit ``ngram_lm_model``
    on the corpus itself and apply it — the higher-order siblings of
    ``bigram_lm_score`` (``order=5`` is the CCNet filter shape).
    ``head_k`` forwards to ``ngram_lm_apply``'s Zipf-head split."""
    model = ngram_lm_model(df, text_col, id_col, order=order)
    return ngram_lm_apply(df, model, text_col=text_col, id_col=id_col,
                          backoff=backoff, head_k=head_k,
                          _staged=model.get("staged"))


def collapse_repeats(df: DataFrame, text_col: str = "text",
                     out_col: str = "clean_text") -> DataFrame:
    """De-repetition cleaning: collapse every run of immediately
    repeated tokens to a single occurrence ("the the the" -> "the") —
    the generation-loop / scraper-stutter artifact filter.  Appends
    ``out_col`` plus ``n_removed``.

    Pure columnar array expressions (an indexed lambda filter inside
    whole-stage codegen): map-only, no shuffle, no UDF — cleaning
    100 TB is scan-speed."""
    # STAGE the token array as a bound column: referenced unbound
    # inside the indexed filter lambda, Catalyst would re-split the
    # text once per token (the quadratic inlining blowup measured 15x
    # on winnowing)
    staged = df.withColumn("__toks", tokens(F.col(text_col)))
    # element_at is 1-based, so element_at(toks, i) with the 0-based
    # lambda index i IS the previous token; the when() guards index 0
    # (element_at(_, 0) raises — SQL arrays are 1-based)
    kept = F.filter(F.col("__toks"),
                    lambda x, i: F.when(i == 0, F.lit(True))
                    .otherwise(x != F.element_at(F.col("__toks"), i)))
    return (staged.withColumns({
        out_col: F.array_join(kept, " "),
        "n_removed": (F.size("__toks") - F.size(kept)).cast("long"),
    }).drop("__toks"))


def perplexity_filter(df: DataFrame, frac: float = 0.1,
                      text_col: str = "text", id_col: str = "doc_id",
                      k: float = 1.0, approx: bool = False,
                      order: int = 2,
                      backoff: float = 0.4) -> DataFrame:
    """CCNet-style perplexity filtering: score every document with the
    in-corpus LM — ``order=2`` (default) the add-``k`` bigram LM
    (``bigram_lm_score``), ``order>=3`` the order-N stupid-backoff LM
    (``ngram_lm_score``; ``backoff`` is its discount; ``order=5`` is
    CCNet's production filter shape) — and drop the worst ``frac``
    tail: docs whose mean log transition probability falls below the
    corpus ``frac``-quantile (OCR noise, shuffled text, keyword
    spam).  Returns the survivors' ``(id, n_bigrams, mean_logp)``
    (``n_ngrams`` for order>=3).

    The threshold is ONE number computed from the doc-level score table
    (corpus-cardinality, tiny next to the token tables) and attached as
    a 1-row broadcast — the score table never re-shuffles.  Exact
    ``F.percentile`` buffers the doc scores in a single aggregate
    (fine into the billions of docs); ``approx=True`` swaps in
    ``approx_percentile`` (combinable sketch, bounded memory) for the
    100 TB path at the cost of oracle exactness.
    """
    if not 0.0 <= frac <= 1.0:
        raise ValueError("frac must be in [0, 1]")
    if order == 2:
        scored = bigram_lm_score(df, text_col=text_col, id_col=id_col,
                                 k=k)
    else:
        _check_order(order)
        scored = ngram_lm_score(df, text_col=text_col, id_col=id_col,
                                backoff=backoff, order=order)
    pct = (F.approx_percentile(F.col("mean_logp"), F.lit(frac), F.lit(10000))
           if approx else F.percentile(F.col("mean_logp"), F.lit(frac)))
    thr = scored.agg(pct.alias("__thr"))
    return (scored.crossJoin(F.broadcast(thr))
            .where(F.col("mean_logp") >= F.col("__thr"))
            .drop("__thr"))


def ccnet_bucket_cutoffs(scored: DataFrame, group_col: str = "lang",
                         score_col: str = "mean_logp",
                         approx: bool = False) -> DataFrame:
    """Per-group perplexity tercile cutoffs — the tiny model artifact
    of CCNet's head/middle/tail split (Wenzek et al. 2020 §4.3: CCNet
    partitions each language's documents into three equal perplexity
    buckets; downstream training samples mostly from *head*).  One row
    per group with the 1/3 and 2/3 score quantiles.

    Scale shape: ONE combinable aggregate over the doc-level score
    table (corpus-cardinality, tiny next to the token tables) whose
    output is |groups| rows — the snapshot artifact the live gate
    broadcasts.  ``F.percentile`` buffers each group's doc scores in
    one aggregate (fine into the billions of docs; a 100-language
    crawl is <=100 groups); ``approx=True`` swaps in
    ``approx_percentile`` (combinable sketch, bounded memory) for the
    100 TB path at the cost of oracle exactness — the same election as
    ``perplexity_filter``."""
    if approx:
        pcts = F.approx_percentile(
            F.col(score_col),
            F.array(F.lit(1.0 / 3.0), F.lit(2.0 / 3.0)), F.lit(10000))
    else:
        pcts = F.percentile(F.col(score_col),
                            F.array(F.lit(1.0 / 3.0), F.lit(2.0 / 3.0)))
    return scored.groupBy(group_col).agg(
        pcts[0].alias("p33"), pcts[1].alias("p67"))


def ccnet_bucket_apply(scored: DataFrame, cutoffs: DataFrame,
                       group_col: str = "lang",
                       score_col: str = "mean_logp") -> DataFrame:
    """Label scored documents head/middle/tail against fitted
    ``ccnet_bucket_cutoffs``: *head* scores at or above the 2/3
    quantile (higher mean log-prob = lower perplexity = cleaner text),
    *tail* strictly below the 1/3 quantile, *middle* between.  A group
    absent from the cutoff table (unseen language at serving time)
    labels NULL — an honest "no calibration" signal, never a silent
    head.  A NULL *score* (unscorable doc) likewise labels NULL: the
    threshold comparisons are NULL, and letting control fall through
    to ``otherwise('tail')`` would silently brand it lowest-quality.

    Map-only after a broadcast join against the |groups|-row cutoff
    table — append-legal on a live stream, zero state, zero shuffle of
    the doc rows."""
    j = scored.join(F.broadcast(cutoffs), group_col, "left")
    bucket = (F.when(F.col("p33").isNull() | F.col(score_col).isNull(),
                     F.lit(None).cast("string"))
              .when(F.col(score_col) >= F.col("p67"), F.lit("head"))
              .when(F.col(score_col) >= F.col("p33"), F.lit("middle"))
              .otherwise(F.lit("tail")))
    return j.withColumn("bucket", bucket).drop("p33", "p67")


def ccnet_buckets(df: DataFrame, group_col: str = "lang",
                  text_col: str = "text", id_col: str = "doc_id",
                  order: int = 2, k: float = 1.0, backoff: float = 0.4,
                  approx: bool = False) -> DataFrame:
    """The full CCNet head/middle/tail pipeline on one corpus: score
    every document with the in-corpus LM (``order=2`` the add-``k``
    bigram LM; ``order>=3`` the stupid-backoff rung; ``order=5`` is
    CCNet's production 5-gram shape), attach the grouping column, fit
    per-group tercile cutoffs, and label each doc's bucket.

    Returns ``(id, group, n_bigrams|n_ngrams, mean_logp, bucket)``.
    The doc-cardinality score table shuffles once to re-attach the
    group column (an id-keyed join of two corpus-sized int tables) and
    once into the |groups|-row cutoff aggregate; the labeling itself
    is a broadcast map."""
    if order == 2:
        scored = bigram_lm_score(df, text_col=text_col, id_col=id_col, k=k)
    else:
        _check_order(order)
        scored = ngram_lm_score(df, text_col=text_col, id_col=id_col,
                                backoff=backoff, order=order)
    scored = scored.join(df.select(id_col, group_col), id_col)
    cuts = ccnet_bucket_cutoffs(scored, group_col=group_col,
                                approx=approx)
    return ccnet_bucket_apply(scored, cuts, group_col=group_col)


def token_budget_sample(df: DataFrame, budget: int,
                        source_col: str = "source",
                        text_col: str = "text",
                        id_col: str = "doc_id",
                        priority_col: str | None = None) -> DataFrame:
    """Exact per-source TOKEN budget: keep documents in priority order
    until each source's cumulative token count reaches ``budget`` —
    the unit a training mix actually budgets in (a source's epoch
    share is tokens, not documents; cf. the temperature/mixture
    recipes).  A document is kept iff it *starts* within the budget
    (its predecessors' tokens total < ``budget``), so the kept set
    always includes the first document even if it alone exceeds the
    budget, and is a deterministic prefix of the priority order.

    Priority: ``priority_col`` descending when given (e.g. a quality
    score — spend the budget on the best docs first), else the
    reproducible hash order of ``source_quota_sample``; ties break on
    ``id_col`` ascending.  Returns the kept rows plus ``n_tokens`` and
    the 1-based ``budget_rank`` within the source.

    Scale shape: one per-source running-sum window (ints only — the
    window input carries (source, priority, id, n_tokens), never the
    text).  A pathologically dominant source sorts its full doc list
    on one partition pair; for that skew the ``source_quota_sample``
    cutoff prefilter composes in front (cap docs ~2x the worst-case
    budget/min_doc_tokens first), which this function deliberately
    leaves to the caller — the budget election itself must see the
    true prefix."""
    from pyspark.sql import Window
    if budget < 1:
        raise ValueError("need budget >= 1")
    # coalesce: a NULL text must count 0 tokens, not poison the
    # running sum with a NULL (the bm25_stats lesson)
    n_tok = F.size(tokens(F.coalesce(F.col(text_col),
                                     F.lit("")))).cast("long")
    if priority_col is None:
        prio = F.pmod(h64(F.col(id_col).cast("string"), seed=7),
                      F.lit(1 << 20)).asc()
    else:
        prio = F.col(priority_col).desc()
    w = Window.partitionBy(source_col).orderBy(prio, F.col(id_col).asc())
    staged = df.withColumn("n_tokens", n_tok)
    cum = F.sum("n_tokens").over(w)
    return (staged
            .withColumn("__cum", cum)
            .withColumn("budget_rank",
                        F.row_number().over(w).cast("long"))
            .filter(F.col("__cum") - F.col("n_tokens") < budget)
            .drop("__cum"))


def top_ngrams(df: DataFrame, n: int = 2, k: int = 5,
               text_col: str = "text", group_col: str = "source") -> DataFrame:
    """Corpus reporting: the ``k`` most frequent token ``n``-grams per
    ``group_col`` (per-source vocabulary drift, boilerplate spotting,
    contamination triage).  Deterministic tie-break: count desc, then
    n-gram text asc.

    The count is a combinable groupBy (map-side partials bound the
    shuffle to distinct n-grams per partition — Zipf makes the head
    combine hard); the top-k window then runs over the
    (groups x distinct-ngram) COUNT table, never the fact rows, and
    each group's partition sorts only its own vocabulary."""
    if n < 1 or k < 1:
        raise ValueError("need n >= 1 and k >= 1")
    from pyspark.sql import Window
    toks = tokens(F.col(text_col))
    grams = (df.select(group_col, toks.alias("__t"))
             .where(F.size("__t") >= n)
             .select(group_col,
                     F.explode(F.transform(
                         F.sequence(F.lit(1), F.size("__t") - (n - 1)),
                         lambda i: F.array_join(F.slice(F.col("__t"), i, n),
                                                " "))).alias("ngram")))
    counts = grams.groupBy(group_col, "ngram").agg(F.count("*").alias("n"))
    w = Window.partitionBy(group_col).orderBy(F.desc("n"), F.asc("ngram"))
    return (counts.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= k))


def source_quota_sample(df: DataFrame, quota: int,
                        source_col: str = "source",
                        id_col: str = "doc_id") -> DataFrame:
    """Exact per-source quota: keep at most ``quota`` documents per
    source, chosen deterministically by hash order (reproducible across
    runs/engines/partitionings — the domain-cap step of a training-data
    mix).

    Scale shape: a per-source ``row_number`` window alone would sort
    every source's full event mass; instead a first pass counts each
    source and derives a per-source hash *cutoff* admitting ~2x quota
    survivors in expectation (a map-side filter after a broadcast join —
    counts are one row per source), and only the survivors enter the
    exact-rank window.  The window input is O(quota) rows per source
    regardless of corpus size.  Exactness is unconditional: any source
    the cutoff under-fills (Chernoff-rare) is detected from the
    (source-count-sized) survivor counts and re-admitted whole, so the
    result is always precisely the quota lowest-hash rows per source —
    the oracle is the plain global-rank definition, not a mirror of
    this pipeline."""
    from pyspark.sql import Window
    h = F.pmod(h64(F.col(id_col).cast("string"), seed=7), F.lit(1 << 20))
    counts = df.groupBy(source_col).agg(F.count("*").alias("__cnt"))
    # cutoff admits ~2x quota (cap at the full range when quota >= count)
    cutoff = F.when(
        F.col("__cnt") <= quota, F.lit(1 << 20)
    ).otherwise(F.least(F.lit(1 << 20),
                        (F.lit(2 * quota * (1 << 20)) / F.col("__cnt"))
                        .cast("long") + 1))
    pre = (df.join(F.broadcast(counts.select(source_col,
                                             cutoff.alias("__cut"))),
                   source_col)
           .filter(h < F.col("__cut"))
           .select(*df.columns))
    # exactness fallback: a source whose prefilter admitted fewer than
    # min(quota, count) rows gets all its rows ranked instead.  Built
    # from counts LEFT-joined to survivor counts so a source whose
    # prefilter admitted ZERO rows (absent from `surv`) is still caught.
    surv = pre.groupBy(source_col).agg(F.count("*").alias("__nsurv"))
    under = (counts.join(surv, source_col, "left")
             .filter(F.coalesce(F.col("__nsurv"), F.lit(0))
                     < F.least(F.lit(quota), F.col("__cnt")))
             .select(source_col))
    pre = (pre.join(F.broadcast(under), source_col, "left_anti")
           .unionByName(df.join(F.broadcast(under), source_col, "left_semi")
                        .select(*df.columns)))
    w = (Window.partitionBy(source_col)
         .orderBy(h.asc(), F.col(id_col).asc()))
    return (pre.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= quota)
            .select(*df.columns))


def bm25_stats(df: DataFrame, query_terms: list[str],
               text_col: str = "text") -> dict:
    """ONE aggregate over the corpus yielding everything BM25 needs:
    doc count, average doc length, and per-term document frequencies —
    a single map-combinable pass collapsing to one row (the
    query-sized "index" for a fixed term bag)."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    toks = tokens(F.col(text_col))
    # null text must contribute dl=0 (legacy sizeOfNull would feed -1
    # into the average, silently skewing every downstream score)
    dl = F.when(F.col(text_col).isNull(), F.lit(0)).otherwise(F.size(toks))
    row = df.agg(
        F.count("*").alias("n"),
        F.avg(dl).alias("avgdl"),
        *[F.sum(F.array_contains(toks, t).cast("int")).alias(f"df{i}")
          for i, t in enumerate(query_terms)]).collect()[0]
    return {"n": int(row["n"]), "avgdl": float(row["avgdl"]),
            "df": {t: int(row[f"df{i}"])
                   for i, t in enumerate(query_terms)}}


def bm25_score(df: DataFrame, query_terms: list[str], stats: dict,
               text_col: str = "text", id_col: str = "doc_id",
               k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """BM25 scoring (Robertson/Lucene idf) as ONE map-only projection:

        idf(t)   = ln((N - df_t + 0.5) / (df_t + 0.5) + 1)
        score(d) = sum_t idf(t) * tf / (tf + k1*(1 - b + b*dl/avgdl))

    For a FIXED query bag, per-term tf is a per-row array count — no
    posting explode, no shuffle, nothing but a scan; the corpus-level
    constants come from ``bm25_stats`` (the snapshot-artifact scalars).
    Stateless, so it runs unchanged on a LIVE stream in append mode.
    Returns ``(id_col, score, n_terms_hit)`` for docs hitting >= 1
    term; scores round to 6dp (cross-engine parity)."""
    n, avgdl = stats["n"], stats["avgdl"]
    staged = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__t"))
    dl = F.size("__t")
    score, hits = F.lit(0.0), F.lit(0)
    for t in query_terms:
        import math
        dft = stats["df"][t]
        idf = math.log((n - dft + 0.5) / (dft + 0.5) + 1)
        tf = F.size(F.filter(F.col("__t"), lambda x: x == F.lit(t)))
        score = score + F.when(
            tf > 0, idf * tf / (tf + k1 * (1 - b + b * dl / avgdl))) \
            .otherwise(F.lit(0.0))
        hits = hits + (tf > 0).cast("int")
    return (staged.select(F.col(id_col),
                          F.round(score, 6).alias("score"),
                          hits.cast("long").alias("n_terms_hit"))
            .filter(F.col("n_terms_hit") > 0))


def bm25_topk(df: DataFrame, query_terms: list[str], k: int,
              text_col: str = "text", id_col: str = "doc_id",
              k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """BM25 relevance retrieval: top ``k`` docs for a query term bag —
    the query-relevance data-selection step (pull the corpus subset
    most relevant to a topic).  ``bm25_stats`` (one aggregate pass) +
    ``bm25_score`` (one map-only scan) + a distributed TakeOrdered;
    ties break on id.  Total shuffle volume: zero — the only wide
    operation is the k-row TakeOrdered to the driver."""
    stats = bm25_stats(df, query_terms, text_col)
    return (bm25_score(df, query_terms, stats, text_col, id_col, k1, b)
            .orderBy(F.col("score").desc(), F.col(id_col))
            .limit(k))


#: Gopher A1.1's required stop words: a natural-language document
#: contains at least ``min_stop_hits`` of these (Rae et al. 2021)
GOPHER_STOPS: tuple[str, ...] = ("the", "be", "to", "of", "and",
                                 "that", "have", "with")


def gopher_quality_filter(df: DataFrame, text_col: str = "text",
                          min_words: int = 50, max_words: int = 100000,
                          min_mean_word_len: float = 3.0,
                          max_mean_word_len: float = 10.0,
                          max_symbol_ratio: float = 0.1,
                          min_alpha_ratio: float = 0.8,
                          min_stop_hits: int = 2) -> DataFrame:
    """Gopher's DOC-level quality rules (Rae et al. 2021 A1.1) — the
    companion to ``c4_rule_filter``'s line-level rules: word-count
    bounds, mean-word-length bounds, symbol-to-word ratio (``#`` and
    ``...``), fraction of words containing an alphabetic character,
    and the required-stop-word count (>= ``min_stop_hits`` of
    `GOPHER_STOPS`).  Appends the audit columns (``n_words``,
    ``mean_word_len``, ``symbol_word_ratio``, ``alpha_word_ratio``,
    ``n_stop_hits``) plus ``keep``; ratios round to 6dp for
    cross-engine parity; empty docs get null ratios and ``keep = 0``.

    ONE map-only codegen projection (token array staged as a bound
    column — every stat references it), emitted through the GENERATE
    BARRIER so a gate filter on ``keep`` cannot re-expand the stats
    below the projection (the 80x pushdown trap, SCALE.md r9).  At
    100 TB this is scan-speed, like the C4 rules."""
    staged = df.withColumn("__gt", tokens(F.col(text_col)))
    n = F.size("__gt")
    mean_wl = F.round(F.try_divide(
        F.aggregate("__gt", F.lit(0).cast("long"),
                    lambda a, x: a + F.length(x)).cast("double"), n), 6)
    n_sym = (F.size(F.regexp_extract_all(F.col(text_col),
                                         F.lit("#"), F.lit(0)))
             + F.size(F.regexp_extract_all(F.col(text_col),
                                           F.lit(r"\.\.\."), F.lit(0))))
    sym_ratio = F.round(F.try_divide(n_sym.cast("double"), n), 6)
    n_alpha = F.size(F.filter("__gt", lambda x: x.rlike("[A-Za-z]")))
    alpha_ratio = F.round(F.try_divide(n_alpha.cast("double"), n), 6)
    stop_hits = None
    for s in GOPHER_STOPS:
        hit = F.array_contains("__gt", s).cast("int")
        stop_hits = hit if stop_hits is None else stop_hits + hit
    keep = ((n >= min_words) & (n <= max_words)
            & (mean_wl >= min_mean_word_len)
            & (mean_wl <= max_mean_word_len)
            & (sym_ratio <= max_symbol_ratio)
            & (alpha_ratio >= min_alpha_ratio)
            & (stop_hits >= min_stop_hits))
    packed = F.explode(F.array(F.struct(
        n.cast("long").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        sym_ratio.alias("symbol_word_ratio"),
        alpha_ratio.alias("alpha_word_ratio"),
        stop_hits.cast("long").alias("n_stop_hits"),
        F.coalesce(keep, F.lit(False)).cast("int").alias("keep"))))
    out = ["n_words", "mean_word_len", "symbol_word_ratio",
           "alpha_word_ratio", "n_stop_hits", "keep"]
    return (staged.select("*", packed.alias("__r"))
            .withColumns({c: F.col(f"__r.{c}") for c in out})
            .drop("__gt", "__r"))


def gopher_repetition_filter(
        df: DataFrame, text_col: str = "text",
        max_dup_line_frac: float = 0.30,
        max_dup_ngram_frac: tuple[float, ...] = (0.20, 0.18, 0.16),
) -> DataFrame:
    """Gopher's REPETITION rules (Rae et al. 2021 A1.1, the
    within-document repetition table): drop a document whose content
    is mostly self-copies — duplicate-line fraction over
    ``max_dup_line_frac``, or duplicate word-n-gram fraction over the
    per-order thresholds (``max_dup_ngram_frac[i]`` bounds the
    (i+2)-gram order; Gopher's 0.20/0.18/0.16 for n = 2/3/4).  The
    n-gram fraction here is count-weighted (1 - distinct/total), the
    token-count proxy of Gopher's character-fraction — same monotone
    signal, exactly mirrorable in SQL.  The third sibling of
    ``c4_rule_filter`` (line rules) and ``gopher_quality_filter``
    (doc-shape rules): together the full rule suite.

    Returns every input row plus the fractions (6dp) and an integer
    ``keep`` flag — the filter-audit shape.  Docs with fewer than n
    tokens score 0 for that order (nothing to repeat).

    Scale shape: ONE map-only projection, no explode, no shuffle, no
    aggregation.  Distinct n-grams count over ROLLED DIGESTS of a
    once-materialized token-hash array (the ``repetition_stats``
    pattern: one md5 per token, pure arithmetic per gram order —
    building the gram STRINGS instead measured ~4x slower at 30x
    data); per-doc digest collisions (~n²/2^32) are identical in the
    oracle.  Runs at scan speed over 100 TB and append-legal on a
    live stream."""
    from .dedup import shingle_hashes, token_hash_array
    lines = F.split(F.col(text_col), "\n")
    nl = F.size(lines)
    dup_line = F.when(
        nl > 0,
        F.round(F.lit(1.0) - F.size(F.array_distinct(lines))
                .cast("double") / nl.cast("double"), 6)).otherwise(0.0)
    hs = F.col("__hs")
    nt = F.size(hs)
    out_cols: dict[str, Column] = {"dup_line_frac": dup_line}
    keep = dup_line <= max_dup_line_frac
    for i, thr in enumerate(max_dup_ngram_frac):
        n = i + 2
        frac = F.when(
            nt >= n,
            F.round(F.lit(1.0) - F.size(shingle_hashes(hs, n))
                    .cast("double") / (nt - (n - 1)).cast("double"), 6)
        ).otherwise(0.0)
        out_cols[f"dup_{n}gram_frac"] = frac
        keep = keep & (frac <= thr)
    out_cols["keep"] = keep.cast("int")
    return (df.withColumn("__hs", token_hash_array(F.col(text_col)))
            .withColumns(out_cols).drop("__hs"))


def redact(df: DataFrame, text_col: str = "text",
           rules=DEFAULT_REDACTIONS, out: str = "clean_text") -> DataFrame:
    """PII-style redaction for training corpora: a chain of columnar
    ``regexp_replace`` calls (whole-stage codegen, no UDF — a map-only
    stage at any scale).  Returns the input plus ``out`` and a
    ``n_redactions`` count (difference of match counts per rule)."""
    col = F.col(text_col)
    n = F.lit(0)
    for _, pat, rep in rules:
        n = n + F.size(F.regexp_extract_all(col, F.lit(pat), F.lit(0)))
        col = F.regexp_replace(col, pat, rep)
    return df.withColumn(out, col).withColumn("n_redactions", n)


#: C4-style boilerplate marker phrases: a line containing one is never
#: natural prose worth training on (Raffel et al. 2020 §2.2's list,
#: plus '{' as the code/markup tell).
C4_MARKERS: tuple[str, ...] = ("javascript", "lorem ipsum",
                               "cookie policy", "privacy policy",
                               "terms of use", "{")


def c4_rule_filter(df: DataFrame, text_col: str = "text",
                   min_line_words: int = 3,
                   markers: tuple[str, ...] = C4_MARKERS,
                   max_bullet_ratio: float = 0.9,
                   max_ellipsis_ratio: float = 0.3,
                   min_kept_lines: int = 1) -> DataFrame:
    """C4/Gopher rule-based cleaning (Raffel et al. 2020 §2.2; Rae et
    al. 2021 Gopher A1.1): LINE-level rules — keep a line only if it
    ends in terminal punctuation, has >= ``min_line_words`` words, and
    contains no boilerplate ``markers`` phrase — plus DOC-level rules —
    drop a document whose lines are mostly bullets
    (> ``max_bullet_ratio``) or mostly ellipsis-terminated
    (> ``max_ellipsis_ratio``), or that keeps fewer than
    ``min_kept_lines`` lines.

    Returns every input row plus ``clean_text`` (the surviving lines),
    line counts, the two ratios (6dp for cross-engine float parity) and
    an integer ``keep`` flag — the caller filters, so the rejected rows
    stay inspectable (the filter-audit shape every production cleaning
    stage needs).

    Scale shape: ONE map-only projection of pure codegen array/regex
    expressions — no UDF, no shuffle, no aggregation; runs at scan
    speed over 100 TB and unchanged on a live stream (no state)."""
    lines = F.split(F.col(text_col), "\n")

    def words(x: Column) -> Column:
        return F.size(F.filter(F.split(x, " "), lambda w: w != ""))

    def line_ok(x: Column) -> Column:
        ok = x.rlike('[.!?"\']$') & (words(x) >= min_line_words)
        low = F.lower(x)
        for m in markers:
            ok = ok & ~low.contains(m.lower())
        return ok

    kept = F.filter(lines, line_ok)
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(lines, lambda x: x.rlike("^\\s*[-*•]")))
    n_ell = F.size(F.filter(lines, lambda x: x.rlike("\\.\\.\\.$")))
    return df.withColumns({
        "clean_text": F.array_join(kept, "\n"),
        "n_lines": n_lines.cast("long"),
        "n_kept_lines": F.size(kept).cast("long"),
        "bullet_ratio": F.round(n_bullet.cast("double") / n_lines, 6),
        "ellipsis_ratio": F.round(n_ell.cast("double") / n_lines, 6),
        "keep": ((F.size(kept) >= min_kept_lines)
                 & (n_bullet <= F.lit(max_bullet_ratio) * n_lines)
                 & (n_ell <= F.lit(max_ellipsis_ratio) * n_lines))
        .cast("int"),
    })


def char_grams(col: Column, n: int = 3) -> Column:
    """Overlapping character ``n``-grams of a string column as an array
    — the fastText/CCNet feature family for language ID.  Pure codegen
    (``transform`` over a position ``sequence`` + ``substring``); texts
    shorter than ``n`` chars yield an empty array (``sequence`` with an
    inverted range would silently count DOWN, so the short case is
    guarded explicitly)."""
    g = F.transform(F.sequence(F.lit(1), F.length(col) - (n - 1)),
                    lambda i: F.substring(col, i, F.lit(n)))
    return F.when(F.length(col) >= n, g).otherwise(
        F.array().cast("array<string>"))


def _double_array_lit(values) -> Column:
    """A large array<double> literal, built cheaply: one string literal
    over py4j + a JVM-side split/cast that Catalyst constant-folds back
    to the identical array.  ``F.lit(list)`` converts element-by-element
    over py4j (~0.7ms/element: 2.9s for a 4096-float array, measured),
    which dominated rowwise-gate plan builds.  repr() is the shortest
    round-trip form and Double.parseDouble is correctly rounded, so the
    decoded doubles are bit-identical."""
    packed = ",".join(repr(float(v)) for v in values)
    return F.split(F.lit(packed), ",").cast("array<double>")


def quality_classifier_apply_rowwise(df: DataFrame, model: DataFrame,
                                     n_buckets: int = 1024,
                                     threshold: float = 0.0,
                                     text_col: str = "text") -> DataFrame:
    """STATELESS serving form of ``quality_classifier_apply``: the
    <= ``n_buckets``+2-row model collects once driver-side into a
    LITERAL weight array indexed by bucket (constant-folded to one
    array object; O(1) lookups), and scoring becomes a pure codegen
    fold over the row's own tokens — no join, no groupBy, no state.

    Why it exists: the join+mean form is a streaming AGGREGATION
    (complete output mode — memory-sink only), so it cannot sit inside
    an append-mode chain ending in a checkpointed file sink.  This form
    is map-only and append-legal anywhere — the shape a production
    crawl gate wants — at the price of scores that can differ from the
    join form in the last ulp before rounding (array-order vs
    shuffle-order float summation; parity-tested to 1e-6).  Zero-token
    docs score NULL here instead of dropping (a map stage cannot drop
    its row) — a ``pred == 1`` gate treats both the same."""
    rows = {r["bucket"]: r["w"] for r in fitted_rows(model)}
    if -1 not in rows or -2 not in rows:
        raise ValueError(
            "model table lacks the reserved bias (-1) / unseen (-2) "
            "rows — was it written by quality_classifier_fit?")
    bias, unseen = rows.pop(-1), rows.pop(-2)
    weights = _double_array_lit(rows.get(i, unseen)
                                for i in range(n_buckets))
    toks = tokens(F.col(text_col))
    per = F.transform(toks, lambda t: F.element_at(
        weights, (h64(t) % n_buckets + 1).cast("int")))
    score = F.round(
        F.try_divide(F.aggregate(per, F.lit(0.0), lambda a, x: a + x),
                     F.size(toks)) + F.lit(bias), 6)
    # GENERATE BARRIER (r9): emit through explode(array(struct)) so a
    # downstream gate filter (pred == 1) cannot push below the
    # projection — alias substitution would re-expand the whole
    # token-fold inside the filter (the 80x trap measured on the lang
    # gate; see lang_id_apply_rowwise)
    packed = F.explode(F.array(F.struct(score.alias("score"))))
    return (df.select("*", packed.alias("__r"))
            .withColumn("score", F.col("__r.score"))
            .withColumn("pred", (F.col("score") > threshold).cast("int"))
            .drop("__r"))


def lang_id_fit(labeled: DataFrame, label_col: str = "lang",
                text_col: str = "text", id_col: str = "doc_id",
                n: int = 3, n_buckets: int = 4096,
                alpha: float = 1.0, hash_fn=None) -> DataFrame:
    """Fit a CCNet-style hashed char-n-gram multi-class naive-Bayes
    language classifier (the model-based rung above the marker-word
    heuristic ``lang_id``; fastText-family features, closed-form
    multinomial-NB weights).  Char ``n``-grams hash into ``n_buckets``
    buckets; for each language ``l`` a bucket's weight is the smoothed
    log gram-likelihood

        w(b, l) = ln((c(b, l) + alpha) / (T_l + alpha * n_buckets)).

    Returns ONE long-format model table ``(bucket, lang, w)`` — the
    snapshot artifact — over the COMPLETE (observed bucket x language)
    grid (so apply-side joins never fabricate a missing language row),
    plus two reserved bucket ids per language: bucket -1 = the class
    prior ``ln((N_l + alpha) / (N + alpha * L))`` and bucket -2 = the
    unseen-bucket likelihood (pure smoothing mass) for grams a later
    crawl hashes into buckets train never saw.

    The closed-form count fit keeps BOTH fit and apply plain
    distributed aggregations (one gram-count pass, map-side combinable)
    with an exact SQL oracle — no gradient loop, no driver-held dense
    vector.  Scale: the model is at most ``n_buckets * L + 2L`` rows
    regardless of corpus size, and the gram pass is map-side
    (`_spread` for small-file parallelism).  ``hash_fn`` swaps the gram
    digest (production: ``F.xxhash64`` — measured 1.7x faster than the
    md5 oracle-parity default on the gram stage; fit and apply MUST use
    the same function)."""
    from .dedup import _spread
    hf = hash_fn or h64
    g = (_spread(labeled.select(F.col(id_col), F.col(text_col),
                                F.col(label_col).alias("__l")))
         .select("__l", F.explode(char_grams(F.col(text_col), n))
                 .alias("__g")))
    cnt = (g.select(F.pmod(hf(F.col("__g")), F.lit(n_buckets))
                    .alias("bucket"), "__l")
           .groupBy("bucket", "__l").agg(F.count("*").alias("__c")))
    tot = cnt.groupBy("__l").agg(F.sum("__c").alias("__t"))
    aB = alpha * n_buckets
    grid = (cnt.select("bucket").distinct()
            .crossJoin(F.broadcast(tot))
            .join(cnt, ["bucket", "__l"], "left")
            .select("bucket", "__l", "__t",
                    F.coalesce(F.col("__c"), F.lit(0)).alias("__c")))
    w = grid.select("bucket", F.col("__l").alias("lang"),
                    (F.log((F.col("__c") + alpha) / (F.col("__t") + aB)))
                    .alias("w"))
    unseen = tot.select(F.lit(-2).cast("long").alias("bucket"),
                        F.col("__l").alias("lang"),
                        F.log(F.lit(alpha) / (F.col("__t") + aB)).alias("w"))
    nd = (labeled.groupBy(F.col(label_col).alias("__l"))
          .agg(F.count("*").alias("__n")))
    ntot = nd.agg(F.sum("__n").alias("__ntot"),
                  F.count("*").alias("__nlang"))
    prior = (nd.crossJoin(F.broadcast(ntot))
             .select(F.lit(-1).cast("long").alias("bucket"),
                     F.col("__l").alias("lang"),
                     F.log((F.col("__n") + alpha)
                           / (F.col("__ntot") + alpha * F.col("__nlang")))
                     .alias("w")))
    return w.unionByName(unseen).unionByName(prior)


def lang_id_apply(df: DataFrame, model: DataFrame, n: int = 3,
                  n_buckets: int = 4096, text_col: str = "text",
                  id_col: str = "doc_id", out: str = "pred_lang",
                  hash_fn=None) -> DataFrame:
    """Classify documents under a FITTED language model (see
    ``lang_id_fit``): per document and language, score = mean bucket
    log-likelihood + class prior (the per-gram normalization keeps
    scores length-comparable; argmax is unaffected because every
    language shares the document's gram count); prediction = argmax
    with lexicographic tie-break (deterministic, same convention as the
    heuristic ``lang_id``).  Scores round to 6dp for cross-engine float
    parity — the argmax compares the ROUNDED scores so both engines
    break the same ties the same way.  Docs with zero grams (shorter
    than ``n`` chars) drop — the no-feature-rows contract shared with
    ``quality_classifier_apply``.

    Works unchanged on a LIVE stream: the model pivots to one row per
    bucket batch-side (at most ``n_buckets`` rows) and attaches via a
    broadcast stream-static join; priors and unseen weights are the 2L
    scalar rows, read once driver-side.  No UDF anywhere; zero corpus
    passes at serve time."""
    # ONE collect of the <= (B+2)*L-row model: three lazy reads (two
    # scalar filters + a pivot) would re-run the whole fit DAG three
    # times when the model is an unmaterialized expression
    rows = fitted_rows(model)
    pr = {r["lang"]: r["w"] for r in rows if r["bucket"] == -1}
    un = {r["lang"]: r["w"] for r in rows if r["bucket"] == -2}
    if not pr or set(pr) != set(un):
        raise ValueError(
            "model table lacks matched prior (-1) / unseen (-2) rows "
            "per language — was it written by lang_id_fit?")
    langs = sorted(pr)
    by_bucket: dict = {}
    for r in rows:
        if r["bucket"] >= 0:
            by_bucket.setdefault(r["bucket"], {})[r["lang"]] = r["w"]
    wide = local_frame(
        model.sparkSession,
        [(b, *[ws.get(l) for l in langs])
         for b, ws in sorted(by_bucket.items())],
        "bucket long, " + ", ".join(f"`{l}` double" for l in langs))
    from .dedup import _spread
    hf = hash_fn or h64
    tok = (_spread(df.select(F.col(id_col), F.col(text_col)))
           .select(id_col, F.explode(char_grams(F.col(text_col), n))
                   .alias("__g"))
           .select(id_col, F.pmod(hf(F.col("__g")), F.lit(n_buckets))
                   .alias("bucket")))
    scored = (tok.join(F.broadcast(wide), "bucket", "left")
              .groupBy(id_col)
              .agg(*[F.round(F.avg(F.coalesce(F.col(f"`{l}`"),
                                              F.lit(un[l])))
                             + F.lit(pr[l]), 6).alias(f"__s{i}")
                     for i, l in enumerate(langs)]))
    best = F.array_max(F.array(*[
        F.struct(F.col(f"__s{i}").alias("score"),
                 # invert ordering so max picks the smaller lang on ties
                 F.lit(-i).alias("ord"),
                 F.lit(l).alias("lang"))
        for i, l in enumerate(langs)]))
    return scored.select(F.col(id_col),
                         best.getField("lang").alias(out),
                         best.getField("score").alias("score"))


def lang_id_apply_rowwise(df: DataFrame, model: DataFrame, n: int = 3,
                          n_buckets: int = 4096, text_col: str = "text",
                          out: str = "pred_lang",
                          hash_fn=None) -> DataFrame:
    """STATELESS serving form of ``lang_id_apply``: the <= (B+2)*L-row
    model collects once driver-side into L LITERAL per-language weight
    arrays indexed by bucket (constant-folded; O(1) lookups), and
    scoring becomes pure codegen — the row's own char-gram buckets are
    staged ONCE as a bound column (the Catalyst lambda-inlining trap:
    referenced unbound inside L fold lambdas, the gram hash would
    re-run once per language), then each language's score is one
    ``aggregate`` fold over that column, argmax in codegen.

    Why it exists (the r8 gap): ``lang_id_apply`` aggregates per doc,
    a streaming AGGREGATION (complete output mode — memory-sink only),
    so the language gate could not sit in an append-mode chain ending
    in a checkpointed file sink.  This form is map-only and
    append-legal anywhere — the capstone crawl-gate shape — at the
    price of scores that can differ from the join form in the last ulp
    before rounding (array-order vs shuffle-order float summation;
    parity-tested to 1e-6).  Zero-gram docs (shorter than ``n`` chars)
    get NULL ``out``/``score`` here instead of dropping (a map stage
    cannot drop its row) — a lang-equality gate treats both the same.
    ``hash_fn`` must match the fit (production: ``F.xxhash64``)."""
    rows = fitted_rows(model)
    pr = {r["lang"]: r["w"] for r in rows if r["bucket"] == -1}
    un = {r["lang"]: r["w"] for r in rows if r["bucket"] == -2}
    if not pr or set(pr) != set(un):
        raise ValueError(
            "model table lacks matched prior (-1) / unseen (-2) rows "
            "per language — was it written by lang_id_fit?")
    langs = sorted(pr)
    by_lang: dict = {l: {} for l in langs}
    for r in rows:
        if r["bucket"] >= 0:
            by_lang[r["lang"]][r["bucket"]] = r["w"]
    hf = hash_fn or h64
    staged = (df.withColumn("__cg", char_grams(F.col(text_col), n))
              .withColumn("__cb", F.transform(
                  F.col("__cg"),
                  lambda g: (F.pmod(hf(g), F.lit(n_buckets)) + 1)
                  .cast("int"))))
    snames = [f"__s{i}" for i in range(len(langs))]
    scores = {}
    for i, l in enumerate(langs):
        # F.lit(list) converted element-by-element over py4j (~2.9s per
        # 4096-float array -> 10.4s of DRIVER time per plan build at
        # L=3); the packed-string literal builds in ~9ms (bit-identical
        # after constant folding — see _double_array_lit)
        w = _double_array_lit(by_lang[l].get(b, un[l])
                              for b in range(n_buckets))
        scores[snames[i]] = F.round(
            F.try_divide(
                F.aggregate(F.col("__cb"), F.lit(0.0),
                            lambda a, b: a + F.element_at(w, b)),
                F.size("__cb")) + F.lit(pr[l]), 6)
    scored = staged.withColumns(scores)
    best = F.array_max(F.array(*[
        F.struct(F.col(snames[i]).alias("score"),
                 # invert ordering so max picks the smaller lang on
                 # ties — same convention as lang_id_apply
                 F.lit(-i).alias("ord"),
                 F.lit(l).alias("lang"))
        for i, l in enumerate(langs)]))
    valid = F.size("__cb") > 0
    # GENERATE BARRIER: emit the result through explode(array(struct))
    # so a downstream filter on the computed columns (the gate shape:
    # pred_lang == 'en') CANNOT push below the projection — predicate
    # pushdown substitutes the alias, re-expanding the entire scoring
    # expression (grams + hashes + L folds) inside the filter AND
    # defeating the staging (measured 80x on a streamed gate: 56s vs
    # 0.7s per micro-batch).  Filters stop at a Generate.
    packed = F.explode(F.array(F.struct(
        F.when(valid, best.getField("lang")).alias("lang"),
        F.when(valid, best.getField("score")).alias("score"))))
    return (scored
            .select("*", packed.alias("__r"))
            .withColumn(out, F.col("__r.lang"))
            .withColumn("score", F.col("__r.score"))
            .drop("__cg", "__cb", "__r", *snames))


def quality_classifier_fit(labeled: DataFrame, label_col: str = "label",
                           text_col: str = "text", id_col: str = "doc_id",
                           n_buckets: int = 1024,
                           alpha: float = 1.0) -> DataFrame:
    """Fit a hashed-feature linear quality classifier (fastText-style
    bag-of-buckets; weights are the multinomial-NB log-count ratios of
    NBSVM) — the model-based rung of the quality ladder above the
    heuristic score and the bigram LM.  ``labeled`` carries a 0/1
    ``label_col``; tokens hash into ``n_buckets`` buckets and each
    bucket's weight is

        ln((c_pos + alpha) / (T_pos + alpha*B))
      - ln((c_neg + alpha) / (T_neg + alpha*B))

    Returns ONE model table ``(bucket, w)`` — the snapshot artifact —
    with two reserved rows: bucket -1 = the class-prior bias
    ``ln((N_pos+alpha)/(N_neg+alpha))`` and bucket -2 = the
    unseen-bucket weight (pure smoothing mass), so a later crawl's
    out-of-vocabulary tokens score honestly.

    The closed-form count fit is what makes BOTH fit and apply plain
    distributed aggregations (one token-count pass, map-side
    combinable) with an exact SQL oracle — no gradient loop, no
    driver-held dense vector.  Scale: the count table is at most
    ``n_buckets`` rows regardless of corpus size."""
    from .dedup import _spread
    y = F.col(label_col).cast("int")
    b = (_spread(labeled.select(F.col(id_col), F.col(text_col),
                                y.alias("__y")))
         .select("__y", F.explode(tokens(F.col(text_col))).alias("__tk")))
    cnt = (b.select((h64(F.col("__tk")) % n_buckets).alias("bucket"), "__y")
           .groupBy("bucket")
           .agg(F.sum("__y").alias("__cp"),
                F.sum(1 - F.col("__y")).alias("__cn")))
    tot = cnt.agg(F.sum("__cp").alias("__tp"), F.sum("__cn").alias("__tn"))
    aB = alpha * n_buckets
    w = (cnt.crossJoin(F.broadcast(tot))
         .select("bucket",
                 (F.log((F.col("__cp") + alpha) / (F.col("__tp") + aB))
                  - F.log((F.col("__cn") + alpha) / (F.col("__tn") + aB)))
                 .alias("w")))
    unseen = tot.select(
        F.lit(-2).cast("long").alias("bucket"),
        (F.log(F.lit(alpha) / (F.col("__tp") + aB))
         - F.log(F.lit(alpha) / (F.col("__tn") + aB))).alias("w"))
    prior = (labeled.agg(F.sum(y).alias("__p"), F.sum(1 - y).alias("__n"))
             .select(F.lit(-1).cast("long").alias("bucket"),
                     F.log((F.col("__p") + alpha) / (F.col("__n") + alpha))
                     .alias("w")))
    return w.unionByName(unseen).unionByName(prior)


def quality_classifier_apply(df: DataFrame, model: DataFrame,
                             n_buckets: int = 1024,
                             threshold: float = 0.0,
                             text_col: str = "text",
                             id_col: str = "doc_id") -> DataFrame:
    """Score documents under a FITTED quality classifier (see
    ``quality_classifier_fit``): per-doc mean bucket weight plus the
    class-prior bias, rounded to 6dp for cross-engine float parity;
    ``pred`` = score > ``threshold``.  Docs with zero tokens drop (no
    feature rows — same contract as ``bigram_lm_apply``).

    Works unchanged on a LIVE stream: the bucket-weight attach is a
    broadcast stream-static join (the model is at most n_buckets+2
    rows) and the two scalar rows (bias, unseen weight) are read once
    driver-side — a model-sized collect, the same trade the streaming
    LM apply makes because a streaming plan cannot cross-join.  Zero
    corpus passes at serve time."""
    scal = {r["bucket"]: r["w"]
            for r in fitted_rows(model.filter(F.col("bucket") < 0))}
    if -1 not in scal or -2 not in scal:
        raise ValueError(
            "model table lacks the reserved bias (-1) / unseen (-2) "
            "rows — was it written by quality_classifier_fit?")
    weights = model.filter(F.col("bucket") >= 0)
    # no _spread here: the token load (~1 hash per word) is light
    # enough that the repartition shuffle costs more than single-file
    # serialization does (A/B-measured 0.39s vs 0.70s at sf0.1); the
    # gram-per-CHARACTER paths (lang_id_apply, _feat_buckets) do spread
    tok = (df.select(F.col(id_col), F.col(text_col))
           .select(id_col,
                   F.explode(tokens(F.col(text_col))).alias("__tk"))
           .select(id_col, (h64(F.col("__tk")) % n_buckets).alias("bucket")))
    return (tok.join(F.broadcast(weights), "bucket", "left")
            .groupBy(id_col)
            .agg(F.round(F.avg(F.coalesce(F.col("w"), F.lit(scal[-2])))
                         + F.lit(scal[-1]), 6).alias("score"),
                 F.count("*").cast("long").alias("n_tokens"))
            .withColumn("pred", (F.col("score") > threshold).cast("int")))


def classifier_pr_curve(scored: DataFrame, label_col: str = "label",
                        score_col: str = "score",
                        thresholds=(-1.0, -0.5, 0.0, 0.5, 1.0)) -> DataFrame:
    """Threshold sweep for ANY scored + labeled frame — the
    calibration table a pipeline publishes before wiring a score into
    a keep-gate (choosing the cut by eyeballing one operating point is
    how quality filters silently eat half a corpus): one row per
    threshold with the confusion counts and
    ``precision = tp/(tp+fp)``, ``recall = tp/(tp+fn)``,
    ``f1 = 2*tp/(2*tp+fp+fn)`` (the integer-derived closed form — no
    compounded rounding), all 6dp-rounded for cross-engine parity;
    zero denominators yield NULL, never a silent 0 or 1.  Rows with a
    NULL score or label are excluded (they have no side of the
    confusion matrix to land on).

    Scale shape: ONE map-side-combinable aggregate pass computes all
    4 x |thresholds| conditional sums (prediction = score >= t); the
    1-row result reshapes to |thresholds| rows via a posexploded
    struct array — the corpus is scanned once regardless of how many
    thresholds are swept."""
    ts = [float(t) for t in thresholds]
    if not ts:
        raise ValueError("need at least one threshold")
    if len(set(ts)) != len(ts):
        raise ValueError(f"duplicate thresholds: {thresholds}")
    base = scored.filter(F.col(score_col).isNotNull()
                         & F.col(label_col).isNotNull())
    y = F.col(label_col).cast("int") == 1
    aggs = []
    for i, t in enumerate(ts):
        p = F.col(score_col) >= F.lit(t)
        aggs += [
            F.coalesce(F.sum((p & y).cast("long")), F.lit(0))
             .alias(f"__tp{i}"),
            F.coalesce(F.sum((p & ~y).cast("long")), F.lit(0))
             .alias(f"__fp{i}"),
            F.coalesce(F.sum(((~p) & y).cast("long")), F.lit(0))
             .alias(f"__fn{i}"),
            F.coalesce(F.sum(((~p) & ~y).cast("long")), F.lit(0))
             .alias(f"__tn{i}")]
    row = base.agg(*aggs)
    cells = F.array(*[
        F.struct(F.lit(t).alias("threshold"),
                 F.col(f"__tp{i}").alias("tp"),
                 F.col(f"__fp{i}").alias("fp"),
                 F.col(f"__fn{i}").alias("fn"),
                 F.col(f"__tn{i}").alias("tn"))
        for i, t in enumerate(ts)])
    out = (row.select(F.explode(cells).alias("c")).select("c.*"))
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    prec = F.when(tp + fp > 0, F.round(tp / (tp + fp), 6))
    rec = F.when(tp + fn > 0, F.round(tp / (tp + fn), 6))
    f1 = F.when(2 * tp + fp + fn > 0,
                F.round(2 * tp / (2 * tp + fp + fn), 6))
    return (out.withColumn("precision", prec)
            .withColumn("recall", rec)
            .withColumn("f1", f1)
            .orderBy("threshold"))
