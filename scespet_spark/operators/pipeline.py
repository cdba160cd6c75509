"""Training-data pipeline operators: decontamination, sequence packing,
deterministic shuffle, embedding quantization.

These are the corpus-preparation steps between "deduped documents" and
"training batches".  Scale shapes:

* ``decontaminate`` — the eval/benchmark side of the overlap join is
  tiny (benchmarks are MBs); its distinct n-gram set broadcasts, so the
  100TB train side is ONE map-side semi-join pass, never shuffled.
* ``pack_sequences`` — concat-and-chunk packing needs a global prefix
  sum of token counts; computed with the same two-phase bucketed
  decomposition as ``Stream.scan(buckets=...)`` — no single-partition
  window over the corpus.
* ``shuffle_deterministic`` — training-order randomization via a seeded
  content hash: shard = hash mod N + sort-within-shard, which writes
  shuffled shards with NO global sort barrier and is bit-reproducible
  across runs (same seed -> same order).
* ``quantize_embeddings`` — per-vector affine int8 quantization as pure
  array expressions (codegen, no UDF); ``floor(x + 0.5)`` rounding is
  explicit so every engine agrees on halfway points.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from ._driver import local_frame
from ._staging import stage as _stage
from pyspark.sql.functions import pandas_udf

from .hashing import h64
from .text import tokens


def decontaminate(train: DataFrame, eval_df: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  shingle_n: int = 3) -> DataFrame:
    """Train/eval contamination detection: flag training docs sharing at
    least one word ``shingle_n``-gram with the evaluation set; returns
    ``(id_col, n_hit_ngrams)`` for contaminated docs.

    The join key is the 60-bit shingle digest (one md5 per token, rolled
    arithmetically — see ``dedup.shingle_hashes``): the broadcast eval
    set is a set of ints, not strings, and the corpus side never builds
    a shingle string at all."""
    from .dedup import _spread, shingle_hashes, token_hash_array
    grams = lambda d, *keep: (  # noqa: E731
        d.select(*keep, token_hash_array(F.col(text_col)).alias("__hs"))
         .select(*keep,
                 F.explode(shingle_hashes(F.col("__hs"), shingle_n)).alias("__g")))
    ev = grams(eval_df).distinct()
    tr = grams(_spread(train), F.col(id_col))
    # broadcast-join FIRST (a map-side filter: only contaminated grams
    # survive), dedup the tiny matched remainder — the corpus's raw
    # shingle strings are never shuffled
    return (tr.join(F.broadcast(ev), "__g")
            .dropDuplicates([id_col, "__g"])
            .groupBy(id_col)
            .agg(F.count("*").alias("n_hit_ngrams")))


def contamination_fraction(train: DataFrame, eval_df: DataFrame,
                           id_col: str = "doc_id", text_col: str = "text",
                           shingle_n: int = 3) -> DataFrame:
    """Graded contamination: per-doc FRACTION of distinct word
    ``shingle_n``-grams shared with the evaluation set (the overlap
    metric GPT-3/PaLM-style contamination reports use), for every
    training doc — 0.0 when clean.  Returns
    ``(id_col, n_ngrams, n_hit, frac_contaminated)``; thresholding
    beats ``decontaminate``'s any-hit flag when benchmarks share
    common phrases with genuinely clean text.

    Same scale shape as ``decontaminate``: the eval side collapses to
    a broadcast digest set (benchmark-sized ints) and the corpus makes
    one map-side pass — its per-doc distinct-gram count and hit count
    ride the same aggregate, so the corpus text never shuffles."""
    from .dedup import _spread, shingle_hashes, token_hash_array
    ev = (eval_df.select(token_hash_array(F.col(text_col)).alias("__hs"))
          .select(F.explode(shingle_hashes(F.col("__hs"),
                                           shingle_n)).alias("__g"))
          .distinct())
    tr = (_spread(train)
          .select(F.col(id_col),
                  token_hash_array(F.col(text_col)).alias("__hs"))
          .select(id_col,
                  F.explode(shingle_hashes(F.col("__hs"),
                                           shingle_n)).alias("__g")))
    hit = (tr.join(F.broadcast(ev.select(F.col("__g").alias("__g"),
                                         F.lit(1).alias("__hit"))),
                   "__g", "left")
           .groupBy(id_col)
           .agg(F.count("*").alias("n_ngrams"),
                F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                 .cast("long").alias("n_hit")))
    return hit.withColumn(
        "frac_contaminated",
        F.round(F.col("n_hit").cast("double") / F.col("n_ngrams"), 6))


def pack_sequences(df: DataFrame, budget: int, id_col: str = "doc_id",
                   text_col: str = "text",
                   bucket_size: int = 4096) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are laid out in
    ``id_col`` order into one token tape cut into fixed ``budget``-token
    training sequences (documents may span a cut, as in standard LLM
    pre-training packing).  Returns per document: ``n_tokens``,
    ``start_tok`` (position on the tape), ``seq_first``/``seq_last``
    (the sequence ids it lands in) and ``off_in_seq``.

    The global prefix sum uses the two-phase bucketed scan (buckets of
    ``bucket_size`` ids): per-bucket running sums in parallel + a tiny
    prefix over bucket totals — no single-partition window."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    from ..core.stream import Stream
    # NULL text counts 0 tokens (the token_budget convention) — a NULL
    # size would otherwise poison the prefix sums / crash the packer
    base = df.select(F.col(id_col),
                     F.coalesce(F.size(tokens(F.col(text_col))),
                                F.lit(0)).alias("n_tokens"))
    s = Stream(base, t=id_col, seq=id_col)
    run = s.scan(buckets=(F.col(id_col) / F.lit(bucket_size)).cast("long"),
                 cum=F.sum("n_tokens"))
    start = F.col("cum") - F.col("n_tokens")
    return (run.df
            .withColumn("start_tok", start)
            .withColumn("seq_first", F.expr(f"start_tok div {budget}"))
            .withColumn("seq_last",
                        F.when(F.col("n_tokens") > 0,
                               F.expr(f"(cum - 1) div {budget}"))
                        .otherwise(F.expr(f"start_tok div {budget}")))
            .withColumn("off_in_seq", F.col("start_tok") % budget)
            .drop("cum"))


def _feat_buckets(df: DataFrame, text_col: str, n_buckets: int,
                  keep: tuple = (), hash_fn=None) -> DataFrame:
    """Exploded hashed unigram+bigram feature buckets (the DSIR paper's
    feature space): one row per feature, ``(*keep, bucket)``.

    The token array is STAGED as a bound column before the bigram
    lambda touches it — Catalyst inlines a derived array expression
    referenced inside a lambda once PER ELEMENT (quadratic in document
    length); binding it first keeps the whole thing one linear codegen
    projection."""
    from .dedup import _spread
    hf = hash_fn or h64
    staged = _spread(df.select(*keep, F.col(text_col))).select(
        *keep, tokens(F.col(text_col)).alias("__t"))
    bi = F.when(F.size("__t") >= 2, F.transform(
        F.sequence(F.lit(1), F.size("__t") - 1),
        lambda i: F.concat(F.element_at(F.col("__t"), i), F.lit(" "),
                           F.element_at(F.col("__t"), i + 1)))) \
        .otherwise(F.array().cast("array<string>"))
    feats = staged.select(*keep, F.concat(F.col("__t"), bi).alias("__f"))
    return feats.select(*keep,
                        F.explode(F.transform(
                            F.col("__f"),
                            lambda t: F.pmod(hf(t), F.lit(n_buckets))))
                        .alias("bucket"))


def dsir_model(raw: DataFrame, target: DataFrame,
               text_col: str = "text",
               n_buckets: int = 8192, alpha: float = 1.0,
               hash_fn=None, _raw_feats: DataFrame = None) -> DataFrame:
    """Fit the DSIR log-ratio table (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): per hashed
    unigram+bigram bucket, ``ln(p_target(b) / p_raw(b))`` with
    add-``alpha`` smoothing on both distributions.  Returns ONE
    ``(bucket, w)`` table — the snapshot artifact — over every bucket
    either corpus observed, plus reserved bucket -2 carrying the
    unseen-bucket ratio (pure smoothing mass on both sides).

    Both fits are map-side-combinable bucket-count passes (the target
    side is domain-sample-sized — tiny; the raw side is one pass over
    the corpus snapshot); the table is at most ``n_buckets`` + 1
    rows.  ``_raw_feats``: a caller-staged exploded feature table for
    the raw side (``dsir_weights`` — the raw corpus is featurized once
    for both the fit and the apply pass); rows are identical to the
    in-house derivation."""
    def counts(feats):
        return {r["bucket"]: int(r["c"]) for r in
                (feats.groupBy("bucket").agg(F.count("*").alias("c"))
                 .collect())}
    import math
    aB = alpha * n_buckets
    # bucket-count tables are <= n_buckets rows — model-sized, so the
    # ratio table is assembled driver-side from ONE pass per corpus
    # (keeping them distributed would recompute each count pass once
    # for the totals and once for the join)
    ct = counts(_feat_buckets(target, text_col, n_buckets,
                              hash_fn=hash_fn))
    cr = counts(_raw_feats if _raw_feats is not None else
                _feat_buckets(raw, text_col, n_buckets, hash_fn=hash_fn))
    tt, tr = sum(ct.values()), sum(cr.values())
    rows = [(b, math.log((ct.get(b, 0) + alpha) / (tt + aB))
             - math.log((cr.get(b, 0) + alpha) / (tr + aB)))
            for b in sorted(set(ct) | set(cr))]
    rows.append((-2, math.log(alpha / (tt + aB))
                 - math.log(alpha / (tr + aB))))
    return local_frame(raw.sparkSession, rows, "bucket long, w double")


def dsir_apply(df: DataFrame, model: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", n_buckets: int = 8192,
               hash_fn=None, _feats: DataFrame = None) -> DataFrame:
    """Score documents under a FITTED DSIR model (see ``dsir_model``):
    ``lw(doc) = sum over features w(bucket)`` — how much more likely
    the doc's features are under the target domain than the raw corpus
    — rounded to 6dp (cross-engine parity).  Returns ``(id_col, lw,
    n_feats)``; zero-feature docs drop (no feature rows — the
    classifier contract).

    Works unchanged on a LIVE crawl stream: the log-ratio table
    attaches via a broadcast stream-static join (at most n_buckets+1
    rows) and the unseen ratio is one scalar row read driver-side —
    zero corpus passes at serve time."""
    un = {r["bucket"]: r["w"]
          for r in model.filter(F.col("bucket") == -2).collect()}
    if -2 not in un:
        raise ValueError("model table lacks the reserved unseen (-2) "
                         "row — was it written by dsir_model?")
    w = model.filter(F.col("bucket") >= 0)
    feats = _feats if _feats is not None else \
        _feat_buckets(df, text_col, n_buckets, keep=(id_col,),
                      hash_fn=hash_fn)
    return (feats.join(F.broadcast(w), "bucket", "left")
            .groupBy(id_col)
            .agg(F.round(F.sum(F.coalesce(F.col("w"), F.lit(un[-2]))), 6)
                 .alias("lw"),
                 F.count("*").cast("long").alias("n_feats")))


def dsir_weights(raw: DataFrame, target: DataFrame,
                 text_col: str = "text", id_col: str = "doc_id",
                 n_buckets: int = 8192, alpha: float = 1.0,
                 hash_fn=None) -> DataFrame:
    """One-shot DSIR importance weights for a batch raw corpus:
    ``dsir_model`` + ``dsir_apply`` (see both).  ``hash_fn`` swaps the
    feature digest (production: ``F.xxhash64``; md5 default is the
    oracle-parity choice — model and apply MUST share it).

    r12 optimization (guide §1.2 — fewer passes): the raw corpus is
    featurized ONCE (`_staging.stage`, the repo-wide corpus-
    materialization-point pattern) and both the fit's raw bucket-count
    pass and the apply's per-doc sum read the staged table, instead of
    two full tokenize+bigram+hash explode passes.  Rows are identical
    (deterministic derivation)."""
    feats = _feat_buckets(raw, text_col, n_buckets, keep=(id_col,),
                          hash_fn=hash_fn)
    if not feats.isStreaming:
        feats = _stage(feats)
    model = dsir_model(raw, target, text_col, n_buckets, alpha, hash_fn,
                       _raw_feats=feats.select("bucket"))
    return dsir_apply(raw, model, text_col, id_col, n_buckets, hash_fn,
                      _feats=feats)


def dsir_sample(raw: DataFrame, target: DataFrame, k: int,
                text_col: str = "text", id_col: str = "doc_id",
                n_buckets: int = 8192, alpha: float = 1.0,
                seed: int = 29, hash_fn=None) -> DataFrame:
    """DSIR importance RESAMPLING: draw ``k`` raw docs via the Gumbel
    top-k trick over the importance weights — ``key = lw + gumbel``
    with the Gumbel noise derived from a hash of the id, so the sample
    is the paper's sampling-without-replacement distribution yet
    reproducible across runs, engines, and partitionings (the same
    determinism contract as ``text.weighted_sample``).  Key rounds to
    6dp with an id tie-break; top-k is a distributed TakeOrdered (k
    rows to the driver, no global sort)."""
    lw = dsir_weights(raw, target, text_col, id_col, n_buckets, alpha,
                      hash_fn)
    _M = 1 << 20
    u = (F.pmod(h64(F.col(id_col).cast("string"), seed=seed),
                F.lit(_M)) + 0.5) / _M
    key = F.round(F.col("lw") - F.log(-F.log(u)), 6)
    return (lw.withColumn("key", key)
            .orderBy(F.col("key").desc(), F.col(id_col))
            .limit(k))


def pack_sequences_bestfit(df: DataFrame, budget: int,
                           id_col: str = "doc_id",
                           text_col: str = "text",
                           group_size: int = 2048) -> DataFrame:
    """First-fit-decreasing (FFD) sequence packing WITHOUT document
    splitting: each document lands whole in exactly one
    ``budget``-token training sequence — the packing used when
    cross-document attention contamination matters more than zero
    padding (vs ``pack_sequences``' concat-and-chunk tape, which wastes
    nothing but splits documents across sequence boundaries).

    Documents partition into deterministic groups of at most
    ``group_size`` ids (``floor(id / group_size)`` — true floor
    division, so negative ids group correctly too; truncating ``div``
    would fold ids -(g-1)..g-1 into one oversized group 0 and overflow
    its local seq_id range into group 1's); within a group, docs
    are FFD-packed (descending ``n_tokens``, id tie-break; place into
    the FIRST open sequence with room, else open a new one).  A doc
    longer than ``budget`` gets a dedicated oversized sequence and
    ``oversize = 1`` (truncation is the caller's policy, not silent).
    Global sequence ids are ``group * group_size + local`` — collision
    free (a group of g docs opens at most g sequences) and reproducible
    across runs, partitionings and engines.

    Returns ``(id_col, n_tokens, seq_id, oversize)``.

    Guarantees (property-tested vs a pure-Python FFD model): no
    sequence exceeds ``budget`` (oversized singletons excepted); FFD's
    classic waste bound holds PER GROUP — at most one non-oversized
    sequence is <= half full, so sequences used <= 2 * ceil(group
    tokens / budget) + 1, and asymptotically FFD <= 11/9 OPT + 6/9.

    Scale shape: token counts are a map-only projection; the Python
    fold runs per GROUP inside ``applyInPandas`` — O(group_size) rows
    and O(group_size^2) worst-case comparisons per group, independent
    of corpus size, with groups packing in parallel across the
    cluster.  Packing quality is per-group (a group boundary can waste
    at most one sequence's tail), the price of making an inherently
    sequential heuristic distribute."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    base = (df.select(F.col(id_col),
                      F.coalesce(F.size(tokens(F.col(text_col))),
                                 F.lit(0)).alias("n_tokens"))
            .withColumn("__grp", F.floor(F.col(id_col) / F.lit(group_size))
                        .cast("long")))

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        grp = int(pdf["__grp"].iloc[0])
        pdf = pdf.sort_values(["n_tokens", id_col],
                              ascending=[False, True])
        rem: list[int] = []           # remaining capacity per open seq
        seq = np.empty(len(pdf), dtype=np.int64)
        over = np.zeros(len(pdf), dtype=np.int32)
        for j, n in enumerate(pdf["n_tokens"].to_numpy()):
            n = int(n)
            if n > budget:
                # dedicated oversized sequence: capacity -1 refuses
                # every later doc (including zero-token docs, which any
                # rem >= 0 would admit)
                rem.append(-1)
                seq[j] = len(rem) - 1
                over[j] = 1
                continue
            for b, r in enumerate(rem):
                if r >= n:
                    rem[b] = r - n
                    seq[j] = b
                    break
            else:
                rem.append(budget - n)
                seq[j] = len(rem) - 1
        pdf = pdf.assign(seq_id=seq + grp * group_size, oversize=over)
        return pdf[[id_col, "n_tokens", "seq_id", "oversize"]]

    return base.groupBy("__grp").applyInPandas(
        _pack, f"{id_col} long, n_tokens long, seq_id long, oversize int")


def gate_funnel(df: DataFrame, stages: list[str],
                stage_col: str = "dropped_by") -> DataFrame:
    """Per-gate drop accounting — the funnel report every production
    cleaning pipeline publishes alongside its output: given a frame
    with a first-failing-stage audit column (``filter_stack``'s
    ``dropped_by``; NULL = survived), return one row per stage IN
    PIPELINE ORDER with ``(stage, n_dropped, survivors_after)``.

    A value in ``stage_col`` outside ``stages`` raises: a silently
    ignored stage would overstate survivors.

    Scale shape: ONE map-side-combinable count aggregate over the
    corpus, whose <= len(stages)+2-row result collects to the driver
    (a handful of ints — the report IS driver-sized); validation and
    the cumulative walk run on those ints, so the corpus is scanned
    exactly once no matter how the result is consumed."""
    if not stages:
        raise ValueError("need at least one stage")
    if len(set(stages)) != len(stages):
        raise ValueError(f"duplicate stage names: {stages}")
    ordmap = F.when(F.col(stage_col).isNull(), F.lit(len(stages)))
    for i, s in enumerate(stages):
        ordmap = ordmap.when(F.col(stage_col) == s, F.lit(i))
    rows = (df.select(ordmap.alias("__ord"))
            .groupBy("__ord").agg(F.count("*").alias("__n")).collect())
    got = {r["__ord"]: int(r["__n"]) for r in rows}
    if None in got:
        raise ValueError(
            f"{stage_col} holds values outside stages={stages} — a "
            f"silently ignored stage would overstate survivors")
    total = sum(got.values())
    out, cum = [], 0
    for i, s in enumerate(stages):
        cum += got.get(i, 0)
        out.append((s, got.get(i, 0), total - cum))
    # order by PIPELINE position, as documented — orderBy("stage")
    # would return gates alphabetically (masked whenever the stage
    # list happens to be alphabetical, as the r10 demo's was)
    return (local_frame(
        df.sparkSession,
        [(i, *r) for i, r in enumerate(out)],
        "__idx long, stage string, n_dropped long, survivors_after long")
        .orderBy("__idx").drop("__idx"))


def shuffle_deterministic(df: DataFrame, seed: str = "42",
                          n_shards: int = 64,
                          id_col: str = "doc_id") -> DataFrame:
    """Reproducible global shuffle for training-order randomization:
    ``sort_key = h64(seed || id)``, ``shard = sort_key mod n_shards``.
    Reading shards in order, each sorted by key, replays one fixed
    pseudo-random permutation — and writing is ``repartition(shard) +
    sortWithinPartitions(sort_key)``, a bounded shuffle with no global
    sort barrier.  Change ``seed`` for a fresh epoch order."""
    key = h64(F.concat(F.lit(f"{seed}_"), F.col(id_col).cast("string")))
    return (df.select(F.col(id_col), key.alias("sort_key"))
            .withColumn("shard", F.pmod(F.col("sort_key"), F.lit(n_shards))))


def quantize_embeddings(df: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        levels: int = 255) -> DataFrame:
    """Per-vector affine quantization to ``levels+1`` integer codes
    (int8 range for levels=255): ``q = floor((x - min) / scale + 0.5)``
    with ``scale = (max - min) / levels``; emits (id, vmin, vmax, q).
    Degenerate constant vectors quantize to all-zero codes.

    The per-element math runs as an Arrow-batched pandas UDF over a 2-D
    ndarray — MEASURED 2x+ faster than the equivalent ``F.transform``
    higher-order lambdas (interpreted per element, 200k x 64 dims:
    3.1s vs 1.4s on 8 cores); min/max stay as codegen'd array built-ins.
    numpy's float64 divide/floor are the same IEEE ops, so the DuckDB
    oracle still matches bit-for-bit."""
    @pandas_udf("array<int>")
    def _quant(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype=object)
        # null / empty vectors quantize to null (the Column-expression
        # degradation), never an np.stack / .min() crash
        lens = v.str.len().fillna(-1).to_numpy()
        out = np.full(len(v), None, dtype=object)
        valid = lens > 0
        if not valid.any():
            return pd.Series(out, dtype=object)
        sub = v.to_numpy()[valid]
        if len(np.unique(lens[valid])) == 1:  # uniform dims: one 2-D pass
            m = np.stack(sub).astype(np.float64)
            if not np.isfinite(m).all():
                raise ValueError(
                    "non-finite embedding values — np.floor(NaN)"
                    ".astype(int32) is platform-defined garbage; filter "
                    "or clamp upstream")
            mn = m.min(axis=1, keepdims=True)
            mx = m.max(axis=1, keepdims=True)
            # guard on the STEP, not the range: a subnormal range (e.g.
            # 5e-324) is nonzero but (rng / levels) underflows to 0.0,
            # which would divide-by-zero; such vectors are constant at
            # any representable code resolution -> all-zero codes
            scale = (mx - mn) / levels
            scale[scale == 0] = 1.0
            qs = list(np.floor((m - mn) / scale + 0.5).astype(np.int32))
        else:  # ragged: per-row fallback
            qs = []
            for a in sub:
                a = np.asarray(a, dtype=np.float64)
                if not np.isfinite(a).all():
                    raise ValueError(
                        "non-finite embedding values — np.floor(NaN)"
                        ".astype(int32) is platform-defined garbage; "
                        "filter or clamp upstream")
                mn, mx = a.min(), a.max()
                step = (mx - mn) / levels
                qs.append(np.zeros(len(a), dtype=np.int32) if step == 0 else
                          np.floor((a - mn) / step + 0.5).astype(np.int32))
        # per-slot assignment: out[valid] = qs would make numpy coerce
        # the equal-length rows into a 2-D array and shape-error
        for j, row in zip(np.flatnonzero(valid), qs):
            out[j] = row
        return pd.Series(out, dtype=object)

    v = F.col(vec_col).cast("array<double>")
    return df.select(F.col(id_col),
                     F.array_min(v).alias("vmin"), F.array_max(v).alias("vmax"),
                     _quant(v).alias("q"))


def global_rank(df: DataFrame, order_cols: list, rank_col: str = "rank",
                num_partitions: int | None = None) -> DataFrame:
    """Exact 1-based global rank under a TOTAL order — distributed,
    with no single-partition window.  ``order_cols`` is a list of
    ordering expressions (e.g. ``[F.col("score").desc(),
    F.col("doc_id").asc()]``) that must define a total order (include
    a unique tiebreak key; ties would make the rank partitioning-
    dependent and the oracle comparison meaningless).

    Scale shape — the classic two-phase rank: (1) range-partition by
    the sort key and sort within partitions (ONE Exchange; Spark's
    range partitioner samples boundaries, AQE balances them), stamp
    each row's ``monotonically_increasing_id`` — partition id in the
    high bits, the row's IN-SORT-ORDER index within its partition in
    the low 33 — and stage-materialize, freezing the
    nondeterministic ids; (2) count each partition (map-combinable to
    a #partitions-row collect), cumulative-sum driver-side, and add
    each partition's offset to its decoded local index — a pure
    map-side projection over the checkpoint, NO second Exchange (the
    naive ``Window.partitionBy(pid)`` alternative re-shuffles the full
    corpus by pid because Spark cannot see the checkpoint's physical
    distribution — measured and rejected).  The driver holds
    #partitions integers, never data.  Per-partition row count must
    stay under 2^33 (~8.6B — sizing ``num_partitions`` for memory
    gets there orders of magnitude first).  This is how a 100 TB
    corpus gets a curriculum position without ``Window.orderBy``
    collapsing it onto one task."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    part = (df.repartitionByRange(n, *order_cols)
            .sortWithinPartitions(*order_cols)
            .withColumn("__mid", F.monotonically_increasing_id())
            )
    part = _stage(part)
    pid = F.shiftright(F.col("__mid"), 33).cast("int")
    local = F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1))
    counts = {r["p"]: r["cnt"]
              for r in part.select(pid.alias("p")).groupBy("p").agg(
                  F.count("*").alias("cnt")).collect()}
    offsets, acc = {}, 0
    for p in sorted(counts):
        offsets[p] = acc
        acc += counts[p]
    pairs = []
    for p, off in offsets.items():
        pairs += [F.lit(p), F.lit(off)]
    off_map = F.create_map(*pairs) if pairs else F.create_map()
    return (part.withColumn(
                rank_col,
                (F.element_at(off_map, pid) + local + 1).cast("long"))
            .drop("__mid"))


def curriculum_order(df: DataFrame, score_col: str,
                     shard_size: int, id_col: str = "doc_id",
                     ascending: bool = False) -> DataFrame:
    """Curriculum data ordering: assign every document a deterministic
    ``(shard, pos)`` training position by sorting the corpus on a
    difficulty/quality score (descending by default — easiest/cleanest
    first; ``ascending=True`` flips the curriculum) with ``id_col`` as
    the unique tiebreak.  ``shard = (rank-1) div shard_size``,
    ``pos = (rank-1) mod shard_size`` — the layout a sharded training
    loader consumes in order.

    Built on ``global_rank`` (two-phase distributed rank — see its
    scale note); writing the result partitioned by ``shard`` and
    sorted by ``pos`` yields ordered training shards with one range
    Exchange total."""
    if shard_size < 1:
        raise ValueError("need shard_size >= 1")
    sc = (F.col(score_col).asc() if ascending else F.col(score_col).desc())
    ranked = global_rank(df, [sc, F.col(id_col).asc()], rank_col="rank")
    r0 = F.col("rank") - 1
    return (ranked.withColumn("shard",
                              F.floor(r0 / shard_size).cast("long"))
            .withColumn("pos", F.pmod(r0, F.lit(shard_size)).cast("long")))


def split_assign(df: DataFrame, fractions: dict[str, float],
                 id_col: str = "doc_id", seed: int = 23) -> DataFrame:
    """Deterministic dataset split assignment (train/val/test): each
    row gets the split whose cumulative hash-bucket range contains
    ``h64(seed, id) mod M`` — reproducible across runs, engines, and
    partitionings (the property ``randomSplit`` lacks: its assignment
    changes with partitioning), and STABLE UNDER CORPUS GROWTH: a doc's
    split never changes when other docs are added or removed, so eval
    sets stay fixed across corpus snapshots and nothing ever leaks from
    a frozen eval split into a later train set.

    ``fractions`` values must sum to <= 1 (insertion order defines the
    bucket ranges); rows past the total get split NULL — drop them or
    treat as holdout.  Pure map-side expression: no shuffle, no UDF."""
    return df.withColumn("split", split_expr(F.col(id_col), fractions,
                                             seed=seed))


def split_expr(id_expr, fractions: dict[str, float],
               seed: int = 23):
    """The split-assignment COLUMN for an id expression — the exact
    expression ``split_assign`` attaches, exposed so consumers that
    already hold ids (e.g. `dedup.split_leakage` pair rows) can derive
    the split map-side instead of joining the (id, split) projection
    back (guide §2.4: the split is metadata computable from the key —
    never shuffle what you can recompute)."""
    total = sum(fractions.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"fractions sum to {total} > 1")
    _M = 1 << 20
    b = F.pmod(h64(id_expr.cast("string"), seed=seed), F.lit(_M))
    expr, cum = None, 0.0
    for name, frac in fractions.items():
        cum += frac
        cut = round(cum * _M)
        branch = (F.when(b < cut, F.lit(name)) if expr is None
                  else expr.when(b < cut, F.lit(name)))
        expr = branch
    return expr


def split_assign_by_cluster(df: DataFrame, fractions: dict[str, float],
                            labels: DataFrame, id_col: str = "doc_id",
                            labels_id_col: str = "id",
                            label_col: str = "cluster", seed: int = 23,
                            clustered_col: str | None = None,
                            broadcast_labels: bool = False) -> DataFrame:
    """Cluster-aware split assignment: every member of a near-duplicate
    cluster receives the SAME train/val/test split, because the split
    hash is taken over the cluster REPRESENTATIVE (the component label
    from ``connected_components``) rather than the document id —
    near-duplicates can never straddle an eval/train boundary, closing
    the leakage channel ``split_leakage`` merely *detects* (a test doc
    whose near-twin sits in train inflates eval).  Docs absent from
    ``labels`` are singletons and hash on their own id, so for them
    the assignment is IDENTICAL to plain ``split_assign``.

    ``labels`` must hold at most ONE row per id (what
    ``connected_components`` / ``incremental_components`` emit) — a
    duplicated id would fan out its doc row through the left join and
    double-count it downstream.

    Stability caveat (documented, inherent): a later corpus drop can
    MERGE two prior clusters, changing the min-label representative —
    the merged cluster then re-hashes as a unit (members still agree,
    the no-straddle guarantee holds across every generation), but its
    split can differ from the previous generation's.  Pipelines that
    freeze eval sets should pin the generation whose labels defined
    them (the ``clusters`` snapshot artifact keeps each generation).

    Scale: ONE equi-join against the label table, which holds only
    docs that appear in some LSH candidate pair — the duplicate
    fraction of the corpus, typically a small minority — then the same
    map-only bucket expression as ``split_assign``; document text
    never shuffles on the build side when the label table broadcasts,
    and degrades to one hash Exchange otherwise.  ``clustered_col``
    optionally emits a 0/1 flag for rows that matched a cluster.

    ``broadcast_labels=True`` forces a broadcast-hash join — the label
    table comes out of iterative connected components, so Catalyst
    cannot estimate its size and defaults to a sort-merge join that
    shuffles BOTH sides.  Flip it when the duplicate minority fits an
    executor (the common case below ~10^9 clustered docs); leave the
    default for whale label tables, where the narrow (id, label)
    shuffle is the safe plan."""
    clash = [c for c in ("__lid", "__rep0", "__rep") if c in df.columns]
    if clash:
        raise ValueError(f"input already has internal column(s) {clash}")
    lab = labels.select(F.col(labels_id_col).alias("__lid"),
                        F.col(label_col).alias("__rep0"))
    if broadcast_labels:
        lab = F.broadcast(lab)
    out = (df.join(lab, df[id_col] == F.col("__lid"), "left")
           .withColumn("__rep", F.coalesce(F.col("__rep0"), F.col(id_col))))
    if clustered_col is not None:
        out = out.withColumn(clustered_col,
                             F.col("__lid").isNotNull().cast("int"))
    out = split_assign(out, fractions, id_col="__rep", seed=seed)
    return out.drop("__lid", "__rep0", "__rep")


def cap_per_key(df: DataFrame, k: int, key_col: str,
                order_cols: list, salt: int | None = None,
                salt_col: str = "doc_id") -> DataFrame:
    """Per-key document cap: keep at most ``k`` rows per ``key_col``,
    the ``order_cols``-minimal ones — the FineWeb/RefinedWeb domain-
    diversity step (cap every host's contribution so no single domain
    dominates the mix; Penedo et al. 2023 apply the same idea as
    per-domain limits).  ``order_cols`` is a list of ordering
    expressions that must define a TOTAL order (include a unique
    tiebreak key — e.g. ``[F.col("quality").desc(),
    F.col("doc_id").asc()]`` keeps the k highest-quality docs);
    ties would make the kept set partitioning-dependent.

    Unlike ``source_quota_sample`` (whose per-SOURCE count table is
    small enough to broadcast and whose cutoffs are driver-derived),
    the key space here is host-cardinality — millions of keys at crawl
    scale — so everything stays distributed: the default plan is ONE
    hash Exchange on ``key_col`` + a per-key ``row_number`` (sort is
    per-partition, never global; the state per key the aggregate holds
    is the k-row heap Spark's window operator streams through).

    WHALE KEYS: one giant host (10^8 pages on a single key) would land
    on a single task under a naive window.  Two defenses stack here:

    * Spark >= 3.5 plans ``row_number() <= k`` filters as
      ``WindowGroupLimit(Partial)`` BEFORE the Exchange (verified in
      the executed plan): every map task pre-prunes to its local
      top-k per key, so at most k rows per key per input partition
      ever ship — the whale arrives at its reducer as <= k*P rows,
      not 10^8.
    * ``salt=S`` adds the explicit two-phase exact form for engines or
      shapes without that rewrite: phase 1 ranks within ``(key,
      salt-of-salt_col)`` — the whale's residual k*P rows spread over
      S tasks — and phase 2 ranks the <= k*S survivors per key.

    Both forms return EXACTLY the same k rows (every true top-k row
    survives its own salted group's top-k), so the oracle stays the
    plain rank definition regardless of ``salt``."""
    if k < 1:
        raise ValueError(f"need k >= 1, got {k}")
    clash = [c for c in ("__rk", "__rk1", "__salt") if c in df.columns]
    if clash:
        raise ValueError(f"input already has internal column(s) {clash} "
                         f"— rename them (the cap would silently "
                         f"clobber and re-emit them)")
    from pyspark.sql import Window
    pre = df
    if salt is not None:
        if salt < 2:
            raise ValueError(f"salt must be >= 2 (got {salt})")
        if salt_col not in df.columns:
            raise ValueError(
                f"salt_col {salt_col!r} not in input columns "
                f"{df.columns} — pass any unique row id as salt_col=")
        w1 = Window.partitionBy(key_col, "__salt").orderBy(*order_cols)
        pre = (df.withColumn(
                   "__salt",
                   F.pmod(h64(F.col(salt_col).cast("string"), seed=13),
                          F.lit(salt)))
               .withColumn("__rk1", F.row_number().over(w1))
               .filter(F.col("__rk1") <= k)
               .drop("__salt", "__rk1"))
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    return (pre.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= k)
            .select(*df.columns))


def exact_quantiles(df: DataFrame, value_col: str, qs: list[float],
                    buckets: int = 4096,
                    threshold: int = 65536) -> DataFrame:
    """EXACT distributed quantiles with bounded memory everywhere —
    multi-level histogram selection.  Returns a DataFrame
    ``(q double, value double)`` where ``value`` is the
    ``ceil(q*n)``-th smallest non-null value (lower discrete quantile:
    q=1.0 is the max, q→0 the min) — exact order statistics, not an
    approximation.

    Why not the built-ins: ``F.percentile`` buffers EVERY value of the
    group in one aggregation buffer (OOM at 100 TB), and
    ``approx_percentile``/KLL is a sketch — bounded error, not exact.
    ``Window.orderBy`` ranks would need a global sort.  This computes
    exact ranks with:

    * one (count, min, max) aggregate;
    * per refinement level, ONE histogram aggregate FOR ALL QUANTILES
      JOINTLY: nested equal-width bins (level k splits every level-k-1
      bin into ``buckets`` sub-bins — bin ids are pure arithmetic on
      the value, so one ``groupBy`` per level covers every quantile's
      current search path); the driver walks O(len(qs) * buckets)
      counts, never data;
    * a quantile whose bin holds <= ``threshold`` rows finishes via ONE
      ranked-window job per distinct search depth (every pending
      quantile's candidate bin ranks in the same pass — each window
      partition holds <= ``threshold`` rows by construction), and only
      the matched rank rows leave the executors.

    Total cost is (levels + 2) full scans REGARDLESS of how many
    quantiles are requested — 1 level covers n <= 2.7e8 at the
    defaults, 2 levels 1.1e13 — each map-side combinable; driver
    memory is O(len(qs) * buckets); the only Exchange carries
    histogram partials, never rows.  Massive tie clusters are handled
    by the single-bin degenerate check (one extra stats pass detects
    min==max — the cluster IS the answer)."""
    if not qs:
        raise ValueError("need at least one quantile in qs")
    for q in qs:
        if not (0.0 < q <= 1.0):
            raise ValueError(f"quantiles must be in (0, 1], got {q}")
    if buckets < 2:
        raise ValueError(f"need buckets >= 2, got {buckets}")
    import math
    v = F.col(value_col).cast("double")
    base = df.filter(v.isNotNull()).select(v.alias("__v"))

    def stats(sub):
        r = sub.agg(F.count("*").alias("n"), F.min("__v").alias("mn"),
                    F.max("__v").alias("mx")).collect()[0]
        return int(r["n"]), r["mn"], r["mx"]

    n, mn, mx = stats(base)
    if n == 0:
        raise ValueError(f"{value_col} has no non-null values")
    _check_finite(value_col, mn, mx)
    if mn == mx:
        # all-equal corpus: every quantile IS that value — resolving
        # here keeps the "<= threshold rows leave the executors" bound
        # (falling through would TakeOrdered up to n rows)
        out = [(float(q), float(mn)) for q in sorted(qs)]
        return local_frame(df.sparkSession, out, "q double, value double")

    def widths(k):
        # uniform level widths: level j splits the range by buckets^j
        return [(mx - mn) / (buckets ** (j + 1)) for j in range(k + 1)]

    def bin_cols(k):
        """Nested bin ids b0..bk as pure column arithmetic: the level-j
        offset subtracts the enclosing bins' origins, so the same
        expressions reproduce the same partition of rows in the
        histogram, the path filters, and the final selection."""
        ws = widths(k)
        cols, off = [], F.col("__v") - F.lit(mn)
        for j in range(k + 1):
            b = F.least(F.lit(buckets - 1),
                        F.floor(off / F.lit(ws[j])).cast("long"))
            b = F.greatest(F.lit(0), b)
            cols.append(b)
            off = off - b.cast("double") * F.lit(ws[j])
        return cols

    def path_filter(cols, path):
        pred = F.lit(True)
        for c, p in zip(cols, path):
            pred = pred & (c == p)
        return pred

    def distinct_walk(sub, r: int) -> float:
        """Rank selection when refinement width underflowed to 0.0 with
        > threshold rows still in the bin: the bin spans at most
        ~buckets adjacent representable doubles, so a distinct-value
        count histogram is driver-bounded — never a TakeOrdered(r)
        funnel over a huge tie cluster."""
        pairs = sorted((row["__v"], int(row["c"])) for row in
                       sub.groupBy("__v").agg(F.count("*").alias("c"))
                       .collect())
        cum = 0
        for val, c in pairs:
            cum += c
            if cum >= r:
                return float(val)
        return float(pairs[-1][0])

    # state per quantile: residual rank, search path (bin ids), count
    ranks = {q: min(n, max(1, math.ceil(q * n))) for q in qs}
    paths = {q: () for q in qs}
    counts = {q: n for q in qs}
    resolved: dict = {}
    level = 0
    while True:
        active = [q for q in qs if q not in resolved
                  and counts[q] > threshold]
        if not active or widths(level)[level] <= 0.0:
            break
        cols = bin_cols(level)
        named = [c.alias(f"__b{j}") for j, c in enumerate(cols)]
        need = {paths[q] for q in active}
        pred = F.lit(False)
        for p in need:
            pred = pred | path_filter(cols[:level], p)
        hist_rows = (base.filter(pred).groupBy(*named)
                     .agg(F.count("*").alias("__c")).collect())
        # {parent_path: {bin: count}}
        hist: dict = {}
        for row in hist_rows:
            key = tuple(row[f"__b{j}"] for j in range(level))
            hist.setdefault(key, {})[int(row[f"__b{level}"])] = \
                int(row["__c"])
        for q in active:
            bins = hist.get(paths[q], {})
            cum, r = 0, ranks[q]
            for b in range(buckets):
                c = bins.get(b, 0)
                if cum + c >= r:
                    ranks[q] = r - cum
                    paths[q] = paths[q] + (b,)
                    counts[q] = c
                    break
                cum += c
            if sum(1 for c in bins.values() if c > 0) == 1:
                # single-bin degenerate (tie cluster or ulp-narrow
                # range): one stats pass over this path resolves it
                sub = base.filter(path_filter(bin_cols(level), paths[q]))
                cnt, lo2, hi2 = stats(sub)
                counts[q] = cnt
                if lo2 == hi2:
                    resolved[q] = lo2
                elif cnt > threshold:
                    # a real range still > threshold: re-anchored rank
                    # selection jumps to [lo2, hi2] directly instead of
                    # grinding the global range down by B per level
                    # (~260 levels on a 1e300-range/1e-16-cluster mix)
                    resolved[q] = _select_rank(sub, ranks[q], buckets,
                                               threshold)
        level += 1
    for q in qs:
        if q in resolved or counts[q] <= threshold:
            continue
        # only reachable via the width-underflow exit above
        sub = base
        if paths[q]:
            k = len(paths[q]) - 1
            sub = base.filter(path_filter(bin_cols(k), paths[q]))
        resolved[q] = distinct_walk(sub, ranks[q])
    # finals: ONE window job per distinct search depth — every pending
    # quantile's candidate bin (<= threshold rows each by construction)
    # ranks in the same pass, instead of one TakeOrdered job per
    # quantile (the batching exact_quantiles_by already does; guide
    # §1.2 — fewer passes)
    from collections import defaultdict

    from pyspark.sql import Window
    by_depth = defaultdict(list)
    for q in qs:
        if q not in resolved:
            by_depth[len(paths[q])].append(q)
    for depth, pend in by_depth.items():
        if depth == 0:
            pred = F.lit(True)
            parts: list = []
        else:
            cols = bin_cols(depth - 1)
            pred = F.lit(False)
            for p in {paths[q] for q in pend}:
                pred = pred | path_filter(cols, p)
            parts = [c.alias(f"__b{j}") for j, c in enumerate(cols)]
        w = (Window.partitionBy(*[F.col(f"__b{j}")
                                  for j in range(depth)])
             .orderBy(F.col("__v").asc()))
        want = defaultdict(list)   # two qs can share (path, rank)
        for q in pend:
            want[(paths[q], ranks[q])].append(q)
        rows = (base.filter(pred).select("__v", *parts)
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn").isin(list({r for _, r in want})))
                .collect())
        for row in rows:
            key = (tuple(row[f"__b{j}"] for j in range(depth)),
                   int(row["__rn"]))
            for q in want.get(key, ()):
                resolved[q] = float(row["__v"])
    out = [(float(q), float(resolved[q])) for q in sorted(qs)]
    return local_frame(df.sparkSession, out, "q double, value double")


def _select_rank(base: DataFrame, r: int, buckets: int,
                 threshold: int) -> float:
    """Exact r-th smallest of ``base.__v`` with bounded memory and
    RE-ANCHORED refinement: each iteration recomputes the candidate
    set's true (count, min, max) and histograms against THAT range, so
    a stall in a single bin jumps straight to the data's extremes
    instead of grinding the global range down by fixed B factors
    (a 1e300-range corpus with the answer in a 1e-16-wide cluster
    resolves in a couple of iterations, not ~260 levels).  Finishes
    via TakeOrdered at <= threshold rows or a distinct-value walk on
    ulp-narrow ranges.  Iterations are capped: every step either drops
    the count below threshold, shrinks the range by ~buckets x, or
    re-anchors onto strictly fewer rows, so hitting the cap means
    adversarial fractal data — raise loudly rather than silently
    funnel millions of rows through one task."""
    import math
    sub = base
    for _ in range(128):
        row = sub.agg(F.count("*").alias("c"), F.min("__v").alias("mn"),
                      F.max("__v").alias("mx")).collect()[0]
        cnt, mn, mx = int(row["c"]), row["mn"], row["mx"]
        if cnt <= threshold:
            got = (sub.orderBy(F.col("__v").asc()).limit(r)
                   .agg(F.max("__v").alias("v")).collect()[0]["v"])
            return float(got)
        if mn == mx:
            return float(mn)
        width = (mx - mn) / buckets
        if width <= 0.0 or not math.isfinite(width):
            # ulp-narrow range: spans a handful of representable
            # doubles — the distinct histogram is driver-bounded
            pairs = sorted((rw["__v"], int(rw["c"])) for rw in
                           sub.groupBy("__v").agg(F.count("*").alias("c"))
                           .collect())
            cum = 0
            for val, c in pairs:
                cum += c
                if cum >= r:
                    return float(val)
            return float(pairs[-1][0])
        b = F.least(F.lit(buckets - 1), F.greatest(F.lit(0), F.floor(
            (F.col("__v") - F.lit(mn)) / F.lit(width)))).cast("long")
        hist = {int(rw["__b"]): int(rw["c"]) for rw in
                sub.groupBy(b.alias("__b")).agg(F.count("*").alias("c"))
                .collect()}
        cum = 0
        for bb in range(buckets):
            c = hist.get(bb, 0)
            if cum + c >= r:
                r -= cum
                sub = sub.filter(b == bb)
                break
            cum += c
    raise ValueError(
        "rank selection did not converge in 128 re-anchored refinements "
        "— adversarial value distribution; raise threshold= or "
        "pre-bucket the data")


def exact_quantiles_by(df: DataFrame, value_col: str, qs: list[float],
                       by: str, buckets: int = 1024,
                       threshold: int = 65536, approx: bool = False,
                       relative_error: float = 1e-4) -> DataFrame:
    """EXACT per-group quantiles with bounded memory — the grouped form
    of ``exact_quantiles``.  Returns ``(by, q double, value double)``
    where ``value`` is the group's ``ceil(q*n_g)``-th smallest non-null
    value.  The per-group exact alternative to
    ``F.percentile(...).over(groupBy)`` — which buffers every group
    value in one aggregation buffer — and to ``approx_percentile`` —
    which is a sketch.

    One histogram job per level covers EVERY group and quantile
    jointly: each group's values normalize to ``u = (v - mn_g) /
    (mx_g - mn_g)`` (group stats broadcast — one tiny join), so all
    groups share the same bucket geometry and the level-k search
    position is ONE integer digit column ``d_k = floor(u *
    buckets^(k+1))`` (its base-``buckets`` digits are the search
    path).  Per level: one combinable ``groupBy(group, d_k)``
    aggregate filtered to the active search paths; the driver walks
    O(pairs x buckets) counts.  Groups at or below ``threshold`` rows
    (and every quantile's final candidate bin) finish together in one
    batched ranked-window job over <= threshold rows per partition
    (r12: replaced the one-TakeOrdered-job-per-final form).

    Driver holds O(|groups| x |qs| x buckets) ints per level and the
    group-stats table — GROUP CARDINALITY MUST BE BOUNDED (sources,
    languages, shards: thousands, not millions).  When group
    cardinality is unbounded, pass ``approx=True``: a single
    combinable ``percentile_approx`` (KLL-style sketch) per group,
    with rank error <= ``relative_error * n_g`` — graceful
    degradation instead of a driver OOM; exactness is traded away and
    the declared bound is the sketch's.  For the global case use
    ``exact_quantiles``.  Massive per-group tie clusters resolve via
    the single-child degenerate check (batched min==max probe).

    ``buckets`` is rounded UP to a power of two: digit consistency
    across levels — ``floor(u*B^k) == floor(u*B^(k+1)) div B`` —
    holds exactly in IEEE arithmetic only when scaling by B is exact
    (B = 2^m).  A non-power-of-two B lets a row's level-(k+1) digit
    drift outside its level-k parent's child range, silently dropping
    it from the cumulative walk."""
    if not qs:
        raise ValueError("need at least one quantile in qs")
    for q in qs:
        if not (0.0 < q <= 1.0):
            raise ValueError(f"quantiles must be in (0, 1], got {q}")
    if buckets < 2:
        raise ValueError(f"need buckets >= 2, got {buckets}")
    if buckets & (buckets - 1):
        buckets = 1 << buckets.bit_length()
    import math
    from pyspark.sql.types import DoubleType, StructField, StructType
    v = F.col(value_col).cast("double")
    base = (df.filter(v.isNotNull() & F.col(by).isNotNull())
            .select(F.col(by).alias("__g"), v.alias("__v")))
    if approx:
        if not (0.0 < relative_error <= 0.5):
            raise ValueError(
                f"relative_error must be in (0, 0.5], got {relative_error}")
        acc = max(2, math.ceil(1.0 / relative_error))
        sq = [float(q) for q in sorted(qs)]
        qarr = F.array(*[F.lit(q) for q in sq])
        return (base.groupBy("__g")
                .agg(F.percentile_approx("__v", qarr, F.lit(acc))
                     .alias("__vals"))
                .select(F.col("__g").alias(by),
                        F.posexplode("__vals").alias("__i", "value"))
                .select(by, qarr[F.col("__i")].alias("q"), "value")
                .orderBy(by, "q"))
    grows = (base.groupBy("__g")
             .agg(F.count("*").alias("n"), F.min("__v").alias("mn"),
                  F.max("__v").alias("mx")).collect())
    if not grows:
        raise ValueError(f"{value_col} has no non-null values")
    for row in grows:
        _check_finite(f"{value_col} (group {row['__g']!r})",
                      row["mn"], row["mx"])

    spark = df.sparkSession
    gstats = local_frame(
        spark,
        [(r["__g"], r["mn"], r["mx"]) for r in grows],
        StructType([base.schema["__g"],
                    StructField("__mn", DoubleType()),
                    StructField("__mx", DoubleType())]))
    joined = base.join(F.broadcast(gstats), "__g")
    u = (F.col("__v") - F.col("__mn")) / (F.col("__mx") - F.col("__mn"))

    def digit_col(k):
        m = buckets ** (k + 1)
        return (F.least(F.lit(m - 1), F.floor(u * F.lit(float(m))))
                .cast("long"))

    resolved: dict = {}      # (g, q) -> value
    pending: dict = {}       # (g, q) -> {"r": rank, "P": path int, "cnt"}
    for row in grows:
        g, n_g, mn_g, mx_g = row["__g"], int(row["n"]), row["mn"], row["mx"]
        for q in qs:
            r = min(n_g, max(1, math.ceil(q * n_g)))
            if mn_g == mx_g:
                resolved[(g, q)] = mn_g
            else:
                pending[(g, q)] = {"r": r, "P": None, "cnt": n_g,
                                   "k": -1}

    k = 0
    while buckets ** (k + 1) <= (1 << 53):
        active = [(g, q) for (g, q), st in pending.items()
                  if (g, q) not in resolved and st["cnt"] > threshold]
        if not active:
            break
        d = digit_col(k)
        if k == 0:
            gs = {g for g, _ in active}
            pred = F.col("__g").isin(list(gs))
        else:
            dprev = digit_col(k - 1)
            pred = F.lit(False)
            for g, p in {(g, pending[(g, q)]["P"]) for g, q in active}:
                pred = pred | ((F.col("__g") == g) & (dprev == p))
        hist_rows = (joined.filter(pred)
                     .groupBy("__g", d.alias("__d"))
                     .agg(F.count("*").alias("__c")).collect())
        counts: dict = {}
        for row in hist_rows:
            counts.setdefault(row["__g"], {})[int(row["__d"])] = \
                int(row["__c"])
        degenerate = []
        for g, q in active:
            st = pending[(g, q)]
            first = 0 if st["P"] is None else st["P"] * buckets
            bins = counts.get(g, {})
            cum, r = 0, st["r"]
            children = [dd for dd in range(first, first + buckets)
                        if bins.get(dd, 0) > 0]
            for dd in range(first, first + buckets):
                c = bins.get(dd, 0)
                if cum + c >= r:
                    st.update(r=r - cum, P=dd, cnt=c, k=k)
                    break
                cum += c
            if len(children) == 1 and st["cnt"] > threshold:
                degenerate.append((g, q))
        if degenerate:
            # tie clusters: everything in one child bin — one batched
            # min/max probe resolves (or proves the range is real)
            dnow = digit_col(k)
            pred = F.lit(False)
            for g, p in {(g, pending[(g, q)]["P"]) for g, q in degenerate}:
                pred = pred | ((F.col("__g") == g) & (dnow == p))
            probe = (joined.filter(pred)
                     .groupBy("__g", dnow.alias("__d"))
                     .agg(F.min("__v").alias("mn"),
                          F.max("__v").alias("mx")).collect())
            span = {(r["__g"], int(r["__d"])): (r["mn"], r["mx"])
                    for r in probe}
            for g, q in degenerate:
                mn2, mx2 = span[(g, pending[(g, q)]["P"])]
                if mn2 == mx2:
                    resolved[(g, q)] = mn2
        k += 1
    stuck = [(g, q) for (g, q), st in pending.items()
             if (g, q) not in resolved and st["cnt"] > threshold]
    for g, q in stuck:
        # digit-precision exhaustion with the bin still > threshold:
        # the grouped search uses ABSOLUTE digits u*B^k capped at 2^53,
        # so an ulp-narrow u (or a dense cluster at u ~ 0 under extreme
        # in-group skew) can stop splitting while the bin still holds
        # millions of rows — the final window would then sort the whole
        # bin in ONE partition, the exact bound this function promises
        # not to break.  Recurse into the bin with the GLOBAL
        # exact_quantiles instead: its subtractive refinement
        # renormalizes inside the bin (and its distinct-walk handles
        # true tie clusters), so the bound holds all the way down.
        st = pending[(g, q)]
        cond = F.col("__g") == F.lit(g)
        if st["P"] is not None:
            cond = cond & (digit_col(st["k"]) == st["P"])
        sub = joined.filter(cond).select("__v")
        resolved[(g, q)] = _select_rank(sub, st["r"], buckets, threshold)
    # finals: ONE window job per distinct search level — every pending
    # pair's candidate bin ranks in the same pass (each window
    # partition holds <= threshold rows by construction), instead of
    # one TakeOrdered job per (group, quantile)
    from collections import defaultdict
    from pyspark.sql import Window
    by_level = defaultdict(list)
    for (g, q), st in pending.items():
        if (g, q) not in resolved:
            by_level[st["k"]].append((g, q))
    for lvl, prs in by_level.items():
        if lvl == -1:
            pred = F.col("__g").isin([g for g, _ in prs])
            dcol = F.lit(-1)
        else:
            dcol = digit_col(lvl)
            pred = F.lit(False)
            for g, p in {(g, pending[(g, q)]["P"]) for g, q in prs}:
                pred = pred | ((F.col("__g") == g) & (dcol == p))
        w = Window.partitionBy("__g", dcol).orderBy(F.col("__v").asc())
        ranked = (joined.filter(pred)
                  .withColumn("__rn", F.row_number().over(w)))
        want = defaultdict(list)   # two qs can share (path, rank)
        for g, q in prs:
            want[(g, -1 if lvl == -1 else pending[(g, q)]["P"],
                  pending[(g, q)]["r"])].append((g, q))
        rows = (ranked.withColumn("__d", dcol)
                .filter(F.col("__rn").isin(
                    list({r for _, _, r in want})))
                .select("__g", "__d", "__rn", "__v").collect())
        for row in rows:
            key = (row["__g"], int(row["__d"]), int(row["__rn"]))
            for pair in want.get(key, ()):
                resolved[pair] = float(row["__v"])
    out = [(g, float(q), float(val))
           for (g, q), val in sorted(resolved.items(),
                                     key=lambda t: (str(t[0][0]), t[0][1]))]
    return local_frame(
        spark,
        out, StructType([df.schema[by],
                         StructField("q", DoubleType()),
                         StructField("value", DoubleType())]))


def _check_finite(what: str, mn: float, mx: float) -> None:
    """Histogram selection needs a finite range: an inf/NaN value makes
    the bin arithmetic produce null bins and SILENTLY drops rows from
    the rank accounting — raise instead (filter or clamp non-finite
    scores upstream; they have no meaningful quantile anyway)."""
    import math
    if not (math.isfinite(mn) and math.isfinite(mx)):
        raise ValueError(
            f"{what} contains non-finite values (min={mn}, max={mx}) — "
            f"exact quantile selection needs a finite range; filter or "
            f"clamp inf/NaN upstream")


def key_skew_report(df: DataFrame, key_cols, top_n: int = 20,
                    round_to: int = 6) -> DataFrame:
    """Key-distribution diagnostics for shuffle planning: the top-N
    heaviest keys with each key's row count, share of all rows,
    cumulative share, and skew ratio (count / mean-rows-per-key).  This
    is the report you run BEFORE picking a join/agg partition strategy
    at 100 TB — a skew ratio in the hundreds says "salt this key or
    rely on AQE skew-join"; a top-1 share near 1.0 says "broadcast the
    rest and special-case the whale" (the engineered whale in
    ``host_cap`` is exactly what this surfaces).

    Scale shape: ONE combinable groupBy(count) over the key columns —
    the only corpus-sized shuffle, map-side partial counts; the
    global (total rows, key count) pair is a 1-row broadcast attach;
    top-N is a distributed TakeOrdered of N rows; the rank/cumulative
    window runs over those N rows only.  Ties break by key value, so
    the report is deterministic."""
    from pyspark.sql import Window
    keys = list(key_cols)
    # tie-break NULLS LAST explicitly: Spark's ascending default is
    # NULLS FIRST but SQL oracles (DuckDB/Postgres) default NULLS LAST
    # — a NULL key tying at the top_n boundary would otherwise produce
    # divergent top-N sets between engines (r10 advice)
    tiebreak = [F.asc_nulls_last(k) for k in keys]
    counts = df.groupBy(*keys).agg(F.count("*").alias("n_rows"))
    totals = counts.agg(F.sum("n_rows").alias("__total"),
                        F.count("*").alias("n_keys"))
    top = (counts.orderBy(F.desc("n_rows"), *tiebreak).limit(top_n)
           .crossJoin(F.broadcast(totals)))
    w = (Window.orderBy(F.desc("n_rows"), *tiebreak)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    share = F.col("n_rows") / F.col("__total")
    return (top.select(
        F.row_number().over(Window.orderBy(F.desc("n_rows"), *tiebreak))
        .alias("rank"),
        *keys, "n_rows", "n_keys",
        F.round(share, round_to).alias("share"),
        F.round(F.sum(share).over(w), round_to).alias("cum_share"),
        # share * n_keys, not n_rows * n_keys / total: the long*long
        # product overflows int64 at corpus scale (10^12 rows x 10^6
        # keys); the double form is the same value
        F.round(share * F.col("n_keys"), round_to).alias("skew_ratio"))
        .orderBy("rank"))
