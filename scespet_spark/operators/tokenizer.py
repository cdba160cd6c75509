"""Distributed BPE tokenizer training and application.

The classic byte-pair-encoding trainer (Sennrich et al. 2016,
"Neural Machine Translation of Rare Words with Subword Units") has a
shape that distributes cleanly:

* the ONLY corpus-sized pass is the word-frequency count — one
  map-side-combinable ``groupBy`` whose output is VOCABULARY-sized
  (Zipf-bounded: ~millions of rows for 100 TB of text, not corpus-
  sized), further cut by ``min_count``;
* the merge loop itself runs driver-side over that word-frequency
  table — exactly how sentencepiece/HF trainers work — because pair
  counts between merges are a function of the (tiny) vocab, not the
  corpus.  No per-merge corpus pass ever happens.

Application is per-word and order-dependent (each word replays the
merge ranking), so it runs as an Arrow-batched ``mapInPandas`` with a
per-batch WORD MEMO — Zipf again: a batch of documents contains few
distinct words relative to tokens, so the Python cost is per distinct
word, not per token.

Reference parity note: the reference engine has no tokenizer; this is
part of the training-data-pipeline extension surface (SURVEY §6).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ._driver import fitted_rows, local_frame
from ._staging import stage as _stage

from .text import tokens

#: end-of-word sentinel (the Sennrich convention): merges never cross
#: word boundaries and a subword knows whether it ends a word
EOW = "</w>"


def word_frequencies(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus word-frequency table ``(word, freq)`` — the one
    corpus-sized pass of BPE training; map-side combinable, output
    vocabulary-sized."""
    return (df.select(F.explode(tokens(F.col(text_col))).alias("word"))
            .groupBy("word").agg(F.count("*").alias("freq")))


def _merge_word(sym: tuple, pair: tuple) -> tuple:
    out, i = [], 0
    while i < len(sym):
        if i < len(sym) - 1 and (sym[i], sym[i + 1]) == pair:
            out.append(sym[i] + sym[i + 1])
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return tuple(out)


def bpe_fit(df: DataFrame, n_merges: int, text_col: str = "text",
            min_count: int = 1, max_vocab: int | None = None) -> DataFrame:
    """Train a BPE merge table: ``n_merges`` rows of ``(rank, left,
    right)`` — the tokenizer model artifact.  Deterministic: pair ties
    break on (left, right) lexicographically, so the same corpus always
    yields the same merges regardless of partitioning or engine.

    Scale shape: ONE distributed word-count pass (vocabulary-sized
    output, ``min_count`` prunes the long tail); the merge loop is
    driver-side over the collected vocab — per merge it touches only
    the words CONTAINING the merged pair (an inverted pair->words
    index), the standard trainer optimization.

    DRIVER-MEMORY BOUND (SCALE.md): the vocabulary collect is the one
    driver-sized structure of the trainer — standard (sentencepiece/HF
    fit the same way) but unbounded at crawl scale, where the distinct-
    word table of 100 TB of web text reaches 10^8+ rows (tens of GB of
    Python dict).  Bound it EITHER by sizing ``min_count`` to the
    corpus (Zipf: min_count ~ corpus_tokens / 10^7 keeps ~millions of
    rows) OR with ``max_vocab=N`` — keep only the top-``N`` words by
    (freq desc, word asc), ONE distributed TakeOrdered before the
    collect.  Truncation drops tail words whose total frequency mass
    is Zipf-negligible at real corpus sizes, so the learned merges are
    driven by the head as intended (pinned by
    ``test_bpe_max_vocab_caps_driver_collect``; a cap covering the
    whole vocabulary is a no-op)."""
    if n_merges <= 0:
        raise ValueError(f"n_merges must be positive, got {n_merges}")
    wf = word_frequencies(df, text_col).filter(F.col("freq") >= min_count)
    if max_vocab is not None:
        if max_vocab <= 0:
            raise ValueError(f"max_vocab must be positive, got {max_vocab}")
        # distributed TakeOrdered (sort+limit -> no global sort barrier)
        wf = wf.orderBy(F.col("freq").desc(), F.col("word")) \
               .limit(max_vocab)
    wf = fitted_rows(wf)
    # driver-side state: word -> (symbol tuple, freq)
    words = {r["word"]: [tuple(r["word"]) + (EOW,), int(r["freq"])]
             for r in wf}
    from collections import defaultdict
    pair_freq: dict = defaultdict(int)
    pair_words: dict = defaultdict(set)
    for w, (sym, freq) in words.items():
        for a, b in zip(sym, sym[1:]):
            pair_freq[(a, b)] += freq
            pair_words[(a, b)].add(w)
    merges = []
    for rank in range(n_merges):
        if not pair_freq:
            break
        best = max(pair_freq, key=lambda p: (pair_freq[p], p[0], p[1]))
        # tie-break NOTE: max freq first, then lexicographically LARGEST
        # pair — any total order works for determinism; this one avoids
        # a second sort pass
        if pair_freq[best] <= 0:
            break
        merges.append((rank, best[0], best[1]))
        for w in list(pair_words[best]):
            sym, freq = words[w]
            for a, b in zip(sym, sym[1:]):
                pair_freq[(a, b)] -= freq
                pair_words[(a, b)].discard(w)
            sym = _merge_word(sym, best)
            words[w][0] = sym
            for a, b in zip(sym, sym[1:]):
                pair_freq[(a, b)] += freq
                pair_words[(a, b)].add(w)
        pair_freq = defaultdict(int, {p: f for p, f in pair_freq.items()
                                      if f > 0})
    return local_frame(df.sparkSession, merges,
                       "rank long, left string, right string")


def bpe_apply(df: DataFrame, merges: DataFrame, text_col: str = "text",
              out: str = "bpe_tokens") -> DataFrame:
    """Tokenize documents under a FITTED merge table: each word splits
    to characters + ``</w>`` and replays the merges in rank order
    (lowest-rank applicable merge first — the standard BPE encoder).
    Returns the input plus ``out`` (the subword array) and
    ``n_bpe_tokens``.

    Runs as ONE Arrow-batched ``mapInPandas`` with a per-batch word
    memo (Zipf: cost is per distinct word, not per token) and the
    merge RANKING broadcast as a plain dict (model-sized).  Lossless by
    construction: concatenating a word's subwords and stripping the
    end marker reproduces the word (property-tested)."""
    clash = {out, "n_bpe_tokens"} & set(df.columns)
    if clash:
        raise ValueError(
            f"output column(s) {sorted(clash)} already exist on the "
            f"input — rename them or pass a different out=")
    ranking = {(r["left"], r["right"]): int(r["rank"])
               for r in merges.collect()}
    # the output schema is built programmatically AND the Arrow stage
    # runs under positional safe names (mapInPandas resolves output
    # schema field names as column references, so a name needing
    # quoting — dots, spaces — would fail analysis); toDF restores the
    # caller's names afterwards without any resolution step
    from pyspark.sql.types import (ArrayType, LongType, StringType,
                                   StructField, StructType)
    safe = [f"__c{i}" for i in range(len(df.columns))]
    text_safe = safe[df.columns.index(text_col)]
    out_schema = StructType(
        [StructField(s, f.dataType, f.nullable)
         for s, f in zip(safe, df.schema.fields)]
        + [StructField("__bpe", ArrayType(StringType())),
           StructField("__nbpe", LongType())])

    def encode_batches(batches):
        memo: dict = {}

        def encode(word: str) -> list:
            got = memo.get(word)
            if got is not None:
                return got
            sym = tuple(word) + (EOW,)
            while len(sym) > 1:
                pairs = {(a, b) for a, b in zip(sym, sym[1:])}
                ranked = [(ranking[p], p) for p in pairs if p in ranking]
                if not ranked:
                    break
                _, best = min(ranked)
                sym = _merge_word(sym, best)
            memo[word] = list(sym)
            return memo[word]

        for pdf in batches:
            toks = pdf[text_safe].map(
                lambda t: [s for w in (t or "").split(" ") if w
                           for s in encode(w)])
            pdf = pdf.assign(__bpe=toks, __nbpe=toks.str.len())
            yield pdf

    return (df.toDF(*safe).mapInPandas(encode_batches, out_schema)
            .toDF(*df.columns, out, "n_bpe_tokens"))


# ===========================================================================
# Unigram-LM tokenizer (Kudo 2018, "Subword Regularization" — the
# sentencepiece unigram trainer, the other real-world subword family
# next to BPE).  Reference parity note: the reference engine has no
# tokenizer; this is training-data-pipeline extension surface.
# ===========================================================================


def _viterbi(word: str, logp: dict, unk: float,
             max_piece_len: int) -> list:
    """Best segmentation of ``word`` under a unigram piece model:
    maximizes the sum of piece log-probs; a character absent from the
    vocabulary is emitted as itself at ``unk`` (lossless fallback).
    Deterministic: float DP over the same word and table gives the
    same result on every worker; score ties break toward the LONGER
    last piece (canonical segmentation)."""
    n = len(word)
    # dp[i] = (best score of word[:i], length of last piece)
    NEG = float("-inf")
    dp = [NEG] * (n + 1)
    back = [0] * (n + 1)
    dp[0] = 0.0
    for i in range(1, n + 1):
        for l in range(1, min(max_piece_len, i) + 1):
            piece = word[i - l:i]
            p = logp.get(piece)
            if p is None:
                if l != 1:
                    continue
                p = unk
            s = dp[i - l] + p
            if s > dp[i] or (s == dp[i] and l > back[i]):
                dp[i] = s
                back[i] = l
    out, i = [], n
    while i > 0:
        out.append(word[i - back[i]:i])
        i -= back[i]
    out.reverse()
    return out


def _unk_logp(logp: dict) -> float:
    """Out-of-vocabulary single-char penalty: strictly below every
    in-vocab piece so the DP only falls back when it must."""
    return (min(logp.values()) if logp else 0.0) - 10.0


def unigram_seed(df: DataFrame, seed_size: int,
                 text_col: str = "text", max_piece_len: int = 8,
                 min_count: int = 1) -> "tuple[DataFrame, dict]":
    """Seed vocabulary for unigram-LM training: every character of the
    corpus (losslessness anchor — single chars are never pruned) plus
    the ``seed_size`` most frequent substrings of length
    2..``max_piece_len``, counted with word-frequency weights.

    Scale shape: substring explosion runs over the WORD table (Zipf-
    bounded), not the corpus; counts are one map-side-combinable
    aggregate and only the top-``seed_size`` rows (a distributed
    TakeOrdered) plus the character rows ever reach the driver.
    Returns ``(word_freq_df, {piece: logprob})``."""
    wf = (word_frequencies(df, text_col)
          .filter(F.col("freq") >= min_count))
    # reused every EM iteration; staged once (localCheckpoint, or a
    # reliable checkpoint under $SPARK_GRAFT_RELIABLE_CHECKPOINT)
    wf = _stage(wf)
    w = F.col("word")
    # all substrings of length 1..max_piece_len, weighted by word freq
    subs = wf.select(
        F.explode(F.flatten(F.transform(
            F.sequence(F.lit(1), F.length(w)),
            lambda i: F.transform(
                F.sequence(F.lit(1),
                           F.least(F.lit(max_piece_len),
                                   F.length(w) - i + 1)),
                lambda l: F.substr(w, i, l))))).alias("piece"),
        F.col("freq"))
    counts = subs.groupBy("piece").agg(F.sum("freq").alias("pfreq"))
    chars = counts.filter(F.length("piece") == 1)
    multi = (counts.filter(F.length("piece") > 1)
             .orderBy(F.col("pfreq").desc(), F.col("piece").asc())
             .limit(seed_size))
    rows = chars.unionByName(multi).collect()
    total = sum(int(r["pfreq"]) for r in rows)
    import math
    logp = {r["piece"]: math.log(int(r["pfreq"]) / total) for r in rows}
    return wf, logp


def _em_counts(wf: DataFrame, logp: dict, max_piece_len: int) -> dict:
    """One distributed Viterbi-E step: segment every distinct word
    under the current model (Arrow-batched over the word table, model
    broadcast in the closure) and return piece -> corpus count
    (integer, freq-weighted — the aggregation is exact regardless of
    partitioning).  The corpus is never touched: cost is per DISTINCT
    word, the Zipf bound that makes tokenizer training cheap."""
    unk = _unk_logp(logp)

    def seg(batches):
        for pdf in batches:
            acc: dict = {}
            for word, freq in zip(pdf["word"], pdf["freq"]):
                for p in _viterbi(word, logp, unk, max_piece_len):
                    acc[p] = acc.get(p, 0) + int(freq)
            yield pd.DataFrame({"piece": list(acc.keys()),
                                "cnt": list(acc.values())})

    got = (wf.mapInPandas(seg, "piece string, cnt long")
           .groupBy("piece").agg(F.sum("cnt").alias("cnt")).collect())
    return {r["piece"]: int(r["cnt"]) for r in got}


def unigram_fit(df: DataFrame, vocab_size: int, text_col: str = "text",
                max_piece_len: int = 8, em_iters: int = 4,
                shrink: float = 0.25, seed_size: int | None = None,
                min_count: int = 1) -> DataFrame:
    """Train a unigram-LM tokenizer (the sentencepiece algorithm,
    Viterbi-EM variant): seed with frequent substrings, alternate
    (E) segment every distinct word under the current piece
    probabilities with (M) re-estimating probabilities from the
    segmentation counts, pruning the lowest-count multi-char pieces
    between iterations until ``vocab_size`` remains.  Returns the
    model artifact ``(piece, logprob)`` — single characters are always
    retained, so encoding is lossless on the training corpus by
    construction.

    Deviations from Kudo 2018, chosen for engine-exactness: hard
    (Viterbi) EM instead of lattice forward-backward, and count-based
    pruning instead of likelihood-loss pruning — both are documented
    sentencepiece simplifications; determinism is total (integer
    counts, fixed tie-breaks), so the same corpus yields the same
    model under any partitioning (property-tested).

    Scale shape — contrast ``bpe_fit`` (driver-side merge loop over a
    collected vocabulary, the standard trainer design with a
    documented driver-memory bound): here the heavy step (Viterbi over
    every distinct word) is DISTRIBUTED every iteration; the driver
    only ever holds the piece table (<= seed vocabulary, bounded by
    ``seed_size``, default ``8 * vocab_size``) and each E-step is one
    Arrow pass over the Zipf-bounded word table + one combinable
    aggregate.  100 TB of text changes the word-table size
    sub-linearly and the model size not at all."""
    if vocab_size < 1:
        raise ValueError(f"need vocab_size >= 1, got {vocab_size}")
    if not (0.0 < shrink < 1.0):
        raise ValueError(f"shrink must be in (0,1), got {shrink}")
    import math
    seed_size = seed_size if seed_size is not None else 8 * vocab_size
    wf, logp = unigram_seed(df, seed_size, text_col, max_piece_len,
                            min_count)
    it = 0
    while True:
        counts = _em_counts(wf, logp, max_piece_len)
        total = sum(counts.values())
        chars = {p for p in logp if len(p) == 1}
        # M-step: probabilities from exact integer counts; unused
        # multi-char pieces drop out, unused single chars keep a
        # half-count floor (losslessness anchor)
        logp = {p: math.log(c / total) for p, c in counts.items() if c > 0}
        for p in chars:
            if p not in logp:
                logp[p] = math.log(0.5 / total)
        multi = [p for p in logp if len(p) > 1]
        n_now = len(logp)
        it += 1
        if n_now > vocab_size and multi:
            # prune the lowest-count multi-char pieces (never chars);
            # deterministic order (count asc, piece asc)
            excess = n_now - vocab_size
            step_cut = max(1, int(len(multi) * shrink))
            cut = min(excess, step_cut)
            victims = sorted(multi,
                             key=lambda p: (counts.get(p, 0), p))[:cut]
            for p in victims:
                del logp[p]
            continue  # keep alternating EM/prune until the size fits
        if it >= em_iters:
            break
    rows = sorted(logp.items())
    return local_frame(df.sparkSession, rows,
                       "piece string, logprob double")


def unigram_apply(df: DataFrame, pieces: DataFrame,
                  text_col: str = "text",
                  out: str = "unigram_tokens",
                  max_piece_len: int | None = None) -> DataFrame:
    """Tokenize documents under a FITTED unigram model: per word, the
    Viterbi-best segmentation (ties toward the longer last piece);
    characters outside the vocabulary pass through as single-char
    pieces, so decoding (concatenate a word's pieces) is lossless on
    ANY input, in or out of corpus (property-tested).  Returns the
    input plus ``out`` (the piece array) and ``n_unigram_tokens``.

    ``max_piece_len`` defaults to the longest piece in the model (a
    smaller caller value would silently make longer pieces
    unreachable).  Same execution shape as ``bpe_apply``: ONE Arrow-batched
    ``mapInPandas`` with a per-batch word memo (Zipf: cost per
    distinct word, not per token) and the model broadcast as a plain
    dict; output schema built programmatically under positional safe
    names."""
    clash = {out, "n_unigram_tokens"} & set(df.columns)
    if clash:
        raise ValueError(
            f"output column(s) {sorted(clash)} already exist on the "
            f"input — rename them or pass a different out=")
    logp = {r["piece"]: float(r["logprob"]) for r in pieces.collect()}
    if not logp:
        raise ValueError("pieces model is empty")
    if max_piece_len is None:
        # derive from the model: a caller-repeated value smaller than
        # the longest piece would silently make that piece unreachable
        max_piece_len = max(len(p) for p in logp)
    unk = _unk_logp(logp)
    from pyspark.sql.types import (ArrayType, LongType, StringType,
                                   StructField, StructType)
    safe = [f"__c{i}" for i in range(len(df.columns))]
    text_safe = safe[df.columns.index(text_col)]
    out_schema = StructType(
        [StructField(s, f.dataType, f.nullable)
         for s, f in zip(safe, df.schema.fields)]
        + [StructField("__ut", ArrayType(StringType())),
           StructField("__nut", LongType())])

    def encode_batches(batches):
        memo: dict = {}

        def encode(word: str) -> list:
            got = memo.get(word)
            if got is None:
                got = memo[word] = _viterbi(word, logp, unk,
                                            max_piece_len)
            return got

        for pdf in batches:
            toks = pdf[text_safe].map(
                lambda t: [s for w in (t or "").split(" ") if w
                           for s in encode(w)])
            pdf = pdf.assign(__ut=toks, __nut=toks.str.len())
            yield pdf

    return (df.toDF(*safe).mapInPandas(encode_batches, out_schema)
            .toDF(*df.columns, out, "n_unigram_tokens"))
