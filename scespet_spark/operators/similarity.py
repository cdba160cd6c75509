"""Similarity search over embedding columns (``array<float>``).

* ``brute_force_topk`` — exact cosine top-k: one scan, no shuffle except
  the final top-k (a ``TakeOrdered`` of k rows per partition merged on
  the driver — the right plan at any scale when k is small).
* ``ivf_topk`` — the scale path: coarse partitions (here the ``label``
  column; in production a k-means/LSH code computed offline), rank
  partitions by centroid similarity, probe only ``nprobe`` of them.
  Reading 2/N of the corpus instead of N/N is what makes 100TB ANN
  feasible; the probe itself is partition-pruned if the table is
  partitioned/bucketed by the coarse code.

Dot products use ``F.zip_with`` + a left-fold ``F.aggregate`` — strictly
sequential element order, so DuckDB's list fold reproduces values
bit-for-bit (scores are additionally rounded before ranking).
"""

from __future__ import annotations

import math

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf

from ._driver import fitted_rows, local_frame


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def release_cached() -> int:
    """Unpersist training-point tables cached by ``pq_train``/
    ``kmeans_codes``/``pq_adc_topk``.  Call after the codes (or anything
    derived from them) have been materialized; returns how many tables
    were released."""
    from ._cache import release
    return release("similarity")


_COSINE_UDF = None  # built lazily: pandas_udf needs an active session


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns.  Arrow-vectorized
    with dimension-sequential accumulation — bit-identical to the
    interpreted ``dot/(norm*norm)`` fold and the DuckDB oracle, measured
    ~3x faster (see quantize_embeddings)."""
    global _COSINE_UDF
    if _COSINE_UDF is None:
        @pandas_udf("double")
        def _cosine_arrow(a: pd.Series, b: pd.Series) -> pd.Series:
            # accumulate across dims IN ORDER, vectorized across rows:
            # the same IEEE left fold as F.aggregate / DuckDB list_reduce.
            # Null / empty / length-mismatched rows yield null (the
            # degradation the Column-expression form had), computed-rows
            # grouped by dim so np.stack stays rectangular.
            if not len(a):
                return pd.Series([], dtype="float64")
            la = a.str.len().fillna(-1).to_numpy()
            lb = b.str.len().fillna(-1).to_numpy()
            valid = (la > 0) & (la == lb)
            res = np.full(len(a), np.nan)
            av, bv = a.to_numpy(), b.to_numpy()
            for dlen in np.unique(la[valid]):
                sel = valid & (la == dlen)
                ma = np.stack(av[sel]).astype(np.float64)
                mb = np.stack(bv[sel]).astype(np.float64)
                d_, na, nb = (np.zeros(len(ma)) for _ in range(3))
                for i in range(ma.shape[1]):
                    x, y = ma[:, i], mb[:, i]
                    d_ = d_ + x * y
                    na = na + x * x
                    nb = nb + y * y
                res[sel] = d_ / (np.sqrt(na) * np.sqrt(nb))
            return pd.Series(res)
        _COSINE_UDF = _cosine_arrow
    return _COSINE_UDF(a, b)


def _as_double_array(vec: Sequence[float]) -> Column:
    return F.array(*[F.lit(float(v)) for v in vec])


_SIX = None  # Decimal('0.000001'), built lazily


def _round6(x: float) -> float:
    """Replicate Spark's ``round(double, 6)`` exactly: HALF_UP on the
    SHORTEST decimal representation of the double (Catalyst rounds
    ``BigDecimal.valueOf(d)``, which goes through ``Double.toString`` —
    the same shortest-round-trip decimal ``repr(float)`` produces)."""
    global _SIX
    from decimal import ROUND_HALF_UP, Decimal
    if _SIX is None:
        _SIX = Decimal("0.000001")
    return float(Decimal(repr(float(x))).quantize(_SIX, ROUND_HALF_UP))


#: r13 (guide §2.5/§5): bounds for the grouped-GEMM pair kernels.
#: ``_GEMM_BLK`` tiles BOTH axes of the in-kernel work matrix, so one
#: tile is at most (4096 x 4096) float64 = 128 MB regardless of cell
#: size (r12 blocked rows only — a 1M-row cell meant a (4096, 1M)
#: matrix, ~32 GB in one non-spillable task).  Tiling never changes a
#: score: each matrix entry is the same dim-sequential fold whatever
#: tile it lands in.  ``_WHALE_ROWS`` caps how many rows one grouped
#: task may materialize at all: cells/blocks past it are carved out and
#: routed through the pre-r12 distributed join form (bit-identical
#: scores by the same fold + `_round6` argument), which shuffles pair
#: rows but spreads a hot key across the cluster and stays
#: AQE-skew-splittable.  Kernels capture both at definition time so
#: tests can monkeypatch them before building a plan.
_GEMM_BLK = 4096
_WHALE_ROWS = 100_000


def _whale_keys(counted, key: str, cap: int | None,
                streaming: bool = False) -> list:
    """Bounded-collect whale election for the grouped-GEMM kernels:
    return the blocking keys whose group exceeds ``cap`` rows (the
    ``counted`` frame carries the per-key count as ``__n``).  At most
    n/cap keys exist, so the collect is bounded; with none (every sane
    corpus) the caller serves the UNTOUCHED grouped-GEMM plan and the
    census is one narrow count job.  Streaming inputs skip the census
    (no eager job on an unbounded stream) — the two-axis tile bound
    still holds there.  A corpus where >10k keys exceed the cap has a
    catastrophically mis-sized blocking scheme (the operators' SCALE
    WARNING: cells must grow with the corpus); fail loudly instead of
    building a 10k-literal plan or silently un-bounding the tail."""
    if not cap or cap <= 0 or streaming:
        return []
    head = fitted_rows(counted.filter(F.col("__n") > cap).select(key)
                       .limit(10_001))
    if len(head) > 10_000:
        raise ValueError(
            f"more than 10000 blocking groups exceed whale_rows={cap}: "
            f"the blocking key is mis-sized for this corpus (grow K / "
            f"bits so cell sizes stay bounded), or pass whale_rows=0 "
            f"to force the grouped kernel")
    return [r[key] for r in head]


def sign_lsh_code(vec: Column, dim: int, bits: int = 6) -> Column:
    """Sign-random-projection LSH coarse code: bit *i* is the sign of the
    dot product with a deterministic ±1 hyperplane
    (``h_i[d] = ±1`` by the parity of the universal hash ``(d*a_i+b_i)
    mod p``).  Cosine-similar vectors agree on most hyperplane signs, so
    near-duplicates share a code w.h.p. — a blocking key whose ``2^bits``
    cardinality is chosen to match corpus size.

    Computed as an Arrow-batched pandas UDF that accumulates across
    dimensions IN ORDER (vectorized across rows) — the same sequential
    left fold as DuckDB's ``list_reduce`` oracle, so every sign bit is
    reproduced exactly, at numpy speed instead of interpreted
    per-element lambdas (see quantize_embeddings for the measurement)."""
    from .dedup import mh_coeffs
    signs = np.empty((bits, dim), dtype=np.float64)
    for i in range(bits):
        a, b = mh_coeffs(i)
        for d in range(1, dim + 1):
            signs[i, d - 1] = -1.0 if ((d * a + b) % 2147483647) % 2 == 0 else 1.0

    @pandas_udf("long")
    def _code(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype="int64")
        # null / wrong-dim rows get a null code (no block) instead of an
        # opaque np.stack crash
        valid = (v.str.len().fillna(-1) == dim).to_numpy()
        res = np.full(len(v), np.nan)
        if valid.any():
            m = np.stack(v.to_numpy()[valid]).astype(np.float64)  # (n, dim)
            code = np.zeros(len(m), dtype=np.int64)
            for i in range(bits):
                acc = np.zeros(len(m), dtype=np.float64)
                for d in range(dim):  # sequential over dims = left fold
                    acc = acc + m[:, d] * signs[i, d]
                code |= (acc > 0).astype(np.int64) << i
            res[valid] = code
        return pd.Series(res)

    return _code(vec.cast("array<double>"))


def brute_force_topk(df: DataFrame, query: Sequence[float], k: int = 20,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k against a literal query vector.  Deterministic:
    scores rounded to 6dp, ties broken by id."""
    q = _as_double_array(query)
    v = F.col(vec_col).cast("array<double>")
    scored = df.select(F.col(id_col),
                       F.round(cosine(v, q), 6).alias("score"))
    return scored.orderBy(F.col("score").desc(), F.col(id_col)).limit(k)


def label_centroids(df: DataFrame, label_col: str = "label",
                    vec_col: str = "embedding") -> DataFrame:
    """Element-wise mean vector per coarse partition, via posexplode +
    groupBy (fully parallel; no collect)."""
    exploded = df.select(label_col,
                         F.posexplode(F.col(vec_col).cast("array<double>"))
                          .alias("pos", "x"))
    per_dim = (exploded.groupBy(label_col, "pos")
               .agg(F.avg("x").alias("m")))
    return (per_dim.groupBy(label_col)
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m")))
                 .alias("__pm"))
            .select(label_col,
                    F.transform("__pm", lambda s: s.getField("m")).alias("centroid")))


def ivf_topk(df: DataFrame, query: Sequence[float], k: int = 20,
             nprobe: int = 2, id_col: str = "vec_id",
             vec_col: str = "embedding", label_col: str = "label") -> DataFrame:
    """IVF-style ANN: rank coarse partitions by centroid cosine, probe the
    best ``nprobe``, brute-force inside them."""
    q = _as_double_array(query)
    cents = label_centroids(df, label_col, vec_col)
    probe = (cents
             .select(label_col, F.round(cosine(F.col("centroid"), q), 6).alias("cs"))
             .orderBy(F.col("cs").desc(), F.col(label_col))
             .limit(nprobe)
             .select(label_col))
    v = F.col(vec_col).cast("array<double>")
    return (df.join(F.broadcast(probe), label_col)
            .select(F.col(id_col), F.round(cosine(v, q), 6).alias("score"))
            .orderBy(F.col("score").desc(), F.col(id_col))
            .limit(k))


def ivf_assign(df: DataFrame, centroids: DataFrame,
               id_col: str = "vec_id", vec_col: str = "embedding",
               label_col: str = "label",
               cell_col: str = "cell") -> DataFrame:
    """Assign a batch of vectors to an EXISTING IVF coarse index — the
    continuous-ingest step of index maintenance (the ANN counterpart of
    dedup's ``incremental_keep``): new crawl embeddings append
    ``(id, cell)`` rows to the codes table; the centroids (a model-sized
    artifact trained once per snapshot) stay fixed, so nothing is
    retrained and the existing corpus never reshuffles.

    Scale shape: the K x d centroid matrix is driver-held model state
    (same as the PQ codebooks) shipped inside an Arrow-batched
    pandas_udf; assignment is one vectorized matmul + argmax per batch —
    a MAP-ONLY plan with zero Exchange.  The alternative (explode K
    scored rows per vector, window-argmax by id) shuffles K x N rows —
    fatal at K = tens of thousands of cells.  Ties break
    deterministically: highest cosine (rounded to 6, the serving/oracle
    convention), then lowest cell id."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    rows = fitted_rows(centroids.select(F.col(label_col).alias("c"),
                                        F.col("centroid")))
    rows.sort(key=lambda r: r.c)  # ascending: np.argmax's first-max = min cell
    if not rows:
        raise ValueError("ivf_assign: centroids table is empty")
    cells = np.array([r.c for r in rows])
    C = np.array([r.centroid for r in rows], dtype="float64")
    cn = np.linalg.norm(C, axis=1)
    Cn = C / np.where(cn == 0, 1.0, cn)[:, None]
    cell_ddl = centroids.schema[label_col].dataType.simpleString()

    @pandas_udf(cell_ddl)
    def _assign(v: pd.Series) -> pd.Series:
        M = np.stack(v.to_numpy()).astype("float64")
        mn = np.linalg.norm(M, axis=1)
        M = M / np.where(mn == 0, 1.0, mn)[:, None]
        S = np.round(M @ Cn.T, 6)
        return pd.Series(cells[np.argmax(S, axis=1)])

    return df.select(F.col(id_col),
                     _assign(F.col(vec_col).cast("array<double>"))
                     .alias(cell_col))


def semantic_dedup(df: DataFrame, threshold: float = 0.5,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   label_col: str = "label",
                   centroids: DataFrame | None = None,
                   whale_rows: int | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): embedding-space semantic
    duplicates — coarse k-means cells block the pairwise check, then
    within each cell an item is a duplicate if some LOWER-id cell-mate
    sits at cosine >= ``threshold`` (min-id representative wins, the
    deterministic form of the paper's keep-one rule).  Returns the
    DROPPED items ``(id_col, cell, n_close)``; anti-join against the
    corpus to keep survivors.  Catches paraphrases and re-renders that
    share no n-grams — the case every text-hash dedup misses.

    Scale shape: assignment is the map-only ``ivf_assign`` against the
    snapshot centroid artifact (pass ``centroids=``); the pair check is
    a cell equi-join — the method's documented cost is within-cell
    all-pairs, bounded by (N/K)^2 per cell, tuned by K, and NEVER a
    corpus-wide cross join (cells partition the corpus).

    SCALE WARNING: K must GROW with the corpus.  The default cells
    (the label column's distinct values) are the small-SF demo only —
    with K fixed, within-cell pairs grow (N/K)^2 and the measured
    slope is quadratic in the corpus multiple (38.8x wall at 30x data,
    SCALE.md).  Production passes ``centroids=`` sized to a constant
    target cell size (K ~ N/500: measured 4.9x at the same 30x) — the
    SemDeDup paper's own constant-cell-size regime.

    r13 whale-cell bound (guide §2.5/§5): the grouped GEMM tiles both
    work-matrix axes (`_GEMM_BLK`) and any cell larger than
    ``whale_rows`` (default `_WHALE_ROWS`; 0 disables) is carved out
    and pair-checked by the distributed join form instead — one
    degenerate cell can no longer OOM a single task.  Rows identical
    on either path (same fold, same rounding)."""
    cents = centroids if centroids is not None else \
        label_centroids(df, label_col, vec_col)
    codes = ivf_assign(df, cents, id_col, vec_col, label_col)
    v = (df.select(F.col(id_col),
                   F.col(vec_col).cast("array<double>").alias("__v"))
         .join(codes, id_col))
    # r12 optimization (guide §4.2 + §2.3): the pair check is ONE
    # grouped GEMM per cell instead of a cell self-join that
    # materializes (cell_size)^2 pair rows — each carrying two full
    # vectors — through a per-pair Arrow cosine.  Each vector now
    # crosses the one cell Exchange exactly once and the within-cell
    # all-pairs cosine matrix is a vectorized dim-sequential outer
    # accumulation: elementwise the SAME IEEE left fold as `cosine`
    # (and the DuckDB oracle), so every pair score is bit-identical.
    # Rounding: candidates pass a loose float band, then the exact
    # HALF_UP-at-6dp decision (`_round6`, replicating Spark's
    # round()) runs on the boundary-adjacent few.  Rows whose vectors
    # are null / length-mismatched pair to NaN in the UDF form and
    # fail its filter; here they are excluded up front — same rows.
    id_t = df.schema[id_col].dataType.simpleString()
    cell_t = codes.schema["cell"].dataType.simpleString()
    thr = float(threshold)
    blk = _GEMM_BLK                     # captured: tests can monkeypatch
    if whale_rows is None:
        whale_rows = _WHALE_ROWS        # 0 disables the carve-out

    def _cell_counts(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({id_col: pd.Series([], dtype="int64"),
                              "cell": pd.Series([], dtype="object"),
                              "n_close": pd.Series([], dtype="int64")})
        if not len(pdf):
            return empty
        cell = pdf["cell"].iloc[0]
        lens = pdf["__v"].str.len().fillna(-1).to_numpy()
        ids_all = pdf[id_col].to_numpy()
        vs_all = pdf["__v"].to_numpy()
        out: dict = {}
        for dlen in np.unique(lens[lens > 0]):
            sel = lens == dlen
            ids = ids_all[sel]
            M = np.stack(vs_all[sel]).astype(np.float64)
            n, d = M.shape
            nrm = np.zeros(n)
            for j in range(d):          # dim-sequential: the left fold
                x = M[:, j]
                nrm = nrm + x * x
            nrm = np.sqrt(nrm)
            # r13: tile BOTH axes — the work matrix is at most
            # (blk, blk), never (blk, n).  Entry values are identical
            # under any tiling (the fold over dims is per-entry).
            for s in range(0, n, blk):
                A = M[s:s + blk]
                for t in range(0, n, blk):
                    B = M[t:t + blk]
                    D = np.zeros((len(A), len(B)))
                    for j in range(d):  # same fold, vectorized over pairs
                        D = D + np.outer(A[:, j], B[:, j])
                    with np.errstate(divide="ignore", invalid="ignore"):
                        S = D / (nrm[s:s + blk, None]
                                 * nrm[t:t + blk][None, :])
                    lower = ids[s:s + blk, None] > ids[t:t + blk][None, :]
                    # |round6(x) - x| <= 5.001e-7, so outside a +-1e-6
                    # band the float compare IS the rounded compare;
                    # only the band needs the exact decimal decision.
                    sure = (S >= thr + 1e-6) & lower
                    for p, c in zip(*np.unique(np.nonzero(sure)[0],
                                               return_counts=True)):
                        k = ids[s + p]
                        out[k] = out.get(k, 0) + int(c)
                    band = (S >= thr - 1e-6) & (S < thr + 1e-6) & lower
                    for p, q in zip(*np.nonzero(band)):
                        if _round6(S[p, q]) >= thr:
                            k = ids[s + p]
                            out[k] = out.get(k, 0) + 1
        if not out:
            return empty
        items = sorted(out.items())
        return pd.DataFrame({id_col: [k for k, _ in items],
                             "cell": [cell] * len(items),
                             "n_close": [c for _, c in items]})

    # whale-cell election (bounded collect, the connected_components /
    # broadcast-threshold pattern): enumerate cells past the cap — at
    # most n/whale_rows of them, realistically a handful of hot keys.
    # With no whales (every bench/test corpus) the served plan is the
    # UNTOUCHED single-Exchange grouped GEMM; the census costs one
    # narrow count job over (id, cell) — no vector bytes.  The
    # carve-out branch only enters the plan when a whale exists, so
    # the common case never pays its extra corpus passes (measured:
    # the always-on DataFrame split cost +0.3-0.8 s per query here).
    whales = _whale_keys(codes.groupBy("cell")
                         .agg(F.count("*").alias("__n")), "cell",
                         whale_rows, streaming=df.isStreaming)
    if not whales:
        return (v.groupBy("cell")
                .applyInPandas(_cell_counts,
                               f"{id_col} {id_t}, cell {cell_t}, "
                               f"n_close long"))
    # cells past the cap are pair-checked with the distributed join
    # form (pre-r12 shape): quadratic either way, but spread over
    # shuffle partitions and AQE-skew-splittable instead of one task.
    # Scores identical: `cosine` is the same dim-sequential fold and
    # Spark's round() is what `_round6` replicates.
    is_whale = F.col("cell").isin(whales)
    big = v.filter(is_whale)
    a = big.select("cell", F.col(id_col).alias("__ida"),
                   F.col("__v").alias("__va"))
    b = big.select("cell", F.col(id_col).alias("__idb"),
                   F.col("__v").alias("__vb"))
    whale_part = (a.join(b, "cell")
                  .filter(F.col("__ida") > F.col("__idb"))
                  .filter(F.round(cosine(F.col("__va"),
                                         F.col("__vb")), 6)
                          >= threshold)
                  .groupBy(F.col("__ida").alias(id_col), "cell")
                  .agg(F.count("*").alias("n_close")))
    out = (v.filter(~is_whale).groupBy("cell")
           .applyInPandas(_cell_counts,
                          f"{id_col} {id_t}, cell {cell_t}, "
                          f"n_close long"))
    return out.unionByName(whale_part)


def cluster_mixture_sample(df: DataFrame, weights: dict, total: int,
                           centroids: DataFrame | None = None,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           label_col: str = "label",
                           seed: int = 11) -> DataFrame:
    """Embedding-cluster-balanced resampling — the topic-rebalancing
    step of a training-data pipeline: assign every vector to its
    embedding-space cluster (``ivf_assign`` against the snapshot
    centroid artifact; the ``label_col`` cells are the small-SF demo),
    then resample toward declared per-cluster weights exactly like
    ``text.mixture_sample`` resamples sources — over-represented
    topics (boilerplate-heavy web clusters) downsample to the recipe,
    scarce topics cap at keep-everything.

    Scale shape: assignment is the map-only driver-held-matrix argmax
    (zero Exchange); the cutoff table is #clusters rows broadcast; the
    keep decision is a deterministic hash filter — one pass, the
    corpus never shuffles.  Returns the input rows plus ``cell``."""
    cents = centroids if centroids is not None else \
        label_centroids(df, label_col, vec_col)
    codes = ivf_assign(df, cents, id_col, vec_col, label_col)
    tagged = df.join(codes, id_col)
    from .text import mixture_apply, mixture_cutoffs
    cut = mixture_cutoffs(tagged, weights, total, source_col="cell")
    return mixture_apply(tagged, cut, source_col="cell", id_col=id_col,
                         seed=seed)


def ivf_topk_from_index(df: DataFrame, codes: DataFrame,
                        centroids: DataFrame, query: Sequence[float],
                        k: int = 20, nprobe: int = 2,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        label_col: str = "label",
                        cell_col: str = "cell") -> DataFrame:
    """IVF serving against MATERIALIZED index artifacts (the codes table
    ``ivf_assign`` maintains plus the snapshot's centroids), instead of
    re-deriving cells from a label column: rank cells by centroid
    cosine, probe the best ``nprobe``, exact-score only the member
    vectors.  This is the 100 TB read shape for a continuously-growing
    index: the query touches nprobe/K of the codes table and the
    shortlisted vectors — the corpus itself never shuffles."""
    q = _as_double_array(query)
    probe = (centroids
             .select(F.col(label_col).alias(cell_col),
                     F.round(cosine(F.col("centroid"), q), 6).alias("__cs"))
             .orderBy(F.col("__cs").desc(), F.col(cell_col))
             .limit(nprobe)
             .select(cell_col))
    member_ids = codes.join(F.broadcast(probe), cell_col).select(id_col)
    v = F.col(vec_col).cast("array<double>")
    return (df.join(member_ids, id_col, "left_semi")
            .select(F.col(id_col), F.round(cosine(v, q), 6).alias("score"))
            .orderBy(F.col("score").desc(), F.col(id_col))
            .limit(k))


def _ann_candidate_stream(queries: DataFrame, df: DataFrame,
                          centroids: DataFrame, codes: DataFrame,
                          nprobe: int, id_col: str, vec_col: str,
                          label_col: str, cell_col: str,
                          q_id: str, q_vec: str) -> DataFrame:
    """The streaming-legal IVF candidate builder `ann_topk_stream` and
    `rrf_fuse_stream` share: probe the nprobe best cells per query via
    the driver-held centroid matrix (Arrow pandas_udf, map-only), then
    stream-static equi-join the probed cells' code rows to their
    vectors and score exact cosine.  Emits (q_id, id, score) candidate
    rows — each query touches nprobe/K of the index, corpus never
    shuffles."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    rows = sorted(centroids.select(F.col(label_col).alias("c"),
                                   "centroid").collect(),
                  key=lambda r: r.c)
    if not rows:
        raise ValueError("ann_topk_stream: centroids table is empty")
    cells_arr = np.array([r.c for r in rows])
    C = np.array([r.centroid for r in rows], dtype="float64")
    cn = np.linalg.norm(C, axis=1)
    Cn = C / np.where(cn == 0, 1.0, cn)[:, None]
    cell_ddl = centroids.schema[label_col].dataType.simpleString()

    @pandas_udf(f"array<{cell_ddl}>")
    def _probe(v: pd.Series) -> pd.Series:
        M = np.stack(v.to_numpy()).astype("float64")
        mn = np.linalg.norm(M, axis=1)
        M = M / np.where(mn == 0, 1.0, mn)[:, None]
        S = np.round(M @ Cn.T, 6)
        # nprobe best cells, ties to the lower cell id: sort by
        # (-score, cell) via lexsort on the ascending-cell axis
        order = np.argsort(-S, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([cells_arr[row].tolist() for row in order])

    qx = queries.withColumn(
        cell_col, F.explode(_probe(F.col(q_vec).cast("array<double>"))))
    index = codes.join(
        df.select(F.col(id_col), F.col(vec_col).cast("array<double>")
                  .alias("__v")), id_col)
    return (qx.join(index, cell_col)
            .select(q_id, F.col(id_col),
                    F.round(cosine(F.col("__v"),
                                   F.col(q_vec).cast("array<double>")), 6)
                    .alias("score")))


def ann_topk_stream(queries: DataFrame, df: DataFrame,
                    centroids: DataFrame, codes: DataFrame,
                    k: int = 5, nprobe: int = 2,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    label_col: str = "label", cell_col: str = "cell",
                    q_id: str = "q_id", q_vec: str = "q_vec") -> DataFrame:
    """ANN serving over a LIVE query stream against a static IVF index —
    the online half of the index `ivf_assign` maintains.

    Plan shape (every stage streaming-legal and scale-shaped):
      1. probe: an Arrow pandas_udf ranks the driver-held centroid
         matrix per query (vectorized matmul, map-only — same trick as
         ``ivf_assign``) and attaches the nprobe best cells;
      2. candidates: explode cells -> stream-static equi-join against
         the cell-keyed codes table joined to its vectors — each query
         touches nprobe/K of the index, the corpus never shuffles;
      3. rank: exact cosine per candidate, then per-query top-k inside
         a stateful step.  A query's candidates all land in its own
         micro-batch (they derive from that one query row joined to the
         static index), so the FIRST batch seen for a q_id emits its
         complete top-k; the ``seen`` flag then suppresses any later
         batch for the same q_id — a duplicated/retried query event
         would otherwise re-emit an overlapping result set with ``rnk``
         restarting at 1.

    Emits ``(q_id, vec_id, score, rnk)`` rows per query as its
    micro-batch lands."""
    cand = _ann_candidate_stream(queries, df, centroids, codes, nprobe,
                                 id_col, vec_col, label_col, cell_col,
                                 q_id, q_vec)

    def step(st, pdf):
        if st["seen"]:  # duplicate/retried query event: already answered
            return []
        st["seen"] = 1.0
        # a query event duplicated WITHIN one micro-batch (at-least-
        # once sources) doubles every candidate row; without this
        # dedup the same doc would occupy two ranks and crowd real
        # neighbors out of the top-k (the cross-batch duplicate is
        # handled by the seen flag above) — red-tested
        pdf = pdf.drop_duplicates(subset=[id_col])
        top = pdf.sort_values(["score", id_col],
                              ascending=[False, True]).head(k)
        top = top.assign(rnk=range(1, len(top) + 1))
        return top[[id_col, "score", "rnk"]]

    from ..streaming.live import stateful_scan
    qid_ddl = queries.schema[q_id].dataType.simpleString()
    id_ddl = df.schema[id_col].dataType.simpleString()
    return stateful_scan(
        cand, [q_id], {"seen": 0.0}, step,
        f"{q_id} {qid_ddl}, {id_col} {id_ddl}, score double, rnk long",
        t="score", order_cols=[id_col])


def rrf_fuse_stream(queries: DataFrame, lexical: DataFrame,
                    df: DataFrame, centroids: DataFrame, codes: DataFrame,
                    k: int = 60, topk_each: int = 100, nprobe: int = 2,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    label_col: str = "label", cell_col: str = "cell",
                    q_id: str = "q_id", q_vec: str = "q_vec",
                    out: str = "rrf_score") -> DataFrame:
    """Hybrid retrieval on a LIVE query stream: per-micro-batch
    reciprocal-rank fusion of the static per-query LEXICAL candidate
    lists (``lexical``: (q_id, id, score) — the BM25 snapshot artifact,
    bounded top-K per query) with the SEMANTIC IVF shortlist served
    from the static index (`_ann_candidate_stream` — the same probe +
    stream-static join as `ann_topk_stream`).  Completes the retrieval
    family's batch+live matrix (`rrf_fuse` is the batch form).

    Plan shape — append-mode legal end to end: the lexical side is a
    stream-static equi-join on ``q_id``; the semantic side is the
    map-only probe + stream-static cell join; their UNION carries a
    source tag, and the fusion itself (rank each list, contribute
    1/(k + rank), outer-merge, sum) runs inside one stateful step per
    query — both candidate lists derive from the query's OWN row, so
    its first micro-batch holds everything and emits the complete
    fused list; the ``seen`` flag suppresses duplicate/retried query
    events exactly like `ann_topk_stream`.  State is one flag per
    query; all per-batch work is bounded by topk_each + the probed
    cells, never the corpus.

    Emits ``(q_id, id, rrf_score, rank_0, rank_1)`` — rank_0 lexical,
    rank_1 semantic, null where a list misses the item (standard RRF;
    contributions sum in fixed list order and round to 6dp, matching
    `rrf_fuse` and the SQL oracle)."""
    sem = (_ann_candidate_stream(queries, df, centroids, codes, nprobe,
                                 id_col, vec_col, label_col, cell_col,
                                 q_id, q_vec)
           .select(q_id, id_col, "score", F.lit("sem").alias("__src")))
    lex = (queries.select(q_id)
           .join(lexical.select(q_id, id_col, "score"), q_id)
           .select(q_id, id_col, "score", F.lit("lex").alias("__src")))
    cand = lex.unionByName(sem)

    def step(st, pdf):
        if st["seen"]:  # duplicate/retried query event: already fused
            return []
        st["seen"] = 1.0
        # in-batch duplicate query event: doubled candidate rows would
        # shift every rank below the first duplicate (same failure
        # family as ann_topk_stream's, red-tested there)
        pdf = pdf.drop_duplicates(subset=["__src", id_col])
        ranks: dict = {}
        for i, s in enumerate(("lex", "sem")):
            sub = (pdf[pdf["__src"] == s]
                   .sort_values(["score", id_col],
                                ascending=[False, True])
                   .head(topk_each))
            for r, did in enumerate(sub[id_col], 1):
                ranks.setdefault(did, {})[i] = r
        if not ranks:
            return []
        def _r6(x):
            # HALF-UP at 6dp like F.round / DuckDB round — Python's
            # round() is banker's and flips exact ties like 1/(60+68)
            # = 0.0078125 the other way
            return math.floor(x * 1e6 + 0.5) / 1e6

        rows = [{id_col: did,
                 out: _r6(sum(1.0 / (k + rk[i]) for i in sorted(rk))),
                 "rank_0": rk.get(0), "rank_1": rk.get(1)}
                for did, rk in ranks.items()]
        rows.sort(key=lambda r: (-r[out], r[id_col]))
        return (pd.DataFrame(rows, columns=[id_col, out,
                                            "rank_0", "rank_1"])
                .astype({"rank_0": "Int64", "rank_1": "Int64"}))

    from ..streaming.live import stateful_scan
    qid_ddl = queries.schema[q_id].dataType.simpleString()
    id_ddl = df.schema[id_col].dataType.simpleString()
    return stateful_scan(
        cand, [q_id], {"seen": 0.0}, step,
        f"{q_id} {qid_ddl}, {id_col} {id_ddl}, {out} double, "
        f"rank_0 long, rank_1 long",
        t="score", order_cols=[id_col])


def batch_topk(df: DataFrame, queries: DataFrame, k: int = 5,
               id_col: str = "vec_id", vec_col: str = "embedding",
               q_id: str = "q_id", q_vec: str = "q_vec") -> DataFrame:
    """Top-k neighbors for a *table* of query vectors: broadcast the
    queries (Q rows) against the corpus — ONE scan of the corpus total,
    regardless of Q, then a per-query rank.  This is the scale shape:
    the 100TB side never moves; only Q×k result rows shuffle."""
    v = F.col(vec_col).cast("array<double>")
    scored = (df.join(F.broadcast(queries))
              .select(q_id, F.col(id_col),
                      F.round(cosine(v, F.col(q_vec).cast("array<double>")), 6)
                       .alias("score")))
    w = Window.partitionBy(q_id).orderBy(F.col("score").desc(), F.col(id_col))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k))


def hard_negatives(df: DataFrame, queries: DataFrame, k: int = 5,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   label_col: str = "label", q_id: str = "q_id",
                   q_vec: str = "q_vec", q_label: str = "q_label") -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    embedding, the ``k`` most-similar corpus vectors with a DIFFERENT
    label — the near-misses a contrastive loss learns most from.

    Same scale shape as ``batch_topk``: the queries (anchor rows)
    broadcast against the corpus in ONE scan — the label-mismatch
    predicate rides the broadcast join, so same-label rows are dropped
    map-side before scoring — then a per-query rank keeps k rows.  Only
    Q×k result rows ever shuffle; the corpus never moves.

    NULL-label policy (deliberate): rows whose label is unknown — on
    either side — are EXCLUDED (SQL null comparison semantics).  An
    unlabeled corpus row cannot be proven a true negative, and mining
    it as one risks poisoning the contrastive loss with a false
    negative; label your data or pre-filter if you want them eligible."""
    v = F.col(vec_col).cast("array<double>")
    scored = (df.join(F.broadcast(queries),
                      F.col(label_col) != F.col(q_label))
              .select(q_id, F.col(id_col), F.col(label_col),
                      F.round(cosine(v, F.col(q_vec).cast("array<double>")),
                              6).alias("score")))
    w = Window.partitionBy(q_id).orderBy(F.col("score").desc(), F.col(id_col))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k))


def _pq_assign_udf(cent_list: list[dict[int, list[float]]], m: int,
                   dsub: int):
    """Pandas UDF assigning all ``m`` subspace codes for a full vector
    in one Arrow pass.  Distances accumulate dim-sequentially (the
    oracle's left fold); ``np.argmin`` takes the FIRST minimum — i.e.
    the lowest code — matching the (distance, code) tie-break."""
    cents = [
        (np.array(sorted(cmap)),                       # codes, ascending
         np.stack([np.asarray(cmap[c], dtype=np.float64)
                   for c in sorted(cmap)]))            # (n_codes, dsub)
        for cmap in cent_list
    ]

    @pandas_udf("array<bigint>")
    def _assign(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype="object")
        mat = np.stack(v.to_numpy()).astype(np.float64)   # (n, m*dsub)
        out = np.empty((len(mat), m), dtype=np.int64)
        for j in range(m):
            codes, cj = cents[j]                          # (kj, dsub)
            sub = mat[:, j * dsub:(j + 1) * dsub]         # (n, dsub)
            acc = np.zeros((len(mat), len(cj)))
            for d in range(dsub):                         # left fold
                dlt = sub[:, d:d + 1] - cj[:, d]
                acc = acc + dlt * dlt
            out[:, j] = codes[np.argmin(acc, axis=1)]
        return pd.Series(list(out))
    return _assign


def _lloyd_pass(pts: DataFrame, cent_list: list[dict[int, list[float]]],
                m: int, dsub: int) -> list[dict[int, list[float]]]:
    """One Lloyd iteration over the persisted training projection:
    assign per-subspace codes (same dim-sequential left-fold distance
    and first-minimum tie-break as ``_pq_assign_udf``) and fold the
    per-(sub, code, dim) sums + counts INSIDE the same Arrow pass —
    one model-sized row per partition, merged on the driver in
    partition order (the ``_opq_pass`` / ``pca_fit`` convention:
    deterministic float summation).

    Replaces the r12-era ``posexplode → groupBy(sub, code, pos) →
    avg`` update (guide §4.2/§2.3): that shuffled m*dsub exploded rows
    PER VECTOR per iteration to compute a model-sized table; the
    update statistics are the same sums/counts, so shuffle the model,
    not the corpus.  Per-partition partials accumulate in row order
    (``np.add.at`` is unbuffered/sequential), exactly the order the
    hash-aggregate partial saw; emptied clusters drop (the pinned
    ``pq_train`` contract)."""
    cents = [(np.array(sorted(cmap)),
              np.stack([np.asarray(cmap[c], dtype=np.float64)
                        for c in sorted(cmap)]))
             for cmap in cent_list]

    def fold(batches):
        from pyspark import TaskContext
        sums = [np.zeros((len(cents[j][0]), dsub)) for j in range(m)]
        cnts = [np.zeros(len(cents[j][0]), dtype=np.int64)
                for j in range(m)]
        seen = False
        for pdf in batches:
            vals = pdf["p"].to_numpy()
            if not len(vals):
                continue
            seen = True
            X = np.stack(vals).astype(np.float64, copy=False)
            for j in range(m):
                _, cj = cents[j]                        # (kj, dsub)
                sub = X[:, j * dsub:(j + 1) * dsub]
                acc = np.zeros((len(sub), len(cj)))
                for dd in range(dsub):                  # left fold
                    dlt = sub[:, dd:dd + 1] - cj[:, dd]
                    acc = acc + dlt * dlt
                idx = np.argmin(acc, axis=1)            # first min
                np.add.at(sums[j], idx, sub)
                np.add.at(cnts[j], idx, 1)
        if seen:
            yield pd.DataFrame([{
                "pid": TaskContext.get().partitionId(),
                "sums": np.concatenate(
                    [s.reshape(-1) for s in sums]).tolist(),
                "cnts": np.concatenate(cnts).tolist()}])

    rows = sorted(
        pts.select("p").mapInPandas(
            fold, "pid int, sums array<double>, cnts array<long>")
        .collect(),
        key=lambda r: r["pid"])
    if not rows:
        raise ValueError("lloyd pass: no usable vectors")
    sums = None
    cnts = None
    for r in rows:  # partition order: deterministic summation
        s = np.asarray(r["sums"])
        c = np.asarray(r["cnts"])
        sums = s if sums is None else sums + s
        cnts = c if cnts is None else cnts + c
    new_list: list[dict[int, list[float]]] = []
    off_s = 0
    off_c = 0
    for j in range(m):
        codes_j, _ = cents[j]
        sj = sums[off_s:off_s + len(codes_j) * dsub].reshape(-1, dsub)
        cj = cnts[off_c:off_c + len(codes_j)]
        off_s += len(codes_j) * dsub
        off_c += len(codes_j)
        cmap: dict[int, list[float]] = {}
        for i, code in enumerate(codes_j):
            if cj[i] > 0:                   # emptied clusters drop
                cmap[int(code)] = (sj[i] / cj[i]).tolist()
        new_list.append(cmap)
    return new_list


def pq_train(df: DataFrame, m: int = 8, dsub: int = 8, ksub: int = 16,
             iters: int = 2, id_col: str = "vec_id",
             vec_col: str = "embedding") -> tuple[DataFrame, DataFrame]:
    """Product-quantization training: per-subspace Lloyd's k-means.
    Returns ``(codes, codebooks)``: codes = (id, sub, code) — ``m``
    rows/vector of one byte-sized int each, a 32x memory compression of
    a 64-dim float corpus (the property that lets 100 TB of embeddings
    sit in cluster RAM for ANN shortlisting); codebooks = (sub, code, c).

    Iteration shape is the MLlib-KMeans pattern: centroids are MODEL
    state (m*ksub*dsub floats — bytes, not data), held on the driver and
    shipped in the fold's closure, so each iteration is ONE vectorized
    Arrow pass over the corpus whose output is model-sized partial
    sums/counts per partition (`_lloyd_pass` — r13: the per-iteration
    posexplode shuffle of m*dsub rows per vector is gone) — no
    per-candidate join rows, no lineage growth.  The corpus itself
    never collects.

    Determinism contract matches ``kmeans_codes``: seeds are the ksub
    lowest-id subvectors, distances fold dim-sequentially, assignment
    tie-breaks (distance, code); emptied clusters drop (both engines).
    Reference semantic parity: same coarse-quantize shape as kmeans IVF
    (see kmeans_codes docstring); PQ is the standard extension for
    in-memory re-rankable codes."""
    codes, cent_list = _pq_train_model(df, m, dsub, ksub, iters,
                                       id_col, vec_col)
    cents = local_frame(
        df.sparkSession,
        [(j, int(c), cent_list[j][c]) for j in range(m)
         for c in sorted(cent_list[j])],
        "sub long, code long, c array<double>")
    return codes, cents


def _pq_train_model(df: DataFrame, m: int, dsub: int, ksub: int,
                    iters: int, id_col: str, vec_col: str):
    """(codes DataFrame, cent_list) — the centroid model stays a plain
    Python structure so serving paths can derive LUTs driver-side."""
    v = F.col(vec_col).cast("array<double>")
    # null/short embeddings would crash the np.stack in the assign UDF
    # (and a null seed row the slicing below) — exclude them up front,
    # like cosine/sign_lsh_code/quantize guard their inputs
    pts = (df.select(F.col(id_col).alias("id"), v.alias("p"))
           .filter(F.col("p").isNotNull() & (F.size("p") >= m * dsub)))
    # iterative training scans pts (iters + 2) times: cache the projected
    # points instead of re-reading/re-projecting the source per pass (the
    # MLlib-KMeans shape — at 100 TB training runs on a sample, and the
    # sample is what persists).  Released via release_cached().
    from ._cache import persist as _persist
    pts = _persist(pts, "similarity")
    seed_rows = pts.orderBy("id").limit(ksub).collect()   # model-sized
    if not seed_rows:
        raise ValueError(
            f"pq_train: no usable embeddings (need non-null vectors of "
            f"at least {m * dsub} dims)")
    cent_list: list[dict[int, list[float]]] = [
        {c: list(map(float, r.p[j * dsub:(j + 1) * dsub]))
         for c, r in enumerate(seed_rows)}
        for j in range(m)
    ]
    for _ in range(iters):
        # r13 (guide §4.2/§2.3): assignment + per-(sub, code, dim)
        # sums/counts fold in ONE Arrow pass with model-sized output —
        # replaces the posexplode → groupBy(sub, code, pos) → avg pass
        # that shuffled m*dsub exploded rows per vector per iteration
        cent_list = _lloyd_pass(pts, cent_list, m, dsub)
    assign = _pq_assign_udf(cent_list, m, dsub)
    codes = (pts.select("id", assign(F.col("p")).alias("cs"))
             .select(F.col("id").alias(id_col),
                     F.posexplode("cs").alias("sub", "code"))
             .withColumn("sub", F.col("sub").cast("long")))
    return codes, cent_list


def _adc_serve(df: DataFrame, codes: DataFrame,
               cent_list: list[dict[int, list[float]]],
               q_code_space: Sequence[float], query: Sequence[float],
               k: int, shortlist: int, m: int, dsub: int, id_col: str,
               vec_col: str, members: DataFrame | None) -> DataFrame:
    """The shared ADC serving half of the PQ family: (1) LUT = squared
    distance from each CODE-SPACE query subvector to each codebook
    centroid, quantized to integer microunits (``round(d * 1e6)`` as
    long — long sums are order-independent, so the across-subspace
    total is exact and engine-reproducible, unlike a float sum whose
    shuffle order varies); (2) shortlist = lowest-``shortlist`` ADC
    totals via one combinable groupBy-sum over the (id, sub, code)
    rows joined to the broadcast LUT; (3) exact cosine re-rank of the
    shortlist only, against the ORIGINAL vectors and query.

    ``q_code_space`` is the query expressed in the codebooks' space
    (identical to ``query`` for plain PQ; the rotated query for OPQ) —
    the LUT is where a learned rotation folds in, which is why every
    PQ variant serves at the same plan cost."""
    import math
    # the LUT is model-sized (m * ksub longs): derive it driver-side
    # with the same dim-sequential fold and HALF_UP microunit rounding
    # the engines pin — no extra Spark job
    lut_rows = []
    for j in range(m):
        qp = [float(x) for x in q_code_space[j * dsub:(j + 1) * dsub]]
        for c in sorted(cent_list[j]):
            cv = cent_list[j][c]
            acc = 0.0
            for d in range(dsub):                         # left fold
                dlt = qp[d] - cv[d]
                acc = acc + dlt * dlt
            lut_rows.append((j, int(c), int(math.floor(acc * 1e6 + 0.5))))
    lut = local_frame(df.sparkSession, lut_rows,
                      "sub long, code long, md long")
    if members is not None:
        # IVF restriction: ADC only the probed cells' codes (codebooks
        # stay corpus-wide — the offline artifact).  At 100 TB the codes
        # table is partitioned by coarse cell, so this is partition
        # pruning, not a join; here it is a semi-join on id.
        codes = codes.join(members.select(F.col(members.columns[0])
                                          .alias(id_col)),
                           id_col, "left_semi")
    adc = (codes.join(F.broadcast(lut), ["sub", "code"])
           .groupBy(id_col).agg(F.sum("md").alias("adc_microdist")))
    short = (adc.orderBy(F.col("adc_microdist").asc(), F.col(id_col))
             .limit(shortlist))
    v = F.col(vec_col).cast("array<double>")
    q = _as_double_array(query)
    return (df.join(F.broadcast(short), id_col)
            .select(F.col(id_col), "adc_microdist",
                    F.round(cosine(v, q), 6).alias("score"))
            .orderBy(F.col("score").desc(), F.col(id_col))
            .limit(k))


def pq_adc_topk(df: DataFrame, query: Sequence[float], k: int = 10,
                shortlist: int = 50, m: int = 8, dsub: int = 8,
                ksub: int = 16, iters: int = 2, id_col: str = "vec_id",
                vec_col: str = "embedding",
                members: DataFrame | None = None) -> DataFrame:
    """PQ asymmetric-distance ANN with exact re-rank (LUT + combinable
    ADC sum + shortlist re-rank — `_adc_serve`).

    Scale: the corpus is touched once to build codes (offline in
    production — see the ``pq_index`` snapshot artifact family for the
    served form); the ADC pass streams m-byte codes, never vectors;
    the exact pass reads ``shortlist`` vectors.  Returns (id,
    adc_microdist, score) — the standard IVF-PQ + re-rank shape."""
    codes, cent_list = _pq_train_model(df, m, dsub, ksub, iters,
                                       id_col, vec_col)
    return _adc_serve(df, codes, cent_list, query, query, k, shortlist,
                      m, dsub, id_col, vec_col, members)


def ivfpq_topk(df: DataFrame, query: Sequence[float], k: int = 10,
               nprobe: int = 2, shortlist: int = 50, m: int = 8,
               dsub: int = 8, ksub: int = 16, iters: int = 2,
               id_col: str = "vec_id", vec_col: str = "embedding",
               label_col: str = "label") -> DataFrame:
    """True IVF-PQ serving — the canonical 100 TB ANN shape: (1) rank
    coarse cells by centroid cosine and probe the best ``nprobe``;
    (2) ADC-shortlist WITHIN the probed cells only (PQ codebooks are the
    corpus-wide offline artifact; with the codes table partitioned by
    coarse cell the ADC pass reads nprobe/N of the codes — partition
    pruning); (3) exact cosine re-rank of the shortlist vectors only.

    Composes ``label_centroids``-probing (``ivf_topk``) with
    ``pq_adc_topk(members=...)``; the coarse cell here is the ``label``
    column — in production the ``kmeans_codes`` output."""
    q = _as_double_array(query)
    cents = label_centroids(df, label_col, vec_col)
    probe = (cents
             .select(label_col,
                     F.round(cosine(F.col("centroid"), q), 6).alias("cs"))
             .orderBy(F.col("cs").desc(), F.col(label_col))
             .limit(nprobe)
             .select(label_col))
    members = df.join(F.broadcast(probe), label_col).select(id_col)
    return pq_adc_topk(df, query, k=k, shortlist=shortlist, m=m, dsub=dsub,
                       ksub=ksub, iters=iters, id_col=id_col,
                       vec_col=vec_col, members=members)


def _opq_pass(pts: DataFrame, R: "np.ndarray",
              cent_list: list[dict[int, list[float]]], m: int, dsub: int):
    """One vectorized Arrow pass of the OPQ alternation: rotate, assign
    per-subspace codes, and fold BOTH update statistics — per-(sub,
    code, dim) sums/counts (the k-means step in rotated space) and the
    d x d correlation ``X^T Y_hat`` (the Procrustes step's input).  One
    (d^2 + m*ksub*dsub + m*ksub)-double row per partition; partials
    combine on the driver in partition order (deterministic float
    summation, the ``pca_fit`` convention).  The corpus never collects.

    Assignment matches ``_pq_assign_udf``: dim-sequential left-fold
    distances, first-minimum (= lowest code) tie-break."""
    d = m * dsub
    cents = [(np.array(sorted(cmap)),
              np.stack([np.asarray(cmap[c], dtype=np.float64)
                        for c in sorted(cmap)]))
             for cmap in cent_list]
    Rb = R.copy()

    def fold(batches):
        from pyspark import TaskContext
        corr = np.zeros((d, d), dtype=np.float64)
        sums = [np.zeros((len(cents[j][0]), dsub)) for j in range(m)]
        cnts = [np.zeros(len(cents[j][0]), dtype=np.int64)
                for j in range(m)]
        seen = False
        for pdf in batches:
            vals = pdf["p"].to_numpy()
            if not len(vals):
                continue
            seen = True
            X = np.stack(vals).astype(np.float64, copy=False)   # (n, d)
            Y = X @ Rb.T                                        # rotated
            Yh = np.empty_like(Y)
            for j in range(m):
                _, cj = cents[j]                                # (kj, dsub)
                sub = Y[:, j * dsub:(j + 1) * dsub]
                acc = np.zeros((len(sub), len(cj)))
                for dd in range(dsub):                          # left fold
                    dlt = sub[:, dd:dd + 1] - cj[:, dd]
                    acc = acc + dlt * dlt
                idx = np.argmin(acc, axis=1)                    # first min
                Yh[:, j * dsub:(j + 1) * dsub] = cj[idx]
                np.add.at(sums[j], idx, sub)
                np.add.at(cnts[j], idx, 1)
            corr += X.T @ Yh
        if seen:
            yield pd.DataFrame([{
                "pid": TaskContext.get().partitionId(),
                "corr": corr.reshape(-1).tolist(),
                "sums": np.concatenate(
                    [s.reshape(-1) for s in sums]).tolist(),
                "cnts": np.concatenate(cnts).tolist()}])

    rows = sorted(
        pts.select("p").mapInPandas(
            fold, "pid int, corr array<double>, sums array<double>, "
                  "cnts array<long>").collect(),
        key=lambda r: r["pid"])
    if not rows:
        raise ValueError("opq_train: no usable vectors")
    corr = np.zeros((d, d))
    sums = None
    cnts = None
    for r in rows:  # partition order: deterministic summation
        corr += np.asarray(r["corr"]).reshape(d, d)
        s = np.asarray(r["sums"])
        c = np.asarray(r["cnts"])
        sums = s if sums is None else sums + s
        cnts = c if cnts is None else cnts + c
    new_list: list[dict[int, list[float]]] = []
    off_s = 0
    off_c = 0
    for j in range(m):
        codes, _ = cents[j]
        sj = sums[off_s:off_s + len(codes) * dsub].reshape(-1, dsub)
        cj = cnts[off_c:off_c + len(codes)]
        off_s += len(codes) * dsub
        off_c += len(codes)
        cmap = {}
        for i, code in enumerate(codes):
            if cj[i] > 0:
                cmap[int(code)] = (sj[i] / cj[i]).tolist()
            else:
                # unlike _pq_train_model (which drops emptied clusters),
                # keep the stale centroid: the Procrustes target must
                # stay full-rank across iterations, and the FINAL
                # codebooks come from _pq_train_model anyway
                cmap[int(code)] = cent_list[j][int(code)]
        new_list.append(cmap)
    return new_list, corr


def _opq_train_model(df: DataFrame, m: int, dsub: int, ksub: int,
                     iters: int, pq_iters: int, id_col: str,
                     vec_col: str):
    """(codes DataFrame, cent_list, R numpy, rotation DataFrame) — the
    OPQ-NP alternation (Ge et al., CVPR 2013, public method): learn an
    orthonormal d x d rotation R that minimizes PQ reconstruction error,
    then train the final codebooks with the pinned ``_pq_train_model``
    contract in the rotated space.

    Init: PCA eigenvectors with EIGENVALUE ALLOCATION — components are
    dealt greedily (descending eigenvalue) to the subspace with the
    smallest running log-variance product that still has a free slot,
    balancing per-subspace information (the parametric-OPQ heuristic
    that captures most of the win).  Each of ``iters`` alternations is
    two Arrow passes over the (persisted) training projection: one
    k-means step in rotated space, then one Procrustes step — R :=
    V U^T from the SVD of X^T Y_hat (the orthonormal maximizer of
    tr(R X^T Y_hat)).  All driver state is model-sized (d^2 floats);
    numpy SVD/eigh on d x d only.  Rotation is PURE (no centering): it
    preserves dot products and norms exactly, so full-dim cosine
    re-ranks of rotated-space candidates stay exact."""
    d = m * dsub
    v = F.col(vec_col).cast("array<double>")
    base = (df.select(F.col(id_col).alias("id"),
                      F.slice(v, 1, d).alias("p"))
            .filter(v.isNotNull() & (F.size(v) >= d)))
    from ._cache import persist as _persist
    base = _persist(base, "similarity")

    # --- init: PCA + eigenvalue allocation ---
    model_rows = pca_fit(base, "p").collect()          # model-sized
    comps = sorted([r for r in model_rows if r["idx"] >= 0],
                   key=lambda r: r["idx"])              # desc eigval
    if len(comps) != d:
        raise ValueError(f"opq_train: expected {d} components, "
                         f"got {len(comps)}")
    buckets: list[list[int]] = [[] for _ in range(m)]
    logsum = [0.0] * m
    for ci, r in enumerate(comps):                      # desc eigval
        free = [j for j in range(m) if len(buckets[j]) < dsub]
        j = min(free, key=lambda b: (logsum[b], b))
        buckets[j].append(ci)
        logsum[j] += math.log(max(float(r["eigval"]), 1e-12))
    order = [ci for b in buckets for ci in b]
    R = np.stack([np.asarray(comps[ci]["w"], dtype=np.float64)
                  for ci in order])                     # (d, d)

    # --- seed codebooks: the PQ seed rule in rotated space ---
    seed_rows = base.orderBy("id").limit(ksub).collect()  # model-sized
    if not seed_rows:
        raise ValueError(
            f"opq_train: no usable embeddings (need non-null vectors "
            f"of at least {d} dims)")
    S = np.stack([np.asarray(r.p, dtype=np.float64)
                  for r in seed_rows]) @ R.T
    cent_list: list[dict[int, list[float]]] = [
        {c: S[c, j * dsub:(j + 1) * dsub].tolist()
         for c in range(len(seed_rows))}
        for j in range(m)
    ]

    # --- alternate: k-means step, then Procrustes step ---
    for _ in range(iters):
        cent_list, _ = _opq_pass(base, R, cent_list, m, dsub)
        _, corr = _opq_pass(base, R, cent_list, m, dsub)
        U, _s, Vt = np.linalg.svd(corr)
        R = Vt.T @ U.T                                  # maximizes tr(R corr)

    # --- final: pinned PQ training in the rotated space ---
    spark = df.sparkSession
    rot_model = local_frame(
        spark,
        [(-1, [0.0] * d, 0.0)]
        + [(i, R[i].tolist(), 1.0) for i in range(d)],
        "idx int, w array<double>, eigval double")
    rotated = pca_project(base, rot_model, k=d, vec_col="p", out="y")
    codes, final_list = _pq_train_model(
        rotated, m, dsub, ksub, pq_iters, "id", "y")
    codes = codes.withColumnRenamed("id", id_col)
    return codes, final_list, R, rot_model


def opq_train(df: DataFrame, m: int = 8, dsub: int = 8, ksub: int = 16,
              iters: int = 3, pq_iters: int = 2, id_col: str = "vec_id",
              vec_col: str = "embedding") \
        -> tuple[DataFrame, DataFrame, DataFrame]:
    """Optimized Product Quantization: ``pq_train`` plus a learned
    orthonormal rotation that re-mixes dimensions so the axis-aligned
    subspace split loses less information (axis-aligned PQ is blind to
    cross-dimension correlation; OPQ's rotation is the public fix —
    Ge et al., CVPR 2013).  Returns ``(codes, codebooks, rotation)``:
    codes/codebooks exactly as ``pq_train`` (codebooks live in ROTATED
    space); rotation is a ``pca_project``-shaped model table (zero
    mean, one row per output dim) so queries/corpora rotate with the
    existing map-only projection — no new serving machinery.

    Scale shape: training touches the corpus 2*``iters`` + (pq_iters+2)
    Arrow passes (at 100 TB: a sample — the MLlib convention); every
    driver structure is model-sized (d x d).  Serving cost is identical
    to PQ: the rotation folds into the query LUT, so the ADC scan
    still streams m-byte codes.  Same determinism contract as
    ``pq_train`` (seeds, left-fold distances, first-min tie-break;
    R from partition-ordered partials + numpy SVD)."""
    codes, cent_list, _R, rot_model = _opq_train_model(
        df, m, dsub, ksub, iters, pq_iters, id_col, vec_col)
    cents = local_frame(
        df.sparkSession,
        [(j, int(c), cent_list[j][c]) for j in range(m)
         for c in sorted(cent_list[j])],
        "sub long, code long, c array<double>")
    return codes, cents, rot_model


def opq_adc_topk(df: DataFrame, query: Sequence[float], k: int = 10,
                 shortlist: int = 50, m: int = 8, dsub: int = 8,
                 ksub: int = 16, iters: int = 3, pq_iters: int = 2,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 members: DataFrame | None = None) -> DataFrame:
    """OPQ asymmetric-distance ANN: rotate the QUERY driver-side (d x d
    matvec — the corpus codes were built in rotated space offline),
    build the model-sized integer-microunit LUT against the rotated
    codebooks, ADC-shortlist with one combinable groupBy-sum, then
    exact cosine re-rank of the shortlist against the ORIGINAL vectors
    (the rotation is orthonormal, so full-dim cosine is unchanged —
    the re-rank needs no un-rotation).  Output schema and every
    serving-path plan shape are identical to ``pq_adc_topk``; only the
    codebook geometry differs."""
    codes, cent_list, R, _rot = _opq_train_model(
        df, m, dsub, ksub, iters, pq_iters, id_col, vec_col)
    d = m * dsub
    qrot = (R @ np.asarray([float(x) for x in query[:d]],
                           dtype=np.float64)).tolist()
    return _adc_serve(df, codes, cent_list, qrot, query, k, shortlist,
                      m, dsub, id_col, vec_col, members)


def pq_index_topk(df: DataFrame, codes: DataFrame, codebooks: DataFrame,
                  rotation: DataFrame, query: Sequence[float],
                  k: int = 10, shortlist: int = 50,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  members: DataFrame | None = None) -> DataFrame:
    """Serve ANN from a PRE-BUILT PQ/OPQ index — the production shape
    the ``pq_index`` snapshot artifact family
    (``write_snapshot(pq_m=...)`` / ``read_pq_index``) exists for:
    codes/codebooks/rotation are offline artifacts, so a query costs
    one d x d matvec + model-sized LUT driver-side, one combinable ADC
    sum over the codes table, and a shortlist-sized exact re-rank —
    the corpus is NEVER re-encoded in-query (contrast
    ``pq_adc_topk``/``opq_adc_topk``, which train in-query for
    self-contained use).  Geometry (m, dsub) derives from the
    codebooks; plain-PQ indexes carry the identity rotation so every
    index serves through this one path."""
    cent_list, m, dsub = _cent_list_from_codebooks(codebooks)
    d = m * dsub
    R = _rotation_matrix(rotation, d, "pq_index_topk")
    qrot = (R @ np.asarray([float(x) for x in query[:d]],
                           dtype=np.float64)).tolist()
    return _adc_serve(df, codes, cent_list, qrot, query, k, shortlist,
                      m, dsub, id_col, vec_col, members)


def _rotation_matrix(rotation: DataFrame, d: int,
                     caller: str) -> "np.ndarray":
    """Collect a ``pca_project``-shaped rotation model into the d x d
    numpy matrix the serving paths fold driver-side; raises loudly on
    a dimension mismatch (mismatched index artifacts).  Model-sized."""
    rrows = sorted([r for r in rotation.collect() if r["idx"] >= 0],
                   key=lambda r: r["idx"])
    if len(rrows) != d:
        raise ValueError(
            f"{caller}: rotation has {len(rrows)} rows, codebooks "
            f"imply d={d} — mismatched index artifacts")
    return np.stack([np.asarray(r["w"], dtype=np.float64)
                     for r in rrows])


def _cent_list_from_codebooks(codebooks: DataFrame) \
        -> tuple[list[dict[int, list[float]]], int, int]:
    """Collect a (sub, code, c) codebooks table into the driver-side
    ``cent_list`` structure the assign/LUT paths consume; returns
    ``(cent_list, m, dsub)``.  Model-sized."""
    cent_rows = codebooks.collect()
    if not cent_rows:
        raise ValueError("empty codebooks table")
    m = max(r["sub"] for r in cent_rows) + 1
    dsub = len(cent_rows[0]["c"])
    cent_list: list[dict[int, list[float]]] = [dict() for _ in range(m)]
    for r in cent_rows:
        cent_list[r["sub"]][int(r["code"])] = list(map(float, r["c"]))
    return cent_list, m, dsub


def identity_rotation(spark, d: int) -> DataFrame:
    """The identity rotation as a ``pca_project``-shaped model table
    (zero mean row + one unit row per dim) — what a plain-PQ index
    pins so PQ and OPQ share one rotated serving/encode path."""
    return local_frame(
        spark,
        [(-1, [0.0] * d, 0.0)]
        + [(i, [1.0 if j == i else 0.0 for j in range(d)], 1.0)
           for i in range(d)],
        "idx int, w array<double>, eigval double")


def ivfpq_index_topk(df: DataFrame, codes: DataFrame,
                     codebooks: DataFrame, rotation: DataFrame,
                     centroids: DataFrame, query: Sequence[float],
                     k: int = 10, nprobe: int = 2, shortlist: int = 50,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     label_col: str = "label") -> DataFrame:
    """IVF-PQ serving from a CELL-PARTITIONED artifact index
    (``write_snapshot(pq_m=..., pq_by_cell=True)``): rank the coarse
    cells driver-side against the model-sized centroid table (same
    rounded-cosine / lowest-label contract as ``ivf_topk``), then
    filter the codes scan to the ``nprobe`` best cells — the codes
    table is hive-partitioned by cell, so the filter reaches the scan
    as a PartitionFilter and each query READS nprobe/K of the index
    files (plan-pinned), never the whole codes table.  ADC + exact
    re-rank then proceed as ``pq_index_topk``.  This is the physical
    form of the claim every ADC docstring makes about 100 TB: coarse
    pruning is file pruning, not a join."""
    crows = centroids.select(F.col(label_col).alias("c"),
                             "centroid").collect()        # model-sized
    if not crows:
        raise ValueError("ivfpq_index_topk: centroids table is empty")
    qf = [float(x) for x in query]
    scored = []
    for r in crows:
        # dim-sequential left fold — bit-identical to the `cosine`
        # column fold and the DuckDB oracle — then HALF-AWAY-FROM-ZERO
        # 6dp rounding (the F.round/DuckDB rule; Python's round() is
        # banker's and would flip a razor-edge cell ranking)
        acc = na = nb = 0.0
        for x, y in zip(r.centroid, qf):
            acc = acc + x * y
            na = na + x * x
            nb = nb + y * y
        cs = acc / (math.sqrt(na) * math.sqrt(nb)) if na and nb else 0.0
        cs6 = math.copysign(math.floor(abs(cs) * 1e6 + 0.5), cs) / 1e6
        scored.append((-cs6, r.c))
    probed = [c for _, c in sorted(scored)[:nprobe]]
    pruned = codes.filter(F.col(label_col).isin(probed))
    return pq_index_topk(df, pruned, codebooks, rotation, query, k=k,
                         shortlist=shortlist, id_col=id_col,
                         vec_col=vec_col)


def pq_index_batch_topk(df: DataFrame, codes: DataFrame,
                        codebooks: DataFrame, rotation: DataFrame,
                        queries: DataFrame, k: int = 10,
                        shortlist: int = 50, id_col: str = "vec_id",
                        vec_col: str = "embedding", q_id: str = "q_id",
                        q_vec: str = "q_vec") -> DataFrame:
    """Serve a BATCH of queries from a pre-built PQ/OPQ index in ONE
    job — the request-batch form of ``pq_index_topk`` (production ANN
    serves batches; Q sequential queries would scan the codes table Q
    times, this scans it once):

    1. per-query LUTs are computed DISTRIBUTED: one Arrow pass over
       the queries rotates them (the model rides in the closure) and
       emits each query's m*ksub integer-microunit distances, exploded
       against a position→(sub, code) map — Q × m*ksub skinny rows,
       broadcast into the ADC join (request batches are small; the
       corpus side stays un-shuffled);
    2. one combinable groupBy-(query, id) ADC sum over the codes scan;
    3. per-query shortlist (window by ADC, ties to lower id), exact
       cosine re-rank against original vectors, per-query top-k.

    Emits ``(q_id, vec_id, adc_microdist, score, rnk)``.  Same
    determinism contract as `_adc_serve` (left-fold distances, HALF-UP
    microunits — distances are non-negative so floor(x+0.5) equals the
    oracle's half-away rounding).  Null / short query vectors are
    dropped (the `_pq_train_model` input contract)."""
    cent_list, m, dsub = _cent_list_from_codebooks(codebooks)
    d = m * dsub
    R = _rotation_matrix(rotation, d, "pq_index_batch_topk")
    positions = [(j, c) for j in range(m) for c in sorted(cent_list[j])]
    Cmat = np.stack([np.asarray(cent_list[j][c], dtype=np.float64)
                     for j, c in positions])              # (P, dsub)

    @pandas_udf("array<bigint>")
    def _lut(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype="object")
        Q = np.stack(v.to_numpy()).astype(np.float64)     # (n, d)
        # rotate each query with the SAME GEMV the sequential path
        # uses (R @ q): a batched GEMM can differ in the last ulp
        # (blocked/FMA kernels vary with batch shape), and an
        # ulp-shifted coordinate landing on a .5 microunit boundary
        # would flip adc_microdist batch-vs-sequential
        Y = np.stack([R @ row for row in Q])
        out = np.empty((len(Q), len(positions)), dtype=np.int64)
        for p, (j, _c) in enumerate(positions):
            qp = Y[:, j * dsub:(j + 1) * dsub]
            cv = Cmat[p]
            acc = np.zeros(len(Q))
            for dd in range(dsub):                        # left fold
                dlt = qp[:, dd] - cv[dd]
                acc = acc + dlt * dlt
            out[:, p] = np.floor(acc * 1e6 + 0.5).astype(np.int64)
        return pd.Series(list(out))

    spark = df.sparkSession
    pos_df = local_frame(
        spark,
        [(p, j, int(c)) for p, (j, c) in enumerate(positions)],
        "pos int, sub long, code long")
    qv = F.col(q_vec).cast("array<double>")
    qs = (queries.select(F.col(q_id), qv.alias("__qv"))
          .filter(qv.isNotNull() & (F.size(qv) >= d)))
    # duplicate q_ids would SILENTLY corrupt results (two queries' LUT
    # rows sum into one adc_microdist) — request batches are small, so
    # one cheap validation job buys a loud error instead
    dup = (qs.groupBy(q_id).count().filter(F.col("count") > 1)
           .limit(5).collect())
    if dup:
        raise ValueError(
            f"pq_index_batch_topk: duplicate {q_id} values in the "
            f"query batch (e.g. {[r[0] for r in dup]}) — their ADC "
            f"sums would merge; dedupe the batch first")
    lut = (qs.select(q_id,
                     F.posexplode(_lut(F.slice(F.col("__qv"), 1, d)))
                     .alias("pos", "md"))
           .join(F.broadcast(pos_df), "pos")
           .select(q_id, "sub", "code", "md"))
    adc = (codes.join(F.broadcast(lut), ["sub", "code"])
           .groupBy(q_id, id_col)
           .agg(F.sum("md").alias("adc_microdist")))
    w_short = Window.partitionBy(q_id).orderBy(
        F.col("adc_microdist").asc(), F.col(id_col))
    short = (adc.withColumn("__rn", F.row_number().over(w_short))
             .filter(F.col("__rn") <= shortlist).drop("__rn"))
    v = F.col(vec_col).cast("array<double>")
    scored = (short.join(df.select(F.col(id_col), v.alias("__v")),
                         id_col)
              .join(qs, q_id)
              .select(q_id, id_col, "adc_microdist",
                      F.round(cosine(F.col("__v"), F.col("__qv")), 6)
                      .alias("score")))
    w_rank = Window.partitionBy(q_id).orderBy(
        F.col("score").desc(), F.col(id_col))
    return (scored.withColumn("rnk", F.row_number().over(w_rank))
            .filter(F.col("rnk") <= k)
            .select(q_id, id_col, "adc_microdist", "score", "rnk"))


def pq_encode(emb: DataFrame, codebooks: DataFrame, rotation: DataFrame,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Encode vectors against an EXISTING PQ/OPQ index model (the
    generation-append half of the ``pq_index`` artifact family):
    rotate with the standing rotation (map-only Arrow matmul via
    ``pca_project``) and assign codes with the standing codebooks
    (``_pq_assign_udf`` — same left-fold distances and first-min
    tie-break as training).  No refit: codebooks are refit artifacts
    (the ``mode='append'`` contract), so appended generations' codes
    stay comparable with the standing ones.  Cost ∝ the drop."""
    cent_list, m, dsub = _cent_list_from_codebooks(codebooks)
    d = m * dsub
    v = F.col(vec_col).cast("array<double>")
    base = (emb.select(F.col(id_col).alias("id"),
                       F.slice(v, 1, d).alias("p"))
            .filter(v.isNotNull() & (F.size(v) >= d)))
    rotated = pca_project(base, rotation, k=d, vec_col="p", out="y")
    assign = _pq_assign_udf(cent_list, m, dsub)
    return (rotated.select("id", assign(F.col("y")).alias("cs"))
            .select(F.col("id").alias(id_col),
                    F.posexplode("cs").alias("sub", "code"))
            .withColumn("sub", F.col("sub").cast("long")))


def kmeans_codes(df: DataFrame, k: int = 8, iters: int = 5,
                 id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF coarse-code build: Lloyd's k-means with deterministic seeding
    (the k lowest-id vectors).  Same driver-held-model iteration shape
    as ``pq_train`` (the MLlib-KMeans pattern): centroids are model
    state in the fold's closure, each iteration is ONE vectorized Arrow
    pass emitting model-sized partial sums/counts per partition
    (`_lloyd_pass` — r13: no per-iteration posexplode shuffle); the
    corpus never collects and never forms per-candidate join rows.
    Returns (id, code) for partition-pruned probing at query time."""
    v = F.col(vec_col).cast("array<double>")
    # null embeddings are excluded up front (like _pq_train_model): a
    # null among the k lowest-id SEED rows would otherwise crash model
    # init with a raw TypeError, and any null crashes the assign stack
    pts = (df.select(F.col(id_col).alias("id"), v.alias("p"))
           .filter(F.col("p").isNotNull()))
    # cache across the iters+1 assign scans (see _pq_train_model note);
    # released via release_cached()
    from ._cache import persist as _persist
    pts = _persist(pts, "similarity")
    # seed: the k lowest-id vectors, code = rank-by-id — identical on
    # any cluster/plan and SQL-reproducible.  dim derives from the seed
    # collect (no extra job; also guards empty input).
    seed_rows = pts.orderBy("id").limit(k).collect()      # model-sized
    if not seed_rows:
        raise ValueError(
            "kmeans_codes: no usable embeddings (all null or empty input)")
    dim = len(seed_rows[0].p)
    cent_list: list[dict[int, list[float]]] = [
        {c: list(map(float, r.p)) for c, r in enumerate(seed_rows)}]

    def assign_df():
        # m=1 "subspace" of the full dimension reuses the PQ assign UDF
        # (same left-fold distance, same (d, code) tie-break)
        assign = _pq_assign_udf(cent_list, 1, dim)
        return pts.select("id", "p",
                          F.element_at(assign(F.col("p")), 1).alias("code"))

    for _ in range(iters):
        # r13 (guide §4.2/§2.3): one Arrow pass with model-sized output
        # (assignment + per-(code, dim) sums/counts fold together) —
        # replaces the posexplode → groupBy(code, pos) → avg pass that
        # shuffled `dim` exploded rows per vector per iteration
        cent_list = _lloyd_pass(pts, cent_list, 1, dim)
    return assign_df().select(F.col("id").alias(id_col), "code")


def embedding_drift(new: DataFrame, centroids: DataFrame,
                    prior_codes: DataFrame, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    cell_col: str = "cell") -> DataFrame:
    """Embedding-space crawl drift: the coarse-cell occupancy
    distribution of a NEW embedding batch (assigned map-side to the
    SNAPSHOT centroids — `ivf_assign`, the fixed coarse index) against
    the prior corpus's codes table — the modality sibling of
    `text.vocab_drift` (text drift watches the unigram distribution;
    this watches where new content lands in embedding space: a topic
    shift, a new content farm, or an encoder regression moves cells
    before any downstream metric).  Returns one row per occupied cell
    ``(cell, prior_frac, new_frac, delta)`` (6dp; delta from the raw
    fractions, not the rounded ones).

    Scale shape: assignment is the map-only broadcast-centroid argmax
    (zero Exchange over the new batch); each side reduces to a
    |cells|-row count table (map-side combinable); the report is a
    full outer join of two model-sized tables."""
    new_codes = ivf_assign(new, centroids, id_col=id_col,
                           vec_col=vec_col, cell_col=cell_col)
    nf = new_codes.groupBy(cell_col).agg(F.count("*").alias("__nn"))
    pf = prior_codes.groupBy(cell_col).agg(F.count("*").alias("__np"))
    j = (pf.join(nf, cell_col, "full_outer")
         .select(cell_col,
                 F.coalesce("__np", F.lit(0)).alias("__np"),
                 F.coalesce("__nn", F.lit(0)).alias("__nn")))
    totals = j.agg(F.sum("__np").alias("__tp"),
                   F.sum("__nn").alias("__tn"))
    pfrac = F.col("__np") / F.col("__tp")
    nfrac = F.col("__nn") / F.col("__tn")
    return (j.crossJoin(F.broadcast(totals))
            .select(cell_col,
                    F.round(pfrac, 6).alias("prior_frac"),
                    F.round(nfrac, 6).alias("new_frac"),
                    F.round(nfrac - pfrac, 6).alias("delta"))
            .orderBy(cell_col))


def rrf_fuse(rankings: Sequence[DataFrame], id_cols: Sequence[str],
             score_col: str = "score", k: int = 60,
             out: str = "rrf_score") -> DataFrame:
    """Reciprocal-rank fusion of N candidate lists (Cormack/Clarke/
    Buettcher 2009): each list is ranked by (``score_col`` DESC,
    ``id_cols`` ASC — deterministic tie-break), an item contributes
    ``1/(k + rank)`` per list it appears in, and the fused table is the
    UNION of the candidate lists (an item missing from a list simply
    contributes nothing for it — standard RRF).  The hybrid-retrieval
    primitive: fuse a lexical BM25 list with an embedding-cosine list
    without score calibration.

    Scale shape: rankings are CANDIDATE lists — each already top-K
    bounded by its retriever (``bm25_topk`` / ``brute_force_topk`` /
    ``ivf_topk`` end in a TakeOrdered of K rows) — so the unpartitioned
    rank window and the N-way full outer join run over K-row tables,
    never the corpus.  Contributions are summed in list order
    (coalesce-chain, fixed expression order), so the fused score is
    bit-reproducible and 6dp-rounded for oracle comparison."""
    ids = list(id_cols)
    fused = None
    for i, r in enumerate(rankings):
        w = Window.orderBy(F.desc(score_col), *ids)
        contrib = (r.select(*ids, F.row_number().over(w).alias("__rk"))
                   .select(*ids,
                           (F.lit(1.0) / (F.lit(float(k)) + F.col("__rk")))
                           .alias(f"__c{i}"),
                           F.col("__rk").alias(f"rank_{i}")))
        fused = contrib if fused is None else fused.join(contrib, ids, "full")
    total = None
    for i in range(len(rankings)):
        c = F.coalesce(F.col(f"__c{i}"), F.lit(0.0))
        total = c if total is None else total + c
    return (fused.select(*ids, F.round(total, 6).alias(out),
                         *[F.col(f"rank_{i}")
                           for i in range(len(rankings))])
            .orderBy(F.desc(out), *ids))


def pca_fit(df: DataFrame, vec_col: str = "embedding",
            k: int | None = None) -> DataFrame:
    """Distributed PCA fit over an embedding column: returns a model
    table with one ``idx = -1`` row carrying the per-dimension MEAN and
    one row per principal component (``idx`` 0.. in DESCENDING
    eigenvalue order, ``w`` the unit eigenvector, ``eigval`` the
    variance it explains).  ``k`` limits how many components are kept
    (default: all).

    Scale shape: ONE corpus pass — each input partition folds its rows
    into (n, sum, sum-of-outer-products) partials in float64 numpy and
    emits a single (d + d^2)-double row; the driver combines the
    ~#partitions partials IN PARTITION ORDER (deterministic float
    summation), forms the d x d covariance, and runs numpy ``eigh`` on
    it — O(d^2) driver memory, never O(rows).  Eigenvector sign is
    fixed by making each vector's largest-|coordinate| entry positive,
    so the model is reproducible across runs and partitionings up to
    float addition order.  At 100 TB this is a map-side-combined scan
    of the vector column only (column pruning keeps text/payload out)."""
    # probe the FIRST NON-NULL vector for the dimension — a null in
    # row 0 is legal input (nulls are dropped in the fold below), so
    # the dim probe must skip it rather than error
    first = df.where(F.col(vec_col).isNotNull()).select(vec_col).first()
    if first is None or first[0] is None:
        raise ValueError("pca_fit needs at least one non-null vector")
    d = len(first[0])

    def partials(batches):
        from pyspark import TaskContext
        n = 0
        s = np.zeros(d, dtype=np.float64)
        ss = np.zeros((d, d), dtype=np.float64)
        for pdf in batches:
            vals = pdf[vec_col].dropna().to_numpy()
            if not len(vals):
                continue  # np.stack([]) would raise, not return empty
            arr = np.stack(vals).astype(np.float64, copy=False)
            if arr.shape[1] != d:
                raise ValueError(
                    f"ragged vectors: expected dim {d}, got {arr.shape[1]}")
            if not np.isfinite(arr).all():
                raise ValueError(
                    "non-finite embedding values — a NaN/inf silently "
                    "poisons the covariance; filter or clamp upstream")
            n += arr.shape[0]
            s += arr.sum(axis=0)
            ss += arr.T @ arr
        if n:
            yield pd.DataFrame([{
                "pid": TaskContext.get().partitionId(), "n": n,
                "s": s.tolist(), "ss": ss.reshape(-1).tolist()}])

    rows = sorted(
        df.select(vec_col).mapInPandas(
            partials, "pid int, n long, s array<double>, ss array<double>")
        .collect(), key=lambda r: r["pid"])
    if not rows:
        raise ValueError("pca_fit needs at least one non-null vector")
    n = sum(r["n"] for r in rows)
    if n < 2:
        raise ValueError("pca_fit needs at least two vectors")
    s = np.zeros(d)
    ss = np.zeros((d, d))
    for r in rows:  # partition order: deterministic summation
        s += np.asarray(r["s"])
        ss += np.asarray(r["ss"]).reshape(d, d)
    mean = s / n
    cov = (ss - n * np.outer(mean, mean)) / (n - 1)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1]
    if k is not None:
        order = order[:k]
    model = [(-1, mean.tolist(), 0.0)]
    for rank, j in enumerate(order):
        v = vecs[:, j]
        if v[int(np.argmax(np.abs(v)))] < 0:  # sign convention
            v = -v
        model.append((rank, v.tolist(), float(vals[j])))
    return local_frame(df.sparkSession, model,
                       "idx int, w array<double>, eigval double")


def pca_project(df: DataFrame, model: DataFrame, k: int | None = None,
                vec_col: str = "embedding", out: str = "pca",
                whiten: bool = False) -> DataFrame:
    """Project vectors onto the top-``k`` principal components of a
    ``pca_fit`` model: ``out`` = W (x - mean) as ``array<double>``.
    Map-only — the (k+1) x d model collects once driver-side (tiny) and
    rides into an Arrow-vectorized ``mapInPandas`` closure; each batch
    is one numpy matmul.  No join, no shuffle, append-legal in a live
    chain.  With ``k = d`` the projection is a pure rotation and
    preserves centered L2 norms (Parseval) — the invariant the oracle
    checks; with ``k < d`` it is the usual lossy reduction (norms can
    only contract).

    ``whiten=True`` additionally divides coordinate *i* by
    sqrt(eigval_i), giving each kept dimension unit variance over the
    FIT corpus (the preprocessing cosine/L2 indexes want when leading
    components would otherwise dominate the metric).  Whitening a
    near-zero-variance component just amplifies float noise, so it
    raises — drop such dims by lowering ``k``."""
    rows = model.collect()
    mean = None
    comps = []
    for r in rows:
        if r["idx"] == -1:
            mean = np.asarray(r["w"], dtype=np.float64)
        else:
            comps.append((r["idx"], np.asarray(r["w"], dtype=np.float64),
                          r["eigval"]))
    if mean is None or not comps:
        raise ValueError("model lacks the mean (-1) or component rows — "
                         "was it written by pca_fit?")
    comps.sort(key=lambda c: c[0])
    w = np.stack([v for _, v, _ in comps])
    evs = np.asarray([e for _, _, e in comps], dtype=np.float64)
    if k is not None:
        if k > len(comps):
            raise ValueError(f"k={k} > {len(comps)} fitted components")
        w = w[:k]
        evs = evs[:k]
    if whiten:
        if (evs < 1e-12).any():
            bad = int(np.argmax(evs < 1e-12))
            raise ValueError(
                f"whiten=True with near-zero eigenvalue at component "
                f"{bad} ({evs[bad]:.3e}) — reduce k below it")
        w = w / np.sqrt(evs)[:, None]
    wt = w.T.copy()  # d x k, contiguous for the batch matmul

    in_fields = df.schema.fieldNames()
    if out in in_fields:
        raise ValueError(f"output column {out!r} already exists")
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema]
        + [f"`{out}` array<double>"])

    def project(batches):
        for pdf in batches:
            pdf = pdf.copy()
            vals = pdf[vec_col].to_numpy()
            valid = np.fromiter((v is not None for v in vals), dtype=bool,
                                count=len(vals))
            res = [None] * len(vals)
            if valid.any():
                arr = np.stack(vals[valid]).astype(np.float64, copy=False)
                proj = (arr - mean) @ wt
                for i, j in enumerate(np.flatnonzero(valid)):
                    res[j] = proj[i]
            # null vector -> null projection (a map stage cannot drop
            # its row)
            pdf[out] = res
            yield pdf

    return df.mapInPandas(project, out_schema)
