"""Corpus snapshot artifacts: the durable tables a continuous-build
pipeline materializes once per snapshot so every later crawl batch can
probe them WITHOUT re-reading or re-hashing the corpus.

One snapshot =
  * ``digests``   — exact-dedup content hashes (`dedup.exact_groups`),
                    the prior side of `incremental_keep`;
  * ``bands``     — the MinHash-LSH band table (`dedup.banded_signatures`),
                    the prior side of `incremental_near_dup`;
  * ``clusters``  — the near-dup cluster labels (pass
                    ``cluster_labels=True``): `dedup.connected_components`
                    over the candidate pairs `dedup.band_pairs` reads
                    from the ``bands`` table just written (derived
                    from the docs only when ``bands`` is not written);
                    appends relabel via `dedup.incremental_components`;
  * ``blocks``    — the sign-LSH embedding block table
                    (`dedup.embedding_block_table`), the prior side of
                    `incremental_embedding_near_dup`;
  * ``segments``  — the segment-digest table (`dedup.segment_digests`,
                    distinct ``__d``), the prior side of
                    `incremental_segment_dedup`;
  * ``grams``     — the positional-gram digest table
                    (`dedup.gram_digests`, distinct ``__g``), the prior
                    side of `incremental_substring_dedup`;
  * ``lm_bigrams`` / ``lm_prefixes`` / ``lm_vocab`` — the fitted
                    bigram-LM model tables (`text.bigram_lm_model`),
                    applied to later crawls (batch or live stream) by
                    `text.bigram_lm_apply`;
  * ``lm_k1`` .. ``lm_k{N}`` + ``lm_totals`` — the order-``N``
                    stupid-backoff LM count tables
                    (`text.ngram_lm_model`, pass ``ngram_order=N``),
                    reassembled by `read_ngram_lm` and applied by
                    `text.ngram_lm_apply` (batch or live stream);
  * ``quality_weights`` — the hashed-feature quality-classifier weight
                    table (`text.quality_classifier_fit`, needs a
                    labeled corpus), applied by
                    `text.quality_classifier_apply`;
  * ``lang_weights`` — the hashed char-n-gram multi-class NB language
                    model (`text.lang_id_fit`, needs a lang-labeled
                    corpus), applied by `text.lang_id_apply`;
  * ``bpe_merges`` — the fitted BPE tokenizer merge table
                    (`tokenizer.bpe_fit`, pass ``bpe_merges=N``),
                    applied by `tokenizer.bpe_apply` — train once per
                    snapshot so later crawls tokenize under the SAME
                    vocabulary;
  * ``unigram_pieces`` — the fitted unigram-LM tokenizer piece table
                    (`tokenizer.unigram_fit`, pass ``unigram_vocab=N``),
                    applied by `tokenizer.unigram_apply` — the same
                    train-once-per-snapshot contract as BPE, for the
                    sentencepiece-family vocabulary;
  * ``centroids`` + ``codes`` — the IVF coarse index
                    (`similarity.label_centroids` / `ivf_assign`),
                    served by `ivf_topk_from_index` / `ann_topk_stream`
                    and appended to by `ivf_assign` on new batches.

Scale notes: each table is written partitioned/sized for its probe —
digests and band/block tables are equi-join keys, centroids are
model-sized.  Writing is one pass over the corpus per artifact family;
reading is schema-on-read parquet.

Pass ``bucket_probes=N`` to materialize the five probe tables
(digests/grams/segments/bands/blocks) BUCKETED + sorted on their join
keys instead: every later incremental probe then scans the snapshot
side ``Bucketed: true`` with ZERO Exchange — only the (small) new
crawl batch shuffles, into N partitions matching the buckets.  At
100 TB the snapshot digest tables are the big side of every probe
join, so this removes the dominant recurring shuffle of the
continuous-build loop for one extra sort at write time.  No metastore
is required: the tables are EXTERNAL (files live under ``out_dir``)
and the manifest records their DDL, so ``read_snapshot`` re-registers
them into whatever catalog the reading session has (in-memory
included) — bucket metadata survives any session boundary."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: artifact name -> builder(docs, emb) (documented above)
_TABLES = ("digests", "bands", "blocks", "centroids", "codes",
           "segments", "grams", "lm_bigrams", "lm_prefixes", "lm_vocab",
           "quality_weights", "lang_weights", "bpe_merges",
           "unigram_pieces")

#: probe tables eligible for bucketed materialization -> their
#: equi-join keys (the columns every incremental probe joins on)
_BUCKET_KEYS = {"digests": ["content_hash"], "grams": ["__g"],
                "segments": ["__d"], "bands": ["band", "band_hash"],
                "blocks": ["block"]}


def _bloom_probe_key(name: str):
    """(key Column aliased ``__bk``, manifest description) for a probe
    family's Bloom — ONE place defines each family's key derivation so
    build (write/append) and probe sides can never drift.  The bands
    family keys on a derived single column over its composite
    (band, band_hash) key (`dedup.band_bloom_key`)."""
    from pyspark.sql import functions as F
    if name == "bands":
        from .dedup import band_bloom_key
        return band_bloom_key().alias("__bk"), "xxhash64(band, band_hash)"
    col = {"digests": "content_hash", "segments": "__d",
           "grams": "__g", "blocks": "block"}[name]
    return F.col(col).alias("__bk"), col


def _register_bucketed(spark: SparkSession, meta: dict,
                       path: str) -> None:
    """Register (CREATE) the external bucketed table a manifest entry
    describes — the ONE definition of the DDL, shared by read_snapshot
    and compact_snapshot so the registration forms can never drift."""
    cols = ", ".join(meta["cols"])
    spark.sql(
        f"CREATE TABLE {meta['table']} ({meta['schema']}) USING PARQUET "
        f"CLUSTERED BY ({cols}) SORTED BY ({cols}) "
        f"INTO {meta['n']} BUCKETS LOCATION '{path}'")


def _snap_table(out_dir: str, name: str) -> str:
    """Deterministic catalog name for a snapshot's bucketed probe
    table (unique per snapshot directory, stable across sessions)."""
    import hashlib
    h = hashlib.md5(out_dir.encode()).hexdigest()[:10]
    return f"snap_{h}_{name}"


def _family_frame(spark: SparkSession, out_dir: str, name: str,
                  bucket_tables: dict, schema=None) -> DataFrame:
    """A written artifact family read back as written: a bucketed one
    through its catalog table (which knows the schema even when an
    empty family wrote no part files), a plain one through its parquet
    path.  ``schema`` (that of the frame just written) skips parquet
    schema inference, which is a Spark job per read."""
    meta = bucket_tables.get(name)
    if meta:
        return spark.table(meta["table"])
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(os.path.join(out_dir, name))


def _counted(df: DataFrame):
    """``(observed, rows)``: ``df`` with its row count observed, and a
    function that returns that count once an action has run over
    ``observed`` — the count rides on a write instead of a job of its
    own.  AQE drops a query stage it has found empty from the final
    plan, and the observed metrics inside it with it; only when the
    observation reports nothing is ``df`` counted by a job."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    obs = Observation()
    observed = df.observe(obs, F.count(F.lit(1)).alias("n"))

    def rows() -> int:
        if obs._jo.getRow().size() == 0:
            return df.count()
        return int(obs.get["n"])
    return observed, rows


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the Hadoop FS API — the
    manifest and existence checks must go through the SAME filesystem
    the artifact tables are written to (HDFS/S3 in deployment);
    driver-local ``open()``/``os.path`` silently sees nothing there."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def _fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    """Atomic-ish text write: create a sibling tmp file, then swap it
    into place with checked renames — a crash mid-write leaves either
    the old file or the new one, never a truncated half."""
    tmp = path + ".__tmp"
    fs, jtmp = _hadoop_fs(spark, tmp)
    out = fs.create(jtmp, True)
    try:
        out.write(bytearray(text, "utf-8"))
    finally:
        out.close()
    _swap_path(spark, tmp, path)


def _swap_path(spark: SparkSession, tmp: str, dst: str) -> None:
    """Replace ``dst`` (file or directory) with ``tmp`` via CHECKED
    renames: the old dst is moved aside first and deleted only after
    the new one is in place, so a crash leaves either the old or the
    new — never neither, and never a half-deleted mix.  Hadoop
    FileSystem signals failure by RETURNING FALSE (not raising), so
    every return value is checked."""
    fs, jdst = _hadoop_fs(spark, dst)
    _, jtmp = _hadoop_fs(spark, tmp)
    bak = dst.rstrip("/") + ".__bak"
    _, jbak = _hadoop_fs(spark, bak)
    if not fs.exists(jtmp):
        raise IOError(f"swap source missing: {tmp}")
    if fs.exists(jbak) and not fs.delete(jbak, True):
        raise IOError(f"could not clear stale backup {bak}")
    had_old = fs.exists(jdst)
    if had_old and not fs.rename(jdst, jbak):
        raise IOError(f"could not move {dst} aside to {bak}")
    if not fs.rename(jtmp, jdst):
        if had_old:
            fs.rename(jbak, jdst)  # restore before failing
        raise IOError(f"could not move {tmp} into place at {dst}")
    if had_old and not fs.delete(jbak, True):
        raise IOError(f"replaced {dst} but could not delete backup {bak}")


def _fs_read_text(spark: SparkSession, path: str) -> str:
    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        raise FileNotFoundError(
            f"snapshot manifest not found: {path} (is this a snapshot "
            f"dir written by write_snapshot?)")
    stream = fs.open(jpath)
    try:
        # py4j copies a Python bytearray INTO Java and never back, so
        # readFully(buf) can't return data; drain JVM-side instead
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8")
    finally:
        stream.close()


def write_snapshot(out_dir: str, docs: DataFrame | None = None,
                   emb: DataFrame | None = None,
                   labeled: DataFrame | None = None,
                   num_hashes: int = 16, bands: int = 4,
                   shingle_n: int = 3, lsh_bits: int = 6,
                   segment_size: int = 10, sub_min_len: int = 20,
                   qc_buckets: int = 1024,
                   lang_labeled: DataFrame | None = None,
                   lang_buckets: int = 4096,
                   bucket_probes: int | None = None,
                   digest_wide: bool = False,
                   bpe_merges: int | None = None,
                   bpe_min_count: int = 1,
                   bpe_max_vocab: int | None = None,
                   unigram_vocab: int | None = None,
                   unigram_em_iters: int = 4,
                   ngram_order: int | None = None,
                   bloom_fpp: float | None = None,
                   bloom_shards: int = 1,
                   cluster_labels: bool = False,
                   doc_freq: bool = False,
                   pq_m: int | None = None,
                   pq_dsub: int = 8,
                   pq_ksub: int = 16,
                   pq_opq_iters: int = 0,
                   pq_train_iters: int = 2,
                   pq_by_cell: bool = False,
                   doc_families: "tuple[str, ...] | list[str] | None" = None,
                   mode: str = "overwrite") -> list[str]:
    """Materialize the snapshot artifact tables for a corpus (either
    side optional: text-only corpora skip the embedding artifacts and
    vice versa).  Returns the artifact names written.

    Also writes ``manifest.json`` recording the hashing parameters the
    tables were built with: every incremental probe is only correct
    against artifacts built with MATCHING parameters (a band table
    built with different ``num_hashes``/``bands``/``shingle_n``
    produces silently-empty joins, not errors) — ``check_compat``
    turns that silent corruption into a loud one.

    ``digest_wide=True`` builds the exact-content ``digests`` and
    ``segments`` tables with TWO independent digest columns
    (``content_hash2`` / ``__d2`` — `dedup.digest_cols`): the
    incremental probes then elect on 120 bits, the digest-width
    discipline for corpora past the single-digest birthday bound
    (~10^11 docs / 10^12 segments; SCALE.md).  Probe calls must pass
    the matching ``wide=True`` — recorded in the manifest so
    ``check_compat(path, digest_wide=True)`` can assert it.

    ``bloom_fpp`` (e.g. 0.01) additionally writes a Bloom pre-filter
    word table per exact-probe family (``bloom_digests`` /
    ``bloom_segments`` / ``bloom_grams`` — bloom.py): the map-side
    membership sketch the incremental probes take as ``prior_bloom=``
    so a crawl drop's definitely-novel digests never enter the
    anti-join Exchange.  Sized from each family's actual distinct-key
    count at the given fpp; geometry (m, k, n) is pinned in the
    manifest and rehydrated by ``read_bloom``.

    ``pq_m`` (+ ``pq_dsub``/``pq_ksub``/``pq_opq_iters``/
    ``pq_train_iters``/``pq_by_cell``) writes the PQ/OPQ ANN index
    artifact family from ``emb``: ``pq_codes`` / ``pq_codebooks`` /
    ``pq_rotation`` (identity for plain PQ, the learned OPQ rotation
    when ``pq_opq_iters > 0``), geometry pinned in the manifest.
    ``pq_by_cell=True`` hive-partitions the codes by the IVF ``label``
    so ``ivfpq_index_topk``'s probe is file pruning.  Serve with
    ``read_pq_index`` + ``pq_index_topk``; appends ENCODE drops
    against the standing model (``pq_encode`` — no refit).

    ``doc_families`` restricts which docs-derived PROBE families are
    written (subset of ``("digests", "bands", "segments", "grams",
    "bigram_lm")``; default ``None`` writes all of them, the historical
    behavior).  A snapshot that exists to serve ONE artifact family —
    e.g. the generational-IDF ``doc_freq`` table — should not pay the
    corpus passes and shuffles of four dedup probe tables plus a bigram
    LM it will never read.  Appends/retractions/compactions are driven
    by the manifest's ``tables`` list, so families never written are
    never maintained either: refresh cost tracks what the snapshot
    actually serves.

    ``mode="append"`` is the incremental refresh (generation append):
    instead of rewriting the whole snapshot per crawl drop — 100 TB x
    N generations of churn at daily cadence — the DROP's probe rows
    (digests / bands / segments / grams; blocks + codes for an ``emb``
    drop, assigned against the EXISTING centroids) append into the
    standing artifact tables (bucket-spec-preserving writes), the
    Bloom word tables fold the drop in under their pinned geometry
    (one union + bit_or — a filter-sized rewrite, never a corpus one),
    and the manifest records generation lineage.  Hashing parameters
    come from the MANIFEST (a drop hashed differently would probe as
    silently novel), so the only accepted arguments are the data
    frames — passing model-fit or hashing params with mode="append"
    raises (models are refit artifacts: re-fit and overwrite those
    deliberately).  Refresh cost is proportional to the DROP (plus the
    filter-sized bloom rewrite), measured in SCALE.md."""
    from .dedup import (banded_signatures, embedding_block_table,
                        exact_groups)
    from .similarity import ivf_assign, label_centroids

    if mode == "append":
        defaults = {"labeled": (labeled, None), "num_hashes": (num_hashes, 16),
                    "bands": (bands, 4), "shingle_n": (shingle_n, 3),
                    "lsh_bits": (lsh_bits, 6), "segment_size": (segment_size, 10),
                    "sub_min_len": (sub_min_len, 20), "qc_buckets": (qc_buckets, 1024),
                    "lang_labeled": (lang_labeled, None),
                    "lang_buckets": (lang_buckets, 4096),
                    "bucket_probes": (bucket_probes, None),
                    "digest_wide": (digest_wide, False),
                    "bpe_merges": (bpe_merges, None),
                    "bpe_min_count": (bpe_min_count, 1),
                    "bpe_max_vocab": (bpe_max_vocab, None),
                    "unigram_vocab": (unigram_vocab, None),
                    "unigram_em_iters": (unigram_em_iters, 4),
                    "ngram_order": (ngram_order, None),
                    "bloom_fpp": (bloom_fpp, None),
                    "cluster_labels": (cluster_labels, False),
                    "doc_freq": (doc_freq, False),
                    "pq_m": (pq_m, None), "pq_dsub": (pq_dsub, 8),
                    "pq_ksub": (pq_ksub, 16),
                    "pq_opq_iters": (pq_opq_iters, 0),
                    "pq_train_iters": (pq_train_iters, 2),
                    "pq_by_cell": (pq_by_cell, False),
                    "doc_families": (doc_families, None)}
        extra = sorted(k2 for k2, (v, d) in defaults.items() if v != d)
        if extra:
            raise ValueError(
                f"mode='append' takes only docs/emb — hashing params come "
                f"from the manifest and model artifacts are refit, not "
                f"appended; got {extra}")
        return _append_snapshot(out_dir, docs=docs, emb=emb)
    if mode != "overwrite":
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")

    written = []
    bucket_tables: dict[str, dict] = {}
    schemas: dict = {}
    bucket_keys = dict(_BUCKET_KEYS)
    # invalidate any EXISTING snapshot before rewriting its artifacts:
    # a crash mid-rewrite must leave "no manifest" (read_snapshot and
    # every probe then fail loudly) rather than the OLD manifest
    # describing NEW files — stale Bloom geometry / bucket counts served
    # silently are exactly the corruptions check_compat exists to stop
    _stale = next((d for d in (docs, emb, labeled, lang_labeled)
                   if d is not None), None)
    if _stale is not None:
        mpath = os.path.join(out_dir, "manifest.json")
        fs, jm = _hadoop_fs(_stale.sparkSession, mpath)
        if fs.exists(jm) and not fs.delete(jm, False):
            raise IOError(f"could not invalidate stale manifest {mpath}")
    if digest_wide:
        # wide elections join on BOTH digest columns — bucket on the
        # full join key set so the probe's Exchange elimination holds
        bucket_keys["digests"] = ["content_hash", "content_hash2"]
        bucket_keys["segments"] = ["__d", "__d2"]
        bucket_keys["grams"] = ["__g", "__g2"]

    def _w(name: str, df: DataFrame) -> None:
        path = os.path.join(out_dir, name)
        keys = bucket_keys.get(name)
        if bucket_probes and keys:
            # EXTERNAL bucketed table: files under the snapshot dir,
            # bucket metadata re-registrable from the manifest DDL in
            # any later session (no metastore dependency) — the probe
            # join then scans this (big) side with zero Exchange
            t = _snap_table(out_dir, name)
            df.sparkSession.sql(f"DROP TABLE IF EXISTS {t}")
            (df.write.mode("overwrite")
             .bucketBy(bucket_probes, *keys).sortBy(*keys)
             .option("path", path).saveAsTable(t))
            bucket_tables[name] = {
                "table": t, "cols": keys, "n": bucket_probes,
                "schema": ", ".join(
                    f"{f.name} {f.dataType.simpleString()}"
                    for f in df.schema.fields)}
        else:
            df.write.mode("overwrite").parquet(path)
            schemas[name] = df.schema
        written.append(name)

    def _read_back(name: str) -> DataFrame:
        return _family_frame(spark_of, out_dir, name, bucket_tables,
                             schemas.get(name))

    bloom_meta: dict[str, dict] = {}

    def _bloom_w(name: str) -> None:
        """Write the family's Bloom pre-filter word table, sized from
        the JUST-WRITTEN artifact (read back — one cheap scan of the
        key column(s); re-deriving the digests would redo the family's
        shuffle).  Key derivation is `_bloom_probe_key` — the single
        definition the probes share."""
        if not bloom_fpp:
            return
        from .bloom import bloom_build
        key, desc = _bloom_probe_key(name)
        src = _read_back(name).select(key)
        # sized from the DISTINCT keys, as documented: bands keys on
        # xxhash64(band, band_hash) over a docs x bands table and blocks
        # on 2^lsh_bits values — sizing from raw rows would build a
        # filter orders of magnitude larger than the key set it holds.
        # The words build over the raw keys: bit_or is idempotent, so
        # a repeated key sets the same bits, one shuffle fewer
        n = max(1, src.distinct().count())
        if bloom_shards > 1:
            # range-sharded filter (bloom.py): per-shard geometry in
            # the manifest; the durable artifact gains a shard column
            from .bloom import bloom_build_sharded
            words, m_bits, k = bloom_build_sharded(
                src, "__bk", n_items=n, fpp=bloom_fpp,
                shards=bloom_shards)
        else:
            words, m_bits, k = bloom_build(src, "__bk", n_items=n,
                                           fpp=bloom_fpp)
        bname = f"bloom_{name}"
        words.write.mode("overwrite").parquet(
            os.path.join(out_dir, bname))
        bloom_meta[name] = {"m": m_bits, "k": k, "n": n,
                            "shards": bloom_shards, "col": desc}
        written.append(bname)

    # None when no source frame was passed: the per-family checks
    # below raise their specific errors (e.g. "bpe_merges needs docs")
    # before anything touches the session
    _src = next((d for d in (docs, emb, labeled, lang_labeled)
                 if d is not None), None)
    spark_of = _src.sparkSession if _src is not None else None

    _ALL_DOC_FAMILIES = ("digests", "bands", "segments", "grams",
                         "bigram_lm")
    doc_fams = set(_ALL_DOC_FAMILIES if doc_families is None
                   else doc_families)
    unknown = doc_fams - set(_ALL_DOC_FAMILIES)
    if unknown:
        raise ValueError(
            f"unknown doc_families {sorted(unknown)}; valid: "
            f"{list(_ALL_DOC_FAMILIES)}")
    if docs is not None:
        if "digests" in doc_fams:
            _w("digests", exact_groups(docs, wide=digest_wide))
            _bloom_w("digests")
        if "bands" in doc_fams:
            _w("bands", banded_signatures(docs, num_hashes=num_hashes,
                                          bands=bands,
                                          shingle_n=shingle_n))
            _bloom_w("bands")
        if "segments" in doc_fams:
            from .dedup import segment_digests
            seg_cols = ["__d", "__d2"] if digest_wide else ["__d"]
            _w("segments", segment_digests(docs, size=segment_size,
                                           wide=digest_wide)
               .select(*seg_cols).distinct())
            _bloom_w("segments")
        if "grams" in doc_fams:
            from .dedup import gram_digests
            gram_cols = ["__g", "__g2"] if digest_wide else ["__g"]
            _w("grams", gram_digests(docs, min_len=sub_min_len,
                                     wide=digest_wide)
               .select(*gram_cols).distinct())
            _bloom_w("grams")
        if "bigram_lm" in doc_fams:
            from .text import bigram_lm_model
            bgc, prec, vocab = bigram_lm_model(docs)
            _w("lm_bigrams", bgc)
            _w("lm_prefixes", prec)
            _w("lm_vocab", vocab)
    if cluster_labels:
        # the near-dup cluster label MAPPING (id -> min reachable id
        # over the LSH candidate graph) as a snapshot artifact: built
        # from scratch ONCE here; generation appends then relabel only
        # affected components via `incremental_components` (delta rows
        # carry a later ``gen``; `read_clusters` resolves latest-gen).
        # The candidate pairs come from the band table just written
        # (the same rows `lsh_candidate_pairs` would re-derive from
        # the docs); only a snapshot without the bands family derives
        # one here.
        if docs is None:
            raise ValueError("cluster_labels needs docs")
        from pyspark.sql import functions as F
        from .dedup import band_pairs, connected_components
        banded = (_read_back("bands") if "bands" in doc_fams
                  else banded_signatures(docs, num_hashes=num_hashes,
                                         bands=bands, shingle_n=shingle_n))
        _w("clusters", connected_components(band_pairs(banded))
           .withColumn("gen", F.lit(0)))
    n_docs = None
    if doc_freq:
        # the generational-IDF artifact family: the vocabulary-sized
        # token document-frequency table plus the manifest's running
        # ``n_docs`` — together they let a later drop be scored with
        # full-corpus-consistent IDF (text.idf_score) without re-reading
        # the prior corpus.  Generation appends FOLD counts in place
        # (token_doc_freq_merge: disjoint generations' per-token doc
        # counts add exactly), so the artifact stays one table.
        if docs is None:
            raise ValueError("doc_freq needs docs")
        from .text import token_doc_freq
        counted, n_rows = _counted(docs)
        _w("doc_freq", token_doc_freq(counted))
        n_docs = n_rows()
    if labeled is not None:
        # the model-based quality rung: a <= qc_buckets-row weight
        # table (bias/unseen rows included) applied map-side to every
        # later crawl — fit requires a 0/1 `label` column
        from .text import quality_classifier_fit
        _w("quality_weights",
           quality_classifier_fit(labeled, n_buckets=qc_buckets))
    if ngram_order is not None:
        # the order-N stupid-backoff LM artifact family: one count
        # table per n-gram order + the 1-row totals — refit per
        # snapshot, served to every later crawl (batch or live) by
        # ngram_lm_apply via read_ngram_lm
        if docs is None:
            raise ValueError("ngram_order needs docs")
        from .text import ngram_lm_model
        m = ngram_lm_model(docs, order=ngram_order)
        for k, cdf in m["counts"].items():
            _w(f"lm_k{k}", cdf)
        _w("lm_totals", m["totals"])
    if bpe_merges is not None:
        # the tokenizer model artifact: a fitted BPE merge table
        # (rank, left, right) — train once per snapshot, every later
        # crawl/batch encodes under the SAME vocabulary (tokenizer
        # drift between snapshots silently changes every token count
        # downstream; the manifest params make a mismatched re-fit
        # loud via check_compat)
        if docs is None:
            raise ValueError("bpe_merges needs docs")
        from .tokenizer import bpe_fit
        _w("bpe_merges", bpe_fit(docs, n_merges=bpe_merges,
                                 min_count=bpe_min_count,
                                 max_vocab=bpe_max_vocab))
    if unigram_vocab is not None:
        # the OTHER tokenizer family (sentencepiece unigram-LM): the
        # piece/logprob table under the same train-once-per-snapshot
        # contract as bpe_merges
        if docs is None:
            raise ValueError("unigram_vocab needs docs")
        from .tokenizer import unigram_fit
        _w("unigram_pieces", unigram_fit(docs, vocab_size=unigram_vocab,
                                         em_iters=unigram_em_iters))
    if lang_labeled is not None:
        # the language-ID rung: a <= lang_buckets*L-row per-language
        # weight table (prior/unseen rows included) applied map-side
        # to every later crawl — fit requires a string `lang` column
        from .text import lang_id_fit
        _w("lang_weights",
           lang_id_fit(lang_labeled, n_buckets=lang_buckets))
    if emb is not None:
        _w("blocks", embedding_block_table(emb, bits=lsh_bits))
        _bloom_w("blocks")
        cents = label_centroids(emb)
        _w("centroids", cents)
        _w("codes", ivf_assign(emb, cents))
    if pq_m is not None:
        # the PQ/OPQ ANN index artifact family: (vec_id, sub, code)
        # codes + codebooks + rotation — trained ONCE here (models are
        # refit artifacts); generation appends then ENCODE the drop
        # against these standing artifacts (`pq_encode` — the
        # incremental-IVF contract, so served distances stay
        # comparable across generations), and `pq_index_topk` serves
        # queries from the tables alone.  ``pq_opq_iters=0`` trains
        # plain PQ and pins the IDENTITY rotation so every index
        # serves through the one rotated path; > 0 trains OPQ-NP.
        if emb is None:
            raise ValueError("pq_m needs emb")
        from .similarity import identity_rotation, opq_train, pq_train
        if pq_opq_iters > 0:
            pcodes, pcents, prot = opq_train(
                emb, m=pq_m, dsub=pq_dsub, ksub=pq_ksub,
                iters=pq_opq_iters, pq_iters=pq_train_iters)
        else:
            pcodes, pcents = pq_train(emb, m=pq_m, dsub=pq_dsub,
                                      ksub=pq_ksub, iters=pq_train_iters)
            prot = identity_rotation(spark_of, pq_m * pq_dsub)
        if pq_by_cell:
            # HIVE-partition the codes by the IVF coarse cell (the emb
            # table's ``label``): `ivfpq_index_topk`'s probe filter
            # then reaches the scan as a PartitionFilter — each query
            # READS nprobe/K of the codes files, the claim every ADC
            # docstring makes, made physical.  Correctness is
            # unchanged (the label column rides along; ADC ignores it).
            if "label" not in emb.columns:
                raise ValueError("pq_by_cell needs a 'label' column on "
                                 "emb (the IVF coarse cell)")
            pcodes = pcodes.join(emb.select("vec_id", "label"), "vec_id")
            (pcodes.write.mode("overwrite").partitionBy("label")
             .parquet(os.path.join(out_dir, "pq_codes")))
            written.append("pq_codes")
        else:
            _w("pq_codes", pcodes)
        _w("pq_codebooks", pcents)
        _w("pq_rotation", prot)
    import json
    if spark_of is None:
        raise ValueError(
            "write_snapshot needs at least one of docs/emb/labeled/"
            "lang_labeled")
    _fs_write_text(
        spark_of, os.path.join(out_dir, "manifest.json"),
        json.dumps({"num_hashes": num_hashes, "bands": bands,
                    "shingle_n": shingle_n, "lsh_bits": lsh_bits,
                    "segment_size": segment_size,
                    "sub_min_len": sub_min_len,
                    "digest_wide": digest_wide,
                    "bpe_merges": bpe_merges,
                    "bpe_min_count": bpe_min_count,
                    "bpe_max_vocab": bpe_max_vocab,
                    "unigram_vocab": unigram_vocab,
                    "unigram_em_iters": unigram_em_iters,
                    "ngram_order": ngram_order,
                    "qc_buckets": qc_buckets,
                    "lang_buckets": lang_buckets,
                    "bucket_probes": bucket_probes,
                    "bucket_tables": bucket_tables,
                    "bloom_fpp": bloom_fpp,
                    "blooms": bloom_meta,
                    "n_docs": n_docs,
                    "pq": ({"m": pq_m, "dsub": pq_dsub, "ksub": pq_ksub,
                            "opq_iters": pq_opq_iters,
                            "train_iters": pq_train_iters,
                            "by_cell": pq_by_cell}
                           if pq_m is not None else None),
                    "tables": written}, indent=1))
    return written


def _append_snapshot(out_dir: str, docs: DataFrame | None = None,
                     emb: DataFrame | None = None) -> list[str]:
    """Generation append (see ``write_snapshot(mode="append")``): the
    drop's probe rows land in the standing artifact tables under the
    manifest's own hashing parameters.  Returns the artifact names
    appended to.  Probe semantics are unchanged — every incremental
    probe treats the tables as digest SETS (distinct/semi/anti), so
    generation-wise rows never need compaction for correctness; the
    manifest's ``generations`` list records the lineage."""
    import json
    if docs is None and emb is None:
        raise ValueError("mode='append' needs docs and/or emb")
    spark = (docs or emb).sparkSession
    manifest = json.loads(
        _fs_read_text(spark, os.path.join(out_dir, "manifest.json")))
    tables = set(manifest.get("tables") or ())
    if (emb is not None and "pq_codes" in tables
            and (manifest.get("pq") or {}).get("by_cell")
            and "label" not in emb.columns):
        # validate BEFORE any family append: failing at the pq encode
        # join after blocks/codes already appended would leave the
        # snapshot's families inconsistent (the write path's guard,
        # applied up front)
        raise ValueError("mode='append' into a pq_by_cell snapshot "
                         "needs a 'label' column on emb")
    bucket_tables = manifest.get("bucket_tables") or {}
    blooms = manifest.get("blooms") or {}
    wide = bool(manifest.get("digest_wide"))
    # ensure any bucketed tables are (re-)registered with the right
    # spec before appending: saveAsTable(mode=append) validates the
    # bucket spec against the catalog entry, never the files
    read_snapshot(spark, out_dir)
    appended = []

    def _a(name: str, df: DataFrame) -> None:
        if name not in tables:
            return  # family absent from this snapshot — nothing to extend
        # the drop's derivation (a full shuffle of the drop) feeds the
        # table append AND the Bloom fold AND its key count — persist so
        # it runs once per family, not three times per daily append.  A
        # frame the caller already persisted stays the caller's to
        # release (the drop's band table also feeds the cluster pairs)
        owned = not df.is_cached
        if owned:
            df = df.persist()
        try:
            meta = bucket_tables.get(name)
            if meta:
                (df.write.mode("append")
                 .bucketBy(meta["n"], *meta["cols"]).sortBy(*meta["cols"])
                 .option("path", os.path.join(out_dir, name))
                 .saveAsTable(meta["table"]))
            else:
                df.write.mode("append").parquet(
                    os.path.join(out_dir, name))
            appended.append(name)
            _bloom_a(name, df)
        finally:
            if owned:
                df.unpersist()

    def _bloom_a(name: str, df: DataFrame) -> None:
        """Fold the drop's keys into the family's standing Bloom under
        its PINNED geometry (one union + bit_or — a filter-sized
        rewrite).  The realized fpp drifts up as n grows past the
        sizing; the manifest's running ``n`` makes that drift visible
        (rebuild the filter when n outgrows the sizing — fpp only
        moves residue size, never correctness)."""
        meta = blooms.get(name)
        if not meta:
            return
        from .bloom import (bloom_build, bloom_build_sharded, bloom_merge,
                            bloom_merge_sharded)
        key, _desc = _bloom_probe_key(name)
        # the words build over the raw keys (bit_or is idempotent);
        # only the running ``n`` needs them distinct
        keys = df.select(key)
        path = os.path.join(out_dir, f"bloom_{name}")
        # dispatch on the manifest's PINNED geometry: a snapshot written
        # with bloom_shards>1 carries (shard, word, bits) tables and
        # shard-routed keys — folding a drop through the single-filter
        # build would both fail the union (schema mismatch) and strand
        # the new keys without shard routing
        if int(meta.get("shards", 1)) > 1:
            new_words, _, _ = bloom_build_sharded(
                keys, "__bk", shards=int(meta["shards"]),
                m_bits=meta["m"], k=meta["k"])
            merged = bloom_merge_sharded(spark.read.parquet(path),
                                         new_words)
        else:
            new_words, _, _ = bloom_build(keys, "__bk", m_bits=meta["m"],
                                          k=meta["k"])
            merged = bloom_merge(spark.read.parquet(path), new_words)
        # write the merged filter BESIDE the standing one and swap with
        # checked renames: an in-place overwrite both fails on the
        # self-referential read->write lineage and, worse, loses set
        # bits on a mid-write crash — a Bloom missing bits produces
        # FALSE NEGATIVES (silently retained duplicates), the one
        # failure mode the sketch contract forbids
        tmp = path + ".__new"
        merged.write.mode("overwrite").parquet(tmp)
        _swap_path(spark, tmp, path)
        meta["n"] = int(meta.get("n", 0)) + max(1, keys.distinct().count())
        appended.append(f"bloom_{name}")

    drop_bands = None
    if docs is not None and tables & {"bands", "clusters"}:
        # the drop's band table feeds the bands append (rows, Bloom
        # fold, key count) AND the cluster pairs below: derive it once,
        # persisted until both have run.  Derived only for a snapshot
        # carrying either family: an emb-only snapshot's manifest has
        # no hashing params for the doc families, and the parameter
        # lookup must not raise for families it doesn't carry
        from .dedup import banded_signatures
        drop_bands = banded_signatures(
            docs, num_hashes=manifest["num_hashes"],
            bands=manifest["bands"],
            shingle_n=manifest["shingle_n"]).persist()
    try:
        if docs is not None:
            from .dedup import exact_groups, gram_digests, segment_digests
            _a("digests", exact_groups(docs, wide=wide))
            if "bands" in tables:
                _a("bands", drop_bands)
            # membership-guarded BEFORE the derivations, for the same
            # reason as the band table above
            if "segments" in tables:
                seg_cols = ["__d", "__d2"] if wide else ["__d"]
                _a("segments", segment_digests(
                    docs, size=manifest["segment_size"], wide=wide)
                    .select(*seg_cols).distinct())
            if "grams" in tables:
                gram_cols = ["__g", "__g2"] if wide else ["__g"]
                _a("grams", gram_digests(
                    docs, min_len=manifest["sub_min_len"], wide=wide)
                    .select(*gram_cols).distinct())
        if docs is not None and "clusters" in tables:
            # generational cluster maintenance (incremental_components):
            # the drop's bands join the STANDING band table (which
            # already includes the drop's own just-appended rows, so
            # drop-prior AND drop-drop candidate pairs come from one
            # equi-join); only the affected components relabel, and the
            # delta rows append under a new generation — `read_clusters`
            # resolves latest-gen per id
            from pyspark.sql import functions as F
            from .dedup import incremental_components
            standing = _family_frame(spark, out_dir, "bands",
                                     bucket_tables)
            pairs = (drop_bands
                     .select("band", "band_hash",
                             F.col("doc_id").alias("__a"))
                     .join(standing.select("band", "band_hash",
                                           F.col("doc_id").alias("__b")),
                           ["band", "band_hash"])
                     .filter(F.col("__a") != F.col("__b"))
                     .select(F.least("__a", "__b").alias("id_a"),
                             F.greatest("__a", "__b").alias("id_b"))
                     .distinct())
            delta = incremental_components(read_clusters(spark, out_dir),
                                           pairs, full=False)
            g = len(manifest.get("generations") or []) + 1
            (delta.withColumn("gen", F.lit(g)).write.mode("append")
             .parquet(os.path.join(out_dir, "clusters")))
            appended.append("clusters")
    finally:
        if drop_bands is not None:
            drop_bands.unpersist()
    if docs is not None and "doc_freq" in tables:
        # MERGE family, not an append family: per-token doc counts of
        # disjoint generations ADD (token_doc_freq_merge), so the
        # artifact stays one vocabulary-sized table.  Written beside
        # and swapped like the Blooms: an in-place overwrite both
        # fails the self-referential lineage and could leave a
        # half-merged table on a mid-write crash.
        from .text import token_doc_freq_merge
        fpath = os.path.join(out_dir, "doc_freq")
        counted, n_rows = _counted(docs)
        merged = token_doc_freq_merge(spark.read.parquet(fpath), counted)
        tmp = fpath + ".__new"
        merged.write.mode("overwrite").parquet(tmp)
        _swap_path(spark, tmp, fpath)
        manifest["n_docs"] = int(manifest.get("n_docs") or 0) + n_rows()
        appended.append("doc_freq")
    if emb is not None:
        from .dedup import embedding_block_table
        from .similarity import ivf_assign
        _a("blocks", embedding_block_table(emb,
                                           bits=manifest["lsh_bits"]))
        if "codes" in tables:
            # assign against the EXISTING centroids (the incremental
            # IVF contract): the coarse index stays stable across
            # generations so served neighbors remain comparable
            cents = spark.read.parquet(os.path.join(out_dir, "centroids"))
            _a("codes", ivf_assign(emb, cents))
        if "pq_codes" in tables:
            # encode the drop against the STANDING rotation + codebooks
            # (pq_encode — same no-refit contract as the IVF centroids
            # above): appended generations' ADC distances stay
            # comparable with the standing index's.  Cost ∝ the drop.
            from .similarity import pq_encode
            enc = pq_encode(
                emb,
                spark.read.parquet(os.path.join(out_dir,
                                                "pq_codebooks")),
                spark.read.parquet(os.path.join(out_dir,
                                                "pq_rotation")))
            if (manifest.get("pq") or {}).get("by_cell"):
                # cell-partitioned index: the drop's rows land in their
                # cells' partitions (a drop touches few cells — a
                # partition-local append, not a table rewrite)
                (enc.join(emb.select("vec_id", "label"), "vec_id")
                 .write.mode("append").partitionBy("label")
                 .parquet(os.path.join(out_dir, "pq_codes")))
                appended.append("pq_codes")
            else:
                _a("pq_codes", enc)
    gens = manifest.get("generations") or []
    gens.append({"gen": len(gens) + 1, "appended": appended})
    manifest["generations"] = gens
    manifest["blooms"] = blooms
    _fs_write_text(spark, os.path.join(out_dir, "manifest.json"),
                   json.dumps(manifest, indent=1))
    return appended


def retract_snapshot(out_dir: str, docs: DataFrame | None = None,
                     emb: DataFrame | None = None) -> list[str]:
    """Takedown path for the continuous-build snapshot: remove the
    given documents' / embeddings' contribution to the PROBE artifacts
    so future identical or near-identical content is RE-ADMITTED
    rather than suppressed by a document that no longer exists (legal
    takedowns, licence expiry, user deletion — the retraction half the
    append/compact lifecycle was missing).

    Mechanics: each affected family gains a ``tomb_<family>`` parquet
    of retraction KEYS (appended, so takedown requests accumulate);
    `read_snapshot` / `read_clusters` anti-join them out map-side
    (takedown sets are legal-request-sized — they broadcast), and
    `compact_snapshot` folds them permanently (rewrites the family
    minus tombstones, deletes the tombstone table, and REBUILDS the
    family's Bloom under its pinned geometry).  Nothing here touches
    the corpus: cost ∝ the retracted docs (their digests re-derive
    under the manifest's parameters) plus, at compaction, the digest
    tables — never the 100 TB of text.

    Retraction keys per family — content-keyed where the artifact
    stores no ids, id-keyed where it does:

    * ``digests`` — the retracted docs' content hashes: takedown is a
      CONTENT property (every copy of the content goes), so digest-
      level removal is exactly right.
    * ``segments`` / ``grams`` — the retracted docs' fragment digests.
      CAVEAT: a fragment SHARED with retained docs is over-removed —
      future near-copies of that boilerplate are re-admitted (a
      dedup-recall loss, never wrongly-dropped new content) while the
      tombstone epoch lasts.  `compact_snapshot(docs=retained)`
      RESTORES those shared digests at fold time (re-derived from
      band-mate candidate docs at cost ∝ the takedown, or from the
      whole retained corpus with ``restore_scope='full'``); exact
      LIVE-epoch fragment retraction would need per-digest refcounts,
      a corpus-sized bookkeeping cost this deliberately avoids.
    * ``bands`` / ``blocks`` / ``codes`` — by the retracted doc/vector
      ids (those tables carry ids), which is id-precise: retained
      docs' rows are untouched.
    * ``clusters`` — the retracted ids' label rows drop; REMAINING
      members keep their label value even when the retracted doc WAS
      the min-id label (labels are opaque cluster keys, and
      `incremental_components`' min-label algebra stays consistent —
      a vanished min only means the key no longer names a live doc).
    * ``doc_freq`` — no tombstone: per-token counts subtract exactly
      (merge family), so the table folds in place and ``n_docs``
      decrements in the manifest.

    Blooms are NOT touched here: a Bloom cannot unset bits, so
    retracted keys stay sketch-positive until compaction rebuilds the
    filter — harmless, because every bloom-positive resolves through
    the exact (now tombstone-filtered) join; the sketch contract
    (no false negatives) is preserved throughout.

    Scope note: retraction removes the snapshot's dedup MEMORY of the
    content (future copies probe as novel).  If re-crawled copies of
    taken-down content must also be REJECTED, that is a policy gate,
    not a dedup artifact — keep the takedown digests in a blocklist
    and filter with an anti-join in the gate stack.

    Re-append timing (pinned by test): tombstones filter by KEY, so a
    generation append that re-adds retracted content BEFORE the next
    compaction stays invisible to probes (its digest matches the
    standing tombstone — retraction wins within its epoch), while a
    re-append AFTER compaction enters normally (the tombstone was
    folded away).  Re-admitting content inside the epoch therefore
    means compacting first; this keeps tombstone semantics a simple
    set-minus rather than per-row generation arithmetic."""
    import json
    if docs is None and emb is None:
        raise ValueError("retract needs docs and/or emb")
    spark = (docs if docs is not None else emb).sparkSession
    manifest = json.loads(
        _fs_read_text(spark, os.path.join(out_dir, "manifest.json")))
    tables = set(manifest.get("tables") or ())
    wide = bool(manifest.get("digest_wide"))
    tombs = manifest.get("tombstones") or {}
    retracted: list[str] = []

    def _t(name: str, keys: DataFrame) -> None:
        if name not in tables:
            return
        keys.distinct().write.mode("append").parquet(
            os.path.join(out_dir, f"tomb_{name}"))
        tombs[name] = list(keys.columns)
        retracted.append(name)

    if docs is not None:
        from pyspark.sql import functions as F
        from .dedup import exact_groups, gram_digests, segment_digests
        dcols = (["content_hash", "content_hash2"] if wide
                 else ["content_hash"])
        _t("digests", exact_groups(docs, wide=wide).select(*dcols))
        _t("bands", docs.select("doc_id"))
        # membership-guarded BEFORE the derivations: an emb-only
        # snapshot's manifest has no segment_size/sub_min_len, and the
        # parameter lookup must not raise for families it doesn't have
        if "segments" in tables:
            seg_cols = ["__d", "__d2"] if wide else ["__d"]
            _t("segments", segment_digests(
                docs, size=manifest["segment_size"], wide=wide)
                .select(*seg_cols))
        if "grams" in tables:
            gram_cols = ["__g", "__g2"] if wide else ["__g"]
            _t("grams", gram_digests(
                docs, min_len=manifest["sub_min_len"], wide=wide)
                .select(*gram_cols))
        _t("clusters", docs.select(F.col("doc_id").alias("id")))
        if "doc_freq" in tables:
            # counts SUBTRACT exactly (the family is a merge family and
            # the retracted docs were corpus members — retracting docs
            # never ingested would corrupt counts, same contract as the
            # digest families): fold negative per-token counts in and
            # drop zeros; no tombstone, the table IS the folded state
            from .text import token_doc_freq
            fpath = os.path.join(out_dir, "doc_freq")
            neg = (token_doc_freq(docs)
                   .select("token",
                           (-F.col("doc_freq")).alias("doc_freq")))
            merged = (spark.read.parquet(fpath).unionByName(neg)
                      .groupBy("token")
                      .agg(F.sum("doc_freq").alias("doc_freq"))
                      .filter(F.col("doc_freq") > 0))
            tmp = fpath + ".__new"
            merged.write.mode("overwrite").parquet(tmp)
            _swap_path(spark, tmp, fpath)
            manifest["n_docs"] = max(
                0, int(manifest.get("n_docs") or 0) - docs.count())
            retracted.append("doc_freq")
    if emb is not None:
        _t("blocks", emb.select("vec_id"))
        _t("codes", emb.select("vec_id"))
        _t("pq_codes", emb.select("vec_id"))
    gens = manifest.get("generations") or []
    gens.append({"gen": len(gens) + 1, "retracted": retracted})
    manifest["generations"] = gens
    manifest["tombstones"] = tombs
    _fs_write_text(spark, os.path.join(out_dir, "manifest.json"),
                   json.dumps(manifest, indent=1))
    return retracted


def _restore_survivors(spark, out_dir: str, manifest: dict,
                       docs: DataFrame, scope: str,
                       fams: list[str]) -> dict[str, DataFrame]:
    """Fragment-recall survivors for `compact_snapshot(docs=...)`: for
    each tombstoned fragment family being compacted, the tombstoned
    digests that RETAINED docs still carry (re-derived under the
    manifest's parameters, restricted to the scope's candidate docs).
    Returns {family: digest-frame} — delta-sized: every output row is
    a tombstone member by construction (broadcast semi-join)."""
    from pyspark.sql import functions as F
    from .dedup import gram_digests, segment_digests
    tombstones = manifest.get("tombstones") or {}
    wide = bool(manifest.get("digest_wide"))
    targets = [f for f in ("segments", "grams")
               if f in fams and tombstones.get(f)]
    if not targets:
        return {}
    if scope not in ("band_mates", "full"):
        raise ValueError(f"restore_scope must be band_mates|full, "
                         f"got {scope!r}")
    cand = docs
    if scope == "band_mates":
        if not tombstones.get("bands"):
            raise ValueError(
                "restore_scope='band_mates' needs the bands id "
                "tombstones (retract_snapshot writes them alongside "
                "the fragment tombstones); pass restore_scope='full' "
                "for a corpus-pass restoration instead")
        retr = spark.read.parquet(
            os.path.join(out_dir, "tomb_bands")).distinct()
        standing = _family_frame(spark, out_dir, "bands",
                                 manifest.get("bucket_tables") or {})
        # retracted docs' band rows -> retained docs sharing a bucket;
        # both joins broadcast takedown-sized sides, the mate id set
        # collects (takedown-sized) and pushes into the corpus scan as
        # a literal filter so parquet row groups prune on doc_id
        rbands = (standing.join(F.broadcast(retr), "doc_id")
                  .select("band", "band_hash").distinct())
        mate_ids = (standing.join(F.broadcast(rbands),
                                  ["band", "band_hash"])
                    .select("doc_id").distinct()
                    .join(F.broadcast(retr), "doc_id", "left_anti"))
        ids = [r.doc_id for r in mate_ids.collect()]
        if not ids:
            return {}
        cand = docs.filter(F.col("doc_id").isin(ids))
    out: dict[str, DataFrame] = {}
    for name in targets:
        tomb = spark.read.parquet(
            os.path.join(out_dir, f"tomb_{name}")).distinct()
        if name == "segments":
            cols = ["__d", "__d2"] if wide else ["__d"]
            der = (segment_digests(cand, size=manifest["segment_size"],
                                   wide=wide).select(*cols).distinct())
        else:
            cols = ["__g", "__g2"] if wide else ["__g"]
            der = (gram_digests(cand, min_len=manifest["sub_min_len"],
                                wide=wide).select(*cols).distinct())
        out[name] = der.join(F.broadcast(tomb), cols, "left_semi")
    return out


def compact_snapshot(out_dir: str, spark: SparkSession | None = None,
                     families: list[str] | None = None,
                     docs: DataFrame | None = None,
                     restore_scope: str = "band_mates") -> dict[str, int]:
    """Collapse a generation-appended snapshot's file sets: each append
    writes its own file-per-bucket set, so N generations = N x files
    per bucket — correct (bucketed reads merge file sets) but
    scan/open cost grows with generation count.  Compaction rewrites
    each probe family ONCE (bucket spec preserved; distinct rows — the
    probes are set-semantics, so generation-duplicate digests collapse
    too), swaps the directory atomically-per-family via FS rename, and
    stamps the manifest generation list with a compaction marker.
    Returns {family: n_files_after}.

    Cost is one read+write of each PROBE table (digest-sized ints —
    NOT the corpus); run it when generation count, not data size,
    dominates open/planning cost.  Blooms need no compaction (a word
    table is one fixed-size bitmap regardless of generations).

    ``docs`` (the RETAINED corpus) turns on fragment-recall
    restoration for the takedown tombstones being folded:
    `retract_snapshot` tombstones the retracted docs' segment/gram
    digests by VALUE, which over-removes digests shared with retained
    docs (their near-copies would re-admit after compaction — a
    documented dedup-recall loss).  With ``docs``, the tombstoned
    digests that retained docs still carry are re-derived and
    RE-EMITTED into the compacted table, so the probes keep dedup'ing
    the retained docs' fragments.  ``restore_scope``:

    * ``"band_mates"`` (default) — candidates are retained docs that
      share an LSH band with a retracted doc (found via the standing
      ``bands`` artifact + its id tombstones, BEFORE either is
      folded).  The mate id set is takedown-sized, collected, and
      pushed into the corpus scan as an id filter (parquet row-group
      pruning), so cost ∝ the takedown — this covers the dominant
      sharing mode (near-copies of the taken-down content).
    * ``"full"`` — derive from every retained doc: one map-only text
      pass + a broadcast semi-join (no corpus shuffle; output is
      tombstone-sized).  Exact even for cross-document boilerplate
      shared with UNRELATED retained docs, at corpus-scan cost —
      couple it to a compaction that was already scheduled.

    The exact-content ``digests`` family is deliberately NOT restored:
    takedown is a content property, so every copy of retracted content
    (including a retained doc's identical text) must re-admit."""
    import json
    spark = spark or SparkSession.getActiveSession()
    manifest = json.loads(
        _fs_read_text(spark, os.path.join(out_dir, "manifest.json")))
    bucket_tables = manifest.get("bucket_tables") or {}
    tables = manifest.get("tables") or []
    fams = families or [f for f in ("digests", "bands", "segments",
                                    "grams", "blocks", "codes",
                                    "pq_codes", "clusters")
                        if f in tables]
    read_snapshot(spark, out_dir)  # (re-)register bucketed tables
    tombstones = manifest.get("tombstones") or {}
    # fragment-recall survivors are computed UP FRONT: they need the
    # standing bands table and the id tombstones, and the family loop
    # below folds/deletes those as it goes
    survivors = (_restore_survivors(spark, out_dir, manifest, docs,
                                    restore_scope, fams)
                 if docs is not None else {})

    def _minus_tombs(name: str, df):
        """Fold retraction tombstones (retract_snapshot) into the
        rewrite: the compacted table is the anti-joined one, after
        which the tombstone table is obsolete.  Fragment families
        union their recall survivors back in after the fold."""
        tcols = tombstones.get(name)
        if not tcols:
            return df
        from pyspark.sql import functions as F
        tomb = spark.read.parquet(
            os.path.join(out_dir, f"tomb_{name}")).distinct()
        kept = df.join(F.broadcast(tomb), tcols, "left_anti")
        surv = survivors.get(name)
        if surv is not None:
            kept = kept.unionByName(surv).distinct()
        return kept

    out: dict[str, int] = {}
    for name in fams:
        if name not in tables:
            raise ValueError(f"snapshot has no {name!r} table")
        path = os.path.join(out_dir, name)
        tmp = os.path.join(out_dir, f"__compact_{name}")
        meta = bucket_tables.get(name)
        if meta:
            df = _minus_tombs(name, spark.table(meta["table"]).distinct())
            t2 = meta["table"] + "_c"
            spark.sql(f"DROP TABLE IF EXISTS {t2}")
            (df.write.mode("overwrite")
             .bucketBy(meta["n"], *meta["cols"]).sortBy(*meta["cols"])
             .option("path", tmp).saveAsTable(t2))
            spark.sql(f"DROP TABLE IF EXISTS {t2}")
            spark.sql(f"DROP TABLE IF EXISTS {meta['table']}")
        elif name == "clusters":
            # labels are a MAPPING: generation rows override, so
            # compaction resolves latest-gen per id (distinct would
            # keep both the stale and the overriding row).
            # read_clusters already anti-joins cluster tombstones
            from pyspark.sql import functions as F
            (read_clusters(spark, out_dir).withColumn("gen", F.lit(0))
             .write.mode("overwrite").parquet(tmp))
        elif (name == "pq_codes"
              and (manifest.get("pq") or {}).get("by_cell")):
            # cell-partitioned index: the rewrite must KEEP the hive
            # partitioning — the generic branch would flatten it and
            # silently cost every future query its partition pruning
            (_minus_tombs(name, spark.read.parquet(path).distinct())
             .write.mode("overwrite").partitionBy("label").parquet(tmp))
        else:
            (_minus_tombs(name, spark.read.parquet(path).distinct())
             .write.mode("overwrite").parquet(tmp))
        # checked-rename swap: old moved aside, new moved in, backup
        # deleted last — a crash leaves old or new, never neither
        # (fs.delete/rename signal failure by returning False)
        _swap_path(spark, tmp, path)
        # re-register the bucketed table at the original path
        if meta:
            _register_bucketed(spark, meta, path)
        if tombstones.get(name):
            # tombstones are folded into the rewrite above — drop the
            # tombstone table and, for families with a Bloom, REBUILD
            # the filter under its pinned geometry: a Bloom cannot
            # unset bits, so this is the point retracted keys stop
            # being sketch-positive (they were harmless until now —
            # every bloom-positive resolves through the exact
            # tombstone-filtered join)
            bmeta = (manifest.get("blooms") or {}).get(name)
            if bmeta:
                from .bloom import bloom_build, bloom_build_sharded
                key, _desc = _bloom_probe_key(name)
                keys = (spark.read.parquet(path).select(key).distinct()
                        if not meta else
                        spark.table(meta["table"]).select(key).distinct())
                shards = int(bmeta.get("shards", 1))
                if shards > 1:
                    words, _, _ = bloom_build_sharded(
                        keys, "__bk", shards=shards,
                        m_bits=bmeta["m"], k=bmeta["k"])
                else:
                    words, _, _ = bloom_build(keys, "__bk",
                                              m_bits=bmeta["m"],
                                              k=bmeta["k"])
                bpath = os.path.join(out_dir, f"bloom_{name}")
                btmp = bpath + ".__new"
                words.write.mode("overwrite").parquet(btmp)
                _swap_path(spark, btmp, bpath)
                bmeta["n"] = max(1, keys.count())
            tfs, tj = _hadoop_fs(spark,
                                 os.path.join(out_dir, f"tomb_{name}"))
            tfs.delete(tj, True)
            del tombstones[name]
            manifest["tombstones"] = tombstones
        fs, jold = _hadoop_fs(spark, path)

        def _n_parquet(jdir, depth=0):
            # hive-partitioned families (pq_by_cell) keep their files
            # one level down in label=*/ dirs — count those too, or
            # the documented {family: n_files_after} reads 0
            n = 0
            for st in fs.listStatus(jdir):
                if st.getPath().getName().endswith(".parquet"):
                    n += 1
                elif st.isDirectory() and depth < 1:
                    n += _n_parquet(st.getPath(), depth + 1)
            return n

        out[name] = _n_parquet(jold)
    gens = manifest.get("generations") or []
    gens.append({"gen": len(gens) + 1, "compacted": sorted(out)})
    manifest["generations"] = gens
    _fs_write_text(spark, os.path.join(out_dir, "manifest.json"),
                   json.dumps(manifest, indent=1))
    return out


def check_compat(out_dir: str, spark: SparkSession | None = None,
                 **params) -> dict:
    """Assert the probe-side parameters match the snapshot's manifest
    (``check_compat(path, num_hashes=16, bands=4)``); returns the
    manifest.  Mismatched hashing params make incremental probes
    silently empty — this makes them raise instead.  ``spark`` defaults
    to the active session (needed to reach the snapshot filesystem)."""
    import json
    spark = spark or SparkSession.getActiveSession()
    manifest = json.loads(
        _fs_read_text(spark, os.path.join(out_dir, "manifest.json")))
    bad = {k: (manifest.get(k), v) for k, v in params.items()
           if manifest.get(k) != v}
    if bad:
        raise ValueError(
            f"snapshot {out_dir} was built with different parameters "
            f"(manifest vs probe): {bad}")
    return manifest


def read_ngram_lm(spark: SparkSession, out_dir: str) -> dict:
    """Reassemble the order-N stupid-backoff LM from a snapshot
    written with ``ngram_order=N`` — the model dict shape
    ``text.ngram_lm_apply`` expects ({"order", "counts", "totals"}).
    Raises on snapshots without the artifact (a missing model must not
    silently score everything at the unigram floor)."""
    import json
    manifest = json.loads(
        _fs_read_text(spark, os.path.join(out_dir, "manifest.json")))
    order = manifest.get("ngram_order")
    if not order:
        raise ValueError(
            f"snapshot {out_dir} has no n-gram LM artifact — write it "
            f"with write_snapshot(..., ngram_order=N)")
    tables = read_snapshot(spark, out_dir)
    return {"order": order,
            "counts": {k: tables[f"lm_k{k}"]
                       for k in range(1, order + 1)},
            "totals": tables["lm_totals"]}


def read_bloom(spark: SparkSession, out_dir: str, name: str,
               dense: bool = False) -> dict:
    """Rehydrate a probe family's Bloom pre-filter ("digests" /
    "segments" / "grams") into the dict `dedup` probes take as
    ``prior_bloom=``: ``{"m", "k", "n", "row"}`` where ``row`` is the
    one-row dense word-array DataFrame `bloom.bloom_attach` broadcasts
    — densified JVM-side, the filter bytes never pass through the
    driver.  ``dense=True`` additionally collects the driver-side
    ``words`` list for the literal-array form (small filters/tests
    only).  Geometry comes from the manifest, so a probe can never
    pair a filter with mismatched (m, k) arithmetic.  Raises on
    snapshots written without ``bloom_fpp`` — a missing pre-filter
    must not silently degrade to "everything is maybe-prior" (correct
    but a silent full-cost probe) or, worse, be hand-built with
    different geometry."""
    import json
    manifest = json.loads(
        _fs_read_text(spark, os.path.join(out_dir, "manifest.json")))
    meta = (manifest.get("blooms") or {}).get(name)
    if not meta:
        raise ValueError(
            f"snapshot {out_dir} has no Bloom artifact for {name!r} — "
            f"write it with write_snapshot(..., bloom_fpp=0.01)")
    from pyspark.sql import functions as F
    from .bloom import bloom_dense, bloom_row
    words = spark.read.parquet(os.path.join(out_dir, f"bloom_{name}"))
    # realized-fpp estimate from the ACTUAL fill ratio, (set_bits/m)^k
    # — the observability a generation-appended filter needs: appends
    # fold keys into a fixed geometry, so fill (and fpp) drifts up
    # with every drop; rebuild the filter when est_fpp outgrows the
    # residue budget (fpp moves residue size, never correctness)
    set_bits = int(words.agg(F.sum(F.bit_count("bits"))).collect()[0][0]
                   or 0)
    shards = int(meta.get("shards", 1))
    fill = set_bits / (meta["m"] * shards)
    out = {"m": meta["m"], "k": meta["k"], "n": meta["n"],
           "fill": fill, "est_fpp": fill ** meta["k"]}
    if shards > 1:
        from .bloom import bloom_rows_sharded
        out["shards"] = shards
        out["rows"] = bloom_rows_sharded(words, meta["m"], shards)
        if dense:
            raise ValueError("dense=True is the single-filter "
                             "driver-side form; sharded filters probe "
                             "via the rows table")
        return out
    out["row"] = bloom_row(words, meta["m"])
    if dense:
        out["words"] = bloom_dense(words, meta["m"])
    return out


def read_clusters(spark: SparkSession, out_dir: str) -> DataFrame:
    """The resolved near-dup cluster MAPPING from a snapshot written
    with ``cluster_labels=True``: latest-generation ``(id, cluster)``
    per id.  Labels are a mapping, not a set, so generation rows
    OVERRIDE (max_by gen) rather than union — the one artifact family
    where append rows shadow prior rows.  The resolve is one int-pair
    groupBy (shuffle ∝ label table, never the corpus); run
    ``compact_snapshot(..., families=["clusters"])`` when generation
    count makes that table's scan dominate."""
    import json
    from pyspark.sql import functions as F
    df = spark.read.parquet(os.path.join(out_dir, "clusters"))
    manifest = json.loads(
        _fs_read_text(spark, os.path.join(out_dir, "manifest.json")))
    if (manifest.get("tombstones") or {}).get("clusters"):
        # retracted ids' label rows drop (retract_snapshot); remaining
        # members keep their opaque label value
        tomb = spark.read.parquet(
            os.path.join(out_dir, "tomb_clusters")).distinct()
        df = df.join(F.broadcast(tomb), "id", "left_anti")
    return (df.groupBy("id")
            .agg(F.max_by("cluster", "gen").alias("cluster")))


def read_doc_freq(spark: SparkSession, out_dir: str) \
        -> tuple[DataFrame, int]:
    """The generational-IDF serving pair from a snapshot written with
    ``doc_freq=True``: the folded ``(token, doc_freq)`` table plus the
    manifest's running ``n_docs`` — exactly the two inputs
    ``text.idf_score`` needs, so a drop scores with full-corpus-
    consistent IDF from artifacts alone (the prior corpus is never
    re-read).  Appends and retractions keep both in sync
    (token_doc_freq_merge fold / exact count subtraction)."""
    import json
    manifest = json.loads(
        _fs_read_text(spark, os.path.join(out_dir, "manifest.json")))
    if "doc_freq" not in (manifest.get("tables") or ()):
        raise ValueError(
            f"snapshot at {out_dir} was not written with doc_freq=True")
    return (spark.read.parquet(os.path.join(out_dir, "doc_freq")),
            int(manifest["n_docs"]))


def read_pq_index(spark: SparkSession, out_dir: str) \
        -> tuple[DataFrame, DataFrame, DataFrame, dict]:
    """The PQ/OPQ ANN index serving artifacts from a snapshot written
    with ``pq_m=...``: ``(codes, codebooks, rotation, geometry)`` —
    exactly what ``pq_index_topk`` takes, so a query is served from
    parquet alone (no in-query training; the prior corpus is never
    re-encoded).  Retraction tombstones on the id-keyed codes table
    are anti-joined out map-side (broadcast — takedown-sized);
    geometry is the manifest's pinned ``pq`` dict, for
    ``check_compat``-style loud mismatches."""
    import json
    from pyspark.sql import functions as F
    manifest = json.loads(
        _fs_read_text(spark, os.path.join(out_dir, "manifest.json")))
    if "pq_codes" not in (manifest.get("tables") or ()):
        raise ValueError(
            f"snapshot at {out_dir} was not written with pq_m=...")
    codes = spark.read.parquet(os.path.join(out_dir, "pq_codes"))
    if (manifest.get("tombstones") or {}).get("pq_codes"):
        tomb = spark.read.parquet(
            os.path.join(out_dir, "tomb_pq_codes")).distinct()
        codes = codes.join(F.broadcast(tomb), "vec_id", "left_anti")
    return (codes,
            spark.read.parquet(os.path.join(out_dir, "pq_codebooks")),
            spark.read.parquet(os.path.join(out_dir, "pq_rotation")),
            dict(manifest.get("pq") or {}))


def read_snapshot(spark: SparkSession, out_dir: str) -> dict[str, DataFrame]:
    """Load the artifact tables the manifest records.  A missing or
    unreadable manifest raises (a half-written snapshot must not
    silently read as an EMPTY one — every incremental probe against {}
    would keep everything)."""
    import json
    manifest = json.loads(
        _fs_read_text(spark, os.path.join(out_dir, "manifest.json")))
    out = {}
    bucketed = manifest.get("bucket_tables") or {}
    for name in manifest.get("tables", _TABLES):
        path = os.path.join(out_dir, name)
        fs, jpath = _hadoop_fs(spark, path)
        if not fs.exists(jpath):
            # the manifest lists every family write_snapshot actually
            # wrote, so a missing directory means the snapshot LOST
            # data (crashed compaction, partial copy between stores).
            # Silently skipping would make every incremental probe
            # treat the lost family's corpus as novel — and a later
            # append would quietly recreate the table holding only the
            # drop.  Fail loudly instead.
            raise FileNotFoundError(
                f"snapshot {out_dir} manifest lists table {name!r} but "
                f"{path} is missing — the snapshot is damaged; rebuild "
                f"it (write_snapshot) or restore the directory")
        meta = bucketed.get(name)
        if meta:
            t = meta["table"]
            if spark.catalog.tableExists(t):
                # a pre-existing catalog entry can be STALE: if the
                # snapshot dir was rewritten with a different
                # bucket_probes count by another session, the old
                # bucket metadata makes Spark skip the snapshot-side
                # Exchange against a mismatched file-to-bucket layout —
                # silently WRONG (missed-match) probe joins.  Compare
                # against the manifest and drop + re-register on any
                # mismatch.
                desc = {r["col_name"]: r["data_type"] for r in
                        spark.sql(f"DESCRIBE TABLE EXTENDED {t}")
                        .collect()}
                want = "[" + ", ".join(f"`{c}`" for c in meta["cols"]) \
                       + "]"
                if (desc.get("Num Buckets") != str(meta["n"])
                        or desc.get("Bucket Columns") != want):
                    spark.sql(f"DROP TABLE IF EXISTS {t}")
            if not spark.catalog.tableExists(t):
                # re-register the external bucketed table from the
                # manifest DDL: bucket metadata lives in the catalog,
                # not the files, so a fresh session must restore it or
                # every probe join silently re-shuffles the snapshot
                _register_bucketed(spark, meta, path)
            out[name] = spark.table(t)
        else:
            out[name] = spark.read.parquet(path)
        tcols = (manifest.get("tombstones") or {}).get(name)
        if tcols:
            # retraction tombstones (retract_snapshot): anti-join the
            # takedown keys out map-side.  Broadcast keeps a bucketed
            # probe table's zero-Exchange property — the tombstone set
            # is legal-request-sized, never corpus-sized
            from pyspark.sql import functions as F
            tomb = spark.read.parquet(
                os.path.join(out_dir, f"tomb_{name}")).distinct()
            out[name] = out[name].join(F.broadcast(tomb), tcols,
                                       "left_anti")
    return out
