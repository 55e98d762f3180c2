"""Deduplication operators over the documents table (BASELINE.json north-star;
absent from the reference — SURVEY §2.2 (†)).

Three families, each a standard large-scale training-data pipeline pattern:

- exact:   hash-groupBy on full text. At 100 TB this is a single shuffle on
           md5(text) (never on the text itself).
- MinHash-LSH: shingle → seeded-md5 string min-hash → banded buckets →
           bucket self-join for candidates → exact Jaccard verification on
           the candidates only. The candidate join replaces the O(n²) pair
           scan; bands are tunable (8 hashes, 4 bands of 2 here).
- SimHash: 32-bit signature via a vectorized Arrow pandas_udf (the declared
           demonstration of the Python fast path); Hamming-close pairs are
           then exact-verifiable. The DuckDB twin computes the same bits in
           pure SQL (md5-nibble expansion), proving the UDF's math.
"""

from __future__ import annotations



import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from gmr_spark.functions.text import exploded_word_shingles, seeded_md5, tokens
from gmr_spark.sources.tables import load_tables

N_HASHES = 8
N_BANDS = 4  # bands of 2 hashes each
# candidate-id lists larger than this take the shuffled semi-join instead of
# a (hint-forced, non-fallback) broadcast — ~5M bigints ≈ 40 MB serialized
_BROADCAST_IDS_CAP = 5_000_000

# Checkpointed intermediates shared across operators within one Spark
# application: dedup_minhash, dup_clusters, and dedup_survivors all consume
# the same shingle table and verified-pair chain, and the driver's
# correctness pass runs all three in one session — without sharing, each
# call re-checkpoints blocks whose predecessors are never freed until
# ContextCleaner catches up. Keyed by applicationId so a
# restarted SparkContext cannot be served another context's DataFrames, and
# by the documents.parquet mtime/size fingerprint so a corpus REWRITTEN at
# the same path within one session (scale_data.build_corpus does rmtree +
# rewrite) invalidates the cache instead of being served stale results.
_CKPT_MEMO: dict[tuple, DataFrame] = {}
# scalar side-car: counts of memoized frames (same keys as _CKPT_MEMO).
# A memoized frame's count is constant per memo key, so re-running
# df.count() per call is a wasted Spark job;
# evicted in lock-step with the frame it describes.
_COUNT_MEMO: dict[tuple, int] = {}


def _corpus_token(sf_dir: str) -> tuple:
    import os

    path = os.path.join(sf_dir, "documents.parquet")
    try:
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return ()


def clear_dedup_memo() -> None:
    """Release every memoized chain. The shingle checkpoint is ~GBs of
    executor storage at corpus scale (92M rows in the 2M-doc proof) and the
    memo intentionally pins it for cross-operator sharing; a pipeline that
    is DONE with the dedup stage calls this so ContextCleaner can reclaim
    the blocks before later stages pay the memory pressure (the ``llm``
    scale family does). Blocks are unpersisted explicitly — waiting on
    ContextCleaner to notice the dropped Python references leaves the
    backlog resident for the next several jobs (a measured bench drift)."""
    from gmr_spark.plans.loop import _drop_checkpoint_blocks

    while _CKPT_MEMO:
        _drop_checkpoint_blocks(_CKPT_MEMO.popitem()[1])
    _COUNT_MEMO.clear()
    _FRAME_MEMO_SRC.clear()
    import gc

    gc.collect()


def _memo(spark: SparkSession, key: tuple, build) -> DataFrame:
    # key = (kind, sf_dir, corpus_token, ...) — see callers
    full_key = (spark.sparkContext.applicationId, *key)
    df = _CKPT_MEMO.get(full_key)
    if df is None:
        # a rewritten corpus at the same sf_dir mints a fresh corpus_token:
        # evict the superseded GENERATION of this exact entry — same (app,
        # kind, sf_dir) AND same trailing params (e.g. shingle k), different
        # token only — and release its (eagerly checkpointed, GBs at 2M-doc
        # scale) blocks; otherwise both generations stay pinned until
        # clear_dedup_memo(), exactly the rmtree+rewrite scenario the token
        # guards against. Entries differing in trailing
        # params are LIVE siblings (two shingle sizes in one session), never
        # evicted here: their checkpoints have no lineage to rebuild from.
        from gmr_spark.plans.loop import _drop_checkpoint_blocks

        stale = [k for k in _CKPT_MEMO
                 if k[:3] == full_key[:3] and k[4:] == full_key[4:]
                 and k != full_key]
        for k in stale:
            _drop_checkpoint_blocks(_CKPT_MEMO.pop(k))
            _COUNT_MEMO.pop(k, None)
        df = build()
        _CKPT_MEMO[full_key] = df
    return df


def _frame_memo(df_src: DataFrame, kind: str, params: tuple, build) -> DataFrame:
    """``_memo`` for operators over CALLER-SUPPLIED frames (``*_frame``
    entry points, which have no sf_dir fingerprint to key on): keyed by the
    source frame's Catalyst ``semanticHash``, confirmed with
    ``sameSemantics`` on every hit — a 32-bit hash collision (or a cached
    entry whose source frame object this frame merely resembles) evicts and
    rebuilds rather than serving another frame's result. This puts the
    synthetic-frame checkpoints under the module release discipline (a
    per-call checkpoint with no release lets a caller looping
    ``dedup_substring_frame`` / ``semdedup_frame`` over frames accumulate
    blocks until ContextCleaner catches up): repeat calls on a
    semantically-identical frame share one checkpoint, and
    ``clear_dedup_memo()`` releases everything.

    Plan semantics alone cannot see a rewrite of the files BEHIND the plan
    (``spark.read.parquet(p)`` is the same Catalyst plan before and after
    ``p`` is rewritten), so frames with file sources fold
    a data fingerprint (sorted file list + local size/mtime) into the key;
    an un-fingerprintable source (non-local scheme, huge listing) skips
    memoization entirely — per-call behavior, never a stale hit. Eviction
    on a semanticHash collision drops only the dict references: frames
    previously RETURNED to callers may still reference the checkpointed
    blocks (no lineage to rebuild from), so ContextCleaner reclaims them
    asynchronously once the last reference dies (an explicit block drop
    here would break outstanding callers)."""
    spark = df_src.sparkSession
    try:
        h = df_src.semanticHash()
    except Exception:
        return build()  # un-analyzable frame: per-call behavior, best effort
    fp = _file_fingerprint(df_src)
    if fp is _UNFINGERPRINTABLE:
        return build()  # external source we cannot validate: no memoization
    full_key = (spark.sparkContext.applicationId, kind, h, fp, *params)
    # a rewritten corpus mints a fresh fingerprint: drop the superseded
    # GENERATION's dict references (same key except fp) so it stops pinning
    # its checkpoint blocks — reference-drop only, ContextCleaner reclaims
    # once outstanding caller frames die (the _memo eviction analog under
    # the no-explicit-unpersist rule)
    stale = [k for k in _CKPT_MEMO
             if len(k) == len(full_key) and k[:3] == full_key[:3]
             and k[4:] == full_key[4:] and k != full_key]
    for k in stale:
        _CKPT_MEMO.pop(k, None)
        _FRAME_MEMO_SRC.pop(k, None)
        _COUNT_MEMO.pop(k, None)
    hit = _CKPT_MEMO.get(full_key)
    if hit is not None:
        src_prev = _FRAME_MEMO_SRC.get(full_key)
        try:
            same = src_prev is not None and df_src.sameSemantics(src_prev)
        except Exception:
            same = False
        if same:
            return hit
        # collision eviction: drop references only (see docstring)
        _CKPT_MEMO.pop(full_key, None)
        _FRAME_MEMO_SRC.pop(full_key, None)
        _COUNT_MEMO.pop(full_key, None)
    df = build()
    _CKPT_MEMO[full_key] = df
    _FRAME_MEMO_SRC[full_key] = df_src
    return df


# sentinel: the frame reads external files we cannot cheaply fingerprint
_UNFINGERPRINTABLE = object()
# past this many backing files the per-call stat() sweep costs more than
# the rebuild it would save; skip memoization instead of going stale
_FINGERPRINT_MAX_FILES = 4096


def _file_fingerprint(df_src: DataFrame):
    """Data fingerprint of the files backing ``df_src``'s plan: a hash over
    the sorted file list with each local file's (size, mtime). Returns
    ``None`` for purely in-memory plans (LocalRelation/range — nothing to go
    stale), a hashable token for fingerprintable file plans, and
    ``_UNFINGERPRINTABLE`` when files exist but cannot be validated."""
    import os

    try:
        files = df_src.inputFiles()
    except Exception:
        return _UNFINGERPRINTABLE
    if not files:
        return None
    if len(files) > _FINGERPRINT_MAX_FILES:
        return _UNFINGERPRINTABLE
    parts: list[str] = []
    for uri in sorted(files):
        path = uri[len("file:"):] if uri.startswith("file:") else None
        if path is None or not os.path.exists(path):
            return _UNFINGERPRINTABLE  # non-local scheme: cannot stat
        st = os.stat(path)
        parts.append(f"{uri}\x00{st.st_size}\x00{st.st_mtime_ns}")
    import hashlib

    return hashlib.md5("\x01".join(parts).encode()).hexdigest()


# source frames backing _frame_memo entries, for the sameSemantics
# confirmation; cleared with the memo it shadows
_FRAME_MEMO_SRC: dict[tuple, DataFrame] = {}


def _memo_count(spark: SparkSession, key: tuple, df: DataFrame) -> int:
    """Count of a ``_memo``-ed frame, cached under the frame's own key so
    repeat calls skip the Spark job (the value is constant per memo key —
    the frame is an eager checkpoint)."""
    full_key = (spark.sparkContext.applicationId, *key)
    n = _COUNT_MEMO.get(full_key)
    if n is None:
        n = df.count()
        _COUNT_MEMO[full_key] = n
    return n


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(text_md5, keep_id, n_copies): canonical representative per distinct
    text = lowest doc_id. Survivors of exact dedup = rows where
    doc_id == keep_id."""
    docs = load_tables(spark, sf_dir)["documents"]
    return docs.groupBy(F.md5(F.col("text")).alias("text_md5")).agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )


def _doc_shingles(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, sh) distinct word-k-gram shingles, materialized once — every
    consumer (signatures, sizes, both verification sides) reuses the blocks
    instead of re-tokenizing the corpus."""
    return (
        exploded_word_shingles(docs, k)
        .select("doc_id", "sh")
        .distinct()
        .localCheckpoint(eager=True)
    )


def minhash_signatures(shingled: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """(doc_id, m0..m{n-1}): string min-hash signature."""
    aggs = [
        F.min(seeded_md5(F.col("sh"), j)).alias(f"m{j}") for j in range(n_hashes)
    ]
    return shingled.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(sigs: DataFrame, n_bands: int = N_BANDS) -> DataFrame:
    """(doc_a, doc_b): pairs agreeing on at least one full band."""
    rows_per_band = N_HASHES // n_bands
    band_cols = [
        F.md5(F.concat(*[F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)])).alias(f"b{b}")
        for b in range(n_bands)
    ]
    bands = sigs.select("doc_id", *band_cols)
    stack_expr = ", ".join(f"{b}, b{b}" for b in range(n_bands))
    long = bands.selectExpr(
        "doc_id", f"stack({n_bands}, {stack_expr}) AS (band_idx, band_val)"
    )
    a = long.select(F.col("doc_id").alias("doc_a"), "band_idx", "band_val")
    b = long.select(F.col("doc_id").alias("doc_b"), "band_idx", "band_val")
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def _shingles_for(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Application-memoized ``_doc_shingles`` over the sf_dir corpus."""
    return _memo(
        spark, ("shingles", sf_dir, _corpus_token(sf_dir), k),
        lambda: _doc_shingles(load_tables(spark, sf_dir)["documents"], k),
    )


def _verified_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, n_common, na, nb): every LSH candidate pair with its
    exact shingle-overlap counts — memoized AND eagerly checkpointed, so
    the whole shingle → signature → band-join → verify chain runs once per
    application and every consumer reads the (tiny) overlap frame O(1)."""
    return _memo(
        spark, ("verified_pairs", sf_dir, _corpus_token(sf_dir)),
        lambda: _verified_pairs_plan(spark, sf_dir).localCheckpoint(eager=True),
    )


def _verified_pairs_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAZY verify plan (exposed separately so the plan-shape test can
    pin the broadcast semi-filter, which the checkpointed memo hides)."""

    def build() -> DataFrame:
        shingled = _shingles_for(spark, sf_dir)
        # candidate pairs are materialized: (a) the signature agg + band join
        # would otherwise be re-evaluated inside the verification branch of
        # the same action (measured 1.9x chain cost at 100k docs), and
        # (b) AQE then sees the candidates' true (small) size and broadcasts
        # them into the verify joins instead of shuffling the full shingle
        # table twice. When candidates are genuinely huge, AQE falls back to
        # shuffle — correct either way.
        pairs = lsh_candidate_pairs(minhash_signatures(shingled)) \
            .localCheckpoint(eager=True)

        # Verification must touch CANDIDATE DOCS' shingles only: without the
        # semi-filter, the (doc_b, sh) join and the sizes aggregate each
        # reshuffle the FULL shingle table (92M rows at the 2M-doc scale
        # proof — measured as the dominant ~2/3 of dedup_minhash's wall
        # there) even though candidates reference ~4% of docs. The id list
        # is bounded by 2·|pairs|, broadcast as a map-side filter — no
        # shuffle of the big table at all. An EXPLICIT broadcast hint has
        # no AQE size fallback (Spark honors it regardless and aborts past
        # the 8 GiB driver limit — the same class of failure as the G2 TC
        # broadcast trap), so the hint is applied only after counting the
        # id list; a degenerate corpus where candidates approach the whole
        # doc set takes the shuffled semi-join, the right plan there.
        cand_ids = (
            pairs.select(F.col("doc_a").alias("doc_id"))
            .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        if cand_ids.count() <= _BROADCAST_IDS_CAP:
            cand_ids = F.broadcast(cand_ids)
        cand_shingles = shingled.join(cand_ids, "doc_id", "left_semi")
        sizes = cand_shingles.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_sh"))
        sa = cand_shingles.select(F.col("doc_id").alias("doc_a"), "sh")
        sb = cand_shingles.select(F.col("doc_id").alias("doc_b"), "sh")
        inter = (
            pairs.join(sa, "doc_a").join(sb, ["doc_b", "sh"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        # raw overlap columns — jaccard AND containment derive from these,
        # so both operators share one memoized chain
        return (
            inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")), "doc_a")
            .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")), "doc_b")
            .select("doc_a", "doc_b", "n_common", "na", "nb")
        )

    return build()


def dedup_minhash(spark: SparkSession, sf_dir: str, *, min_jaccard: float = 0.1) -> DataFrame:
    """(doc_a, doc_b, jaccard): LSH candidates verified by exact shingle-set
    Jaccard ≥ threshold. The verification join touches candidates only."""
    raw = _verified_jaccard_pairs(spark, sf_dir)
    return raw.select(
        "doc_a", "doc_b",
        F.round(
            F.col("n_common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double"),
            6,
        ).alias("jaccard"),
    ).filter(
        F.col("jaccard") >= min_jaccard
    )


def dedup_embedding(spark: SparkSession, sf_dir: str, *, n_bits: int = 8,
                    min_sim: float = 0.2) -> DataFrame:
    """(vec_a, vec_b, sim): embedding-cosine near-duplicate pairs — the
    fourth mandated dedup family (embedding-space, vs text-space exact/
    MinHash/SimHash). Candidates come from a sign-LSH bucket equi-join
    (``similarity.sign_bucket``), then exact cosine verifies ``>= min_sim``;
    the dedup rule is "keep the lower id" (vec_a < vec_b, so survivors are
    ids never appearing as vec_b). At 100 TB the bucket join replaces the
    O(n²) pair scan and buckets are the shuffle key; hot buckets are capped
    by sub-splitting (``similarity.split_oversized_buckets``).

    Round-6 rewrite (flagged changed): each vector's norm is computed ONCE
    (a scalar column materialized with the bucketed table) and carried
    through the pair join — the old shape re-derived both norms per PAIR
    (2 × |candidates| sqrt-folds; at the 2M proof that is 60M norm folds
    for 2M vectors) and re-evaluated the whole scan→bucket→split subtree
    once per join side. The per-pair float path (dot fold ÷ norm product)
    is unchanged, so the DuckDB twin is untouched."""
    from gmr_spark.operators.similarity import (
        _dot, _norm, _vec, sign_bucket, split_oversized_buckets,
    )

    def _build() -> DataFrame:
        emb = load_tables(spark, sf_dir)["embeddings"]
        raw = split_oversized_buckets(
            emb.select(
                F.col("vec_id").alias("id"), _vec().alias("v"),
                sign_bucket(_vec(), n_bits).alias("bucket"),
            )
        )
        return raw.select(
            "id", "bucket", "sub", "v", _norm(F.col("v")).alias("nrm"),
        ).localCheckpoint(eager=True)  # scan+bucket+split runs once, not per side

    # memoized + released like every chain intermediate (clear_dedup_memo);
    # keyed on the embeddings fingerprint analogously to _corpus_token
    import os as _os

    try:
        st = _os.stat(_os.path.join(sf_dir, "embeddings.parquet"))
        token = (st.st_mtime_ns, st.st_size)
    except OSError:
        token = ()
    vecs = _memo(spark, ("emb_norm_buckets", sf_dir, token, n_bits), _build)
    a = vecs.select(F.col("id").alias("vec_a"), F.col("v").alias("va"),
                    F.col("nrm").alias("na"), "bucket", "sub")
    b = vecs.select(F.col("id").alias("vec_b"), F.col("v").alias("vb"),
                    F.col("nrm").alias("nb"), "bucket", "sub")
    return (
        a.join(b, ["bucket", "sub"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a", "vec_b",
            F.round(_dot(F.col("va"), F.col("vb"))
                    / (F.col("na") * F.col("nb")), 6).alias("sim"),
        )
        .filter(F.col("sim") >= min_sim)
    )


def make_simhash32_udf():
    """32-bit SimHash over whitespace tokens; bit source = low 8 hex chars of
    each token's md5 (matches the pure-SQL DuckDB twin bit for bit).

    Built as a nested closure so cloudpickle serializes it BY VALUE — Spark's
    Python workers don't have this package on their import path when the
    driver runs from an arbitrary cwd."""

    def _simhash_series(texts: pd.Series) -> pd.Series:
        import hashlib as _hashlib

        def one(t: str) -> int:
            acc = [0] * 32
            for tok in t.split(" "):
                if not tok:
                    continue
                v = int(_hashlib.md5(tok.encode("utf-8")).hexdigest()[:8], 16)
                for i in range(32):
                    acc[i] += 1 if (v >> i) & 1 else -1
            return sum(1 << i for i in range(32) if acc[i] > 0)

        return texts.map(one)

    return F.pandas_udf("long")(_simhash_series)


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash): Arrow-vectorized signature per document."""
    docs = load_tables(spark, sf_dir)["documents"]
    simhash32 = make_simhash32_udf()
    return docs.select("doc_id", simhash32(F.col("text")).alias("simhash"))


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str, *, min_common: int = 20,
                        max_df_frac: float = 0.10) -> DataFrame:
    """(doc_a, doc_b, jaccard): exact word-3gram Jaccard for every pair
    sharing ≥ min_common shingles — inverted-index join, no LSH approximation
    (the exact-verification counterpart of dedup_minhash).

    Stop-shingle cutoff: shingles appearing in more than ``max_df_frac`` of
    all documents are dropped BEFORE the inverted-index self-join (Jaccard is
    then over non-stop shingles on both engines). This bounds the join's
    worst group: without it, one boilerplate shingle shared by every doc
    makes the self-join quadratic in corpus size. The driver corpus never
    trips it (max observed df is 1.4% of docs at sf0.01, 0.5% at sf0.1), so
    the oracle is unchanged at test scale while the 100 TB worst case is
    capped at (max_df_frac · n_docs)² per shingle."""
    docs = load_tables(spark, sf_dir)["documents"]
    n_docs = docs.count()
    shingled = _shingles_for(spark, sf_dir)
    df_counts = shingled.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
    shingled = (
        shingled.join(df_counts, "sh")
        .filter(F.col("_df") <= F.lit(max_df_frac * n_docs))
        .drop("_df")
    )
    sizes = shingled.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa = shingled.select(F.col("doc_id").alias("doc_a"), "sh")
    sb = shingled.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (
        sa.join(sb, "sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")), "doc_b")
        .select(
            "doc_a", "doc_b",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def dup_clusters(spark: SparkSession, sf_dir: str, *, min_jaccard: float = 0.1) -> DataFrame:
    """(doc_id, cluster_id, cluster_size): transitive near-duplicate
    clusters — the step after pair detection in every production dedup
    pipeline (keep one doc per CLUSTER, not per pair: A~B, B~C must retire
    two of {A,B,C} even when A~C is below threshold). Composes the engine's
    own primitives: MinHash-LSH verified pairs (``dedup_minhash``) become an
    undirected graph; min-label propagation with pointer jumps
    (``connected_components``) labels each cluster by its smallest doc_id —
    that label IS the keep-decision (survivor = doc_id == cluster_id).

    Scale: the pair graph is |verified pairs| — orders of magnitude smaller
    than the corpus — and CC's rounds grow with the log of the cluster
    diameter, not the diameter itself; the kernel sizes its conf and join
    hints from its own census of the pair graph. The DuckDB twin is a
    recursive-CTE transitive closure over the same pairs."""
    from gmr_spark.algorithms.cc import connected_components
    from gmr_spark.graph import PropertyGraph

    pairs = dedup_minhash(spark, sf_dir, min_jaccard=min_jaccard).select("doc_a", "doc_b")
    vertices = (
        pairs.select(F.col("doc_a").alias("id"))
        .union(pairs.select(F.col("doc_b").alias("id")))
        .distinct()
    )
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"),
        F.lit(1.0).alias("weight"),
    )
    # default max_iter (120): CC stops at the first round that improves no
    # label, so the high bound costs nothing on typical dup clusters and
    # keeps a pathological near-dup CHAIN correct (a low cap would silently
    # leave labels unconverged and diverge from the oracle's closure)
    comp = connected_components(PropertyGraph(vertices=vertices, edges=edges))
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return comp.join(sizes, "component").select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster_id"),
        "cluster_size",
    )


def dedup_survivors(spark: SparkSession, sf_dir: str, *, min_jaccard: float = 0.1) -> DataFrame:
    """(doc_id, lang, source, n_chars): the corpus AFTER near-dup removal —
    the materialization step every dedup pipeline ends with. Keep rule:
    a doc survives iff it is not in any near-dup cluster, or it is its
    cluster's canonical representative (the smallest doc_id — exactly the
    ``dup_clusters`` label, so the rule is one anti-join on
    cluster members minus representatives).

    Scale: the retire list is |cluster members| - |clusters| rows — tiny
    against the corpus, but SF-LINEAR (a 30%-dup 100 TB corpus retires
    billions of ids), so the broadcast is gated on a count against
    ``_BROADCAST_IDS_CAP`` exactly like the candidate-id filter in the
    verified-pair chain (an explicit hint has no AQE fallback — Spark
    honors it regardless and aborts past the driver limit). Under the cap:
    narrow scan + broadcast anti-join, no shuffle of the corpus. Over it:
    shuffled anti-join, the right plan there."""
    docs = load_tables(spark, sf_dir)["documents"]
    # application-memoized like the chain it derives from, so repeat calls
    # share one CC run and clear_dedup_memo() can release the blocks
    retired_key = ("retired", sf_dir, _corpus_token(sf_dir), min_jaccard)
    retired = _memo(
        spark, retired_key,
        lambda: dup_clusters(spark, sf_dir, min_jaccard=min_jaccard)
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
        .localCheckpoint(eager=True),
    )
    if _memo_count(spark, retired_key, retired) <= _BROADCAST_IDS_CAP:
        retired = F.broadcast(retired)
    return (
        docs.join(retired, "doc_id", "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
    )


def dedup_containment(spark: SparkSession, sf_dir: str, *,
                      min_containment: float = 0.5) -> DataFrame:
    """(doc_a, doc_b, containment): asymmetric near-duplication — shingle
    CONTAINMENT |A∩B| / min(|A|,|B|) over the same LSH-candidate chain as
    ``dedup_minhash`` (memoized; zero extra corpus passes). Catches the
    doc-inside-doc case Jaccard under-scores: a short document wholly
    quoted by a long one has containment ~1 but Jaccard ~|A|/|B| — the
    boilerplate-inclusion signal a corpus pipeline filters on. Recall
    caveat inherited from LSH banding: candidates are Jaccard-biased, so
    very-asymmetric pairs may not surface as candidates — the documented
    tradeoff of reusing one candidate set for both scores."""
    raw = _verified_jaccard_pairs(spark, sf_dir)
    return raw.select(
        "doc_a", "doc_b",
        F.round(
            F.col("n_common").cast("double")
            / F.least("na", "nb").cast("double"),
            6,
        ).alias("containment"),
    ).filter(F.col("containment") >= min_containment)


SEMDEDUP_K = 8
SEMDEDUP_ITERS = 2
SEMDEDUP_THRESHOLD = 0.30
_SEMDEDUP_CHUNK = 2048  # rows per similarity block in semdedup_frame


def semdedup_embeddings(spark: SparkSession, sf_dir: str, *,
                        k: int = SEMDEDUP_K, iters: int = SEMDEDUP_ITERS,
                        threshold: float = SEMDEDUP_THRESHOLD) -> DataFrame:
    """(vec_id, cluster, max_sim_earlier, n_dup_earlier, keep): SemDeDup —
    semantic deduplication over the embedding column (public method: Abbas
    et al. 2023, "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication"). K-means buckets the vectors (the same
    deterministic Lloyd loop as ``kmeans_embeddings``), cosine similarity is
    computed only WITHIN each cluster, and a vector is retired when an
    earlier (lower-id) same-cluster vector is similar above ``threshold`` —
    the keep-one-representative rule, deterministic by id.

    The fourth dedup modality next to exact / MinHash-Jaccard / SimHash:
    those catch lexical overlap; this catches semantic near-duplicates with
    disjoint surface forms. (The synthetic corpus plants no semantic dups —
    max within-cluster cosine ≈ 0.47 — so ``max_sim_earlier`` carries the
    discriminating values and the planted-dup unit test proves the retire
    rule.)

    Scale: the quadratic step is per-cluster, which is exactly the SemDeDup
    design — k grows with the corpus (the paper uses k=50k on LAION) so
    E[cluster size] stays bounded and the similarity step is one dense
    block per cluster, never an all-pairs scan. Centroids ship to each
    task as one k×dim matrix. Determinism: cosines ROUND(·,6) like
    every similarity operator here; cluster assignment ties break to the
    lowest cluster id (see algorithms.kmeans)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return semdedup_frame(emb, k=k, iters=iters, threshold=threshold)


def semdedup_frame(emb: DataFrame, *, k: int = SEMDEDUP_K,
                   iters: int = SEMDEDUP_ITERS,
                   threshold: float = SEMDEDUP_THRESHOLD) -> DataFrame:
    """Core of :func:`semdedup_embeddings` over any (vec_id, embedding)
    frame — split out so the planted-duplicate unit test can feed its own
    vectors (the ``_lang_id_frame`` pattern).

    The k-means assign is the shared GEMM kernel, and the within-cluster
    similarity matrix is one BLAS ``V·Vᵀ`` per cluster block inside
    ``applyInPandas``, so the quadratic step never materializes a pair ROW
    per candidate, only a dense block per cluster. The block is chunked
    over rows: peak memory per task is ``_SEMDEDUP_CHUNK × |cluster|``
    doubles, so a skewed cluster degrades to more chunks, never to OOM.
    Cosines are rounded to 6 dp half away from zero, as ``ROUND(·, 6)``
    rounds them on both engines.

    The clustered checkpoint is memoized under the frame's semantic hash
    (``_frame_memo``): looped calls on the same frame share one Lloyd run
    and one block set, and ``clear_dedup_memo()`` releases it."""
    import numpy as np

    from gmr_spark.algorithms.kmeans import kmeans

    thr = float(threshold)
    vecs = emb.select(
        F.col("vec_id").cast("bigint").alias("id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("vec"),
    )
    clustered = _frame_memo(
        emb, "semdedup_clustered", (k, iters),
        lambda: kmeans(emb, k=k, iters=iters)  # (id, cluster)
        .join(vecs, "id")
        .select("id", "cluster", "vec")
        .localCheckpoint(eager=True),
    )

    def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("id").reset_index(drop=True)
        V = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
        V = V / np.linalg.norm(V, axis=1, keepdims=True)
        n = len(pdf)
        max_prev = np.full(n, np.nan)
        n_dup = np.zeros(n, dtype=np.int32)
        for lo in range(1, n, _SEMDEDUP_CHUNK):  # row 0 has no earlier row
            hi = min(lo + _SEMDEDUP_CHUNK, n)
            # rows lo..hi against every earlier row j < i
            S = V[lo:hi] @ V[:hi].T
            S = np.sign(S) * np.floor(np.abs(S) * 1e6 + 0.5) / 1e6
            S = np.where(np.arange(hi)[None, :] < np.arange(lo, hi)[:, None],
                         S, -np.inf)
            max_prev[lo:hi] = S.max(axis=1)
            n_dup[lo:hi] = (S >= thr).sum(axis=1)
        return pd.DataFrame({
            "vec_id": pdf["id"].to_numpy(),
            "cluster": pdf["cluster"].to_numpy(),
            "max_sim_earlier": max_prev,  # NaN -> NULL: no earlier row
            "n_dup_earlier": n_dup,
            "keep": n_dup == 0,
        })

    return clustered.groupBy("cluster").applyInPandas(
        per_cluster,
        "vec_id bigint, cluster int, max_sim_earlier double, "
        "n_dup_earlier int, keep boolean",
    )


SUBSTR_WINDOW = 8  # words per exact-substring window


def dedup_substring(spark: SparkSession, sf_dir: str, *,
                    window: int = SUBSTR_WINDOW) -> DataFrame:
    """(doc_id, n_windows, n_dup_windows, dup_frac, max_docs_sharing, keep):
    cross-document EXACT substring deduplication (public method: Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better" — the
    ExactSubstr pass that complements document-level near-dedup). Every
    ``window``-word sliding window of every document is keyed by
    ``md5(space-joined words)``; a window position is *duplicated* when its
    key occurs in ≥2 distinct documents. Per document: total window count,
    duplicated-position count, their ratio (ROUND 6), the widest sharing
    fan-out (0 sentinel when clean — no NULL numerics), and
    ``keep = n_dup_windows == 0``.

    The fifth dedup modality next to exact / MinHash / SimHash / SemDeDup:
    exact catches identical docs, MinHash-Jaccard catches high-overlap
    pairs, this catches a single verbatim passage pasted across otherwise
    unrelated documents — the boilerplate/license/quotation case the
    document-level methods dilute below threshold.

    Scale: windows are emitted by the same posexplode+lead plan as every
    shingle consumer (one shuffle, by doc); the global key groupBy runs on
    the fixed-width md5, never the text (map-side combinable; at 100 TB the
    32-hex key bounds shuffle width exactly like dedup_exact's md5 rule);
    the shared-key set (keys with ≥2 docs) is usually tiny — AQE converts
    the annotate-join to broadcast at runtime. Lee et al. build a suffix
    array; a sliding rolling-hash window over a shuffle-grouped corpus is
    the Spark-native equivalent for fixed window length."""
    docs = load_tables(spark, sf_dir)["documents"]
    # the ~90M-row window-stream checkpoint (4.5 GB at the 2M-doc proof) is
    # application-memoized like every other chain intermediate, so repeat
    # calls share the blocks and clear_dedup_memo() can RELEASE them — a
    # bare in-function checkpoint would sit outside the module's release
    # discipline and stay resident until ContextCleaner catches up
    wins = _memo(
        spark, ("substr_wins", sf_dir, _corpus_token(sf_dir), window),
        lambda: _substring_window_stream(docs, window)
        .localCheckpoint(eager=True),
    )
    return _dedup_substring_over(docs, wins, window)


def dedup_substring_frame(docs: DataFrame, *,
                          window: int = SUBSTR_WINDOW) -> DataFrame:
    """Core of :func:`dedup_substring` over any (doc_id, text) frame —
    split out so the planted-passage unit test can feed its own corpus
    (the ``semdedup_frame`` pattern). Synthetic frames have no sf_dir
    fingerprint, so the window-stream checkpoint is memoized under the
    frame's semantic hash (``_frame_memo``) — looped calls share blocks
    and ``clear_dedup_memo()`` releases them (the declared sf_dir wrapper
    keeps its stronger mtime-token memo)."""
    wins = _frame_memo(
        docs, "substr_wins_frame", (window,),
        lambda: _substring_window_stream(docs, window)
        .localCheckpoint(eager=True),
    )
    return _dedup_substring_over(docs, wins, window)


def _substring_window_stream(docs: DataFrame, window: int) -> DataFrame:
    """The (doc_id, md5(window)) stream — feeds BOTH the global-key
    aggregation and the per-doc annotate join, so callers materialize it
    once (same discipline as _doc_shingles; ~90M rows ≈ 4.5 GB at the
    2M-doc proof, well inside executor storage and spillable beyond it).
    Before that checkpoint the posexplode+lead+md5 subtree evaluated once
    per consumer — measured 263.6 s at 2M docs; see SCALE.md."""
    return exploded_word_shingles(docs, k=window).select(
        "doc_id", F.md5(F.col("sh")).alias("h"))


def _dedup_substring_over(docs: DataFrame, wins: DataFrame,
                          window: int) -> DataFrame:
    shared = (
        wins.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
    )
    # n_windows = max(0, n_tokens - (window-1)) directly from the text — a
    # narrow scan; counting the exploded window rows again would be a second
    # full-width aggregation for a number the token count already determines
    per_doc = docs.select(
        "doc_id",
        F.greatest(
            F.size(tokens(F.col("text"))) - (window - 1), F.lit(0)
        ).cast("long").alias("n_windows"),
    )
    dup = (
        wins.join(shared, "h")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_windows"),
             F.max("nd").alias("max_docs_sharing"))
    )
    n_dup = F.coalesce(F.col("n_dup_windows"), F.lit(0).cast("long"))
    return (
        per_doc
        .join(dup, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_windows"), F.lit(0).cast("long")).alias("n_windows"),
            n_dup.alias("n_dup_windows"),
            F.when(F.coalesce(F.col("n_windows"), F.lit(0)) > 0,
                   F.round(n_dup.cast("double") / F.col("n_windows"), 6))
            .otherwise(F.lit(0.0)).alias("dup_frac"),
            F.coalesce(F.col("max_docs_sharing"), F.lit(0).cast("long"))
            .alias("max_docs_sharing"),
            (n_dup == 0).alias("keep"),
        )
    )
