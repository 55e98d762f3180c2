"""Similarity search over the embeddings table (ARRAY<FLOAT>, 64-dim).

Exact paths (same declared contract, two physical plans):
- ``cosine_topk``       — JVM ``zip_with``+``aggregate`` dot per (query,
  vector) pair; ideal at a handful of queries. The baseline every ANN
  variant is judged against. Only queries are broadcast; the scan side
  stays partitioned at any scale.
- ``cosine_topk_arrow`` — one numpy GEMM per Arrow batch for query
  BATCHES; each task emits its per-batch top-k by the global ordering
  key, so the merge is exact. Measured: 1,000 queries × 10M vectors in
  80.9 s under the chunked kernel (155 s unchunked; SCALE.md).

Approximate paths (every candidate generator is a bucket equi-join):
- ``ann_sign_lsh`` — axis-aligned sign-bit buckets (pure column exprs).
- ``ann_rh_lsh``   — multi-table random-hyperplane LSH (OR-amplified,
  Arrow-vectorized plane dots).
- ``ann_ivf``      — IVF cells as the bucket key; exact re-rank in probed
  cells; ``nprobe`` is the recall/cost dial. Cells come from the one
  nearest-centroid kernel k-means uses
  (:func:`gmr_spark.algorithms.kmeans.nearest_centroids`).
- ``ann_ivf_pq``   — IVF + 4-bit product-quantized index (Jégou et al.
  TPAMI 2011): candidates carry (cell, codes) only, ADC scores via
  per-query LUTs (cogrouped transport), exact re-rank of the shortlist.
  ``train_iters`` refines the codebook by per-subspace Lloyd
  (``train_pq_codebook``) — the production path, proven at 2M vectors
  (SCALE.md); the default stays seeded so the DuckDB twin derives it.
- ``ann_recall_at_k`` — measured recall of every ANN path vs the exact
  baseline, as a declared regression-guarded query.

Determinism: similarities are ROUND(·, 6) before ranking (fold-order float
drift is ~1e-15), ties break on neighbor id.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from gmr_spark.algorithms.kmeans import (
    GEMM_CHUNK_BYTES, lloyd, nearest_centroids)
from gmr_spark.sources.tables import load_tables


def _vec(col: str = "embedding") -> F.Column:
    return F.transform(F.col(col), lambda x: x.cast("double"))


def _dot(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
                       lambda acc, v: acc + v)


def _norm(a: F.Column) -> F.Column:
    return F.sqrt(_dot(a, a))


def cosine_topk(spark: SparkSession, sf_dir: str, *, n_queries: int = 5,
                k: int = 10) -> DataFrame:
    """(query_id, neighbor_id, sim, rnk): exact top-k neighbors by cosine
    for the ``n_queries`` lowest vec_ids (self excluded)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    base = emb.select(F.col("vec_id").alias("neighbor_id"), _vec().alias("v"))
    queries = (
        emb.filter(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("query_id"), _vec().alias("q"))
    )
    sims = (
        base.join(F.broadcast(queries))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(_dot(F.col("q"), F.col("v"))
                    / (_norm(F.col("q")) * _norm(F.col("v"))), 6).alias("sim"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "sim", "rnk")
    )


# The top-k kernel chunks the QUERY axis to GEMM_CHUNK_BYTES of f64 per
# task (the nearest-centroid kernel's budget), which serves two measured
# purposes:
# - memory: a 100k-query batch against 10k-row Arrow batches is multi-GB
#   per task × 32 concurrent tasks (an OOM, not a slowdown) unchunked;
# - cache: the per-query top-k loop gathers one COLUMN of the C-ordered
#   sims block per query — on a 100 MB block that stride-thrashes every
#   level of cache (measured at 200k vectors × 1,000 queries: 5-13.5 s
#   unchunked vs 2.2-2.8 s at ANY budget in 1-32 MB; 8 MB sits mid-plateau
#   with margin both ways). More queries degrade to more chunks, never to
#   more memory. Per-chunk top-k over the same global key equals the
#   unchunked kernel AFTER the ROUND(·,6) contract: each query's column is
#   ranked independently either way, but BLAS dgemm output for an element
#   can depend on the multiply's shape (threaded blocking), so pre-round
#   sims between V @ Q.T and V @ Q[lo:hi].T may differ in the last ulp.
#   Equality is pinned empirically (tie-bearing corpus in
#   tests/test_llm_ops.py; 2M-vector exceptAll both ways = 0, SCALE.md),
#   not structural.


def make_topk_gemm_fn(q_rows: list[tuple[int, list[float]]], k: int,
                      chunk_bytes: int = GEMM_CHUNK_BYTES):
    """``mapInPandas`` factory for :func:`cosine_topk_arrow`: one GEMM per
    Arrow batch against the broadcast query matrix (dots on RAW vectors,
    divided by both norms — the oracle's formula shape), per-batch top-k
    selected by the GLOBAL ordering key (ROUND(sim, 6) DESC, neighbor_id
    ASC). Because each batch emits a correct prefix of the global order
    restricted to its rows, the final window over batch winners is EXACT —
    the distributed result is the brute-force answer, not an
    approximation. Self matches (neighbor_id == query_id) are excluded.

    The query axis is chunked so the sims block stays under ``chunk_bytes``
    per task regardless of |Q| (see GEMM_CHUNK_BYTES). Zero-norm vectors
    make cosine undefined: the JVM ``cosine_topk`` expression fails loudly
    there (Spark 4 runs ANSI mode by default — 0/0 is DIVIDE_BY_ZERO, not
    NaN), so this kernel raises the SAME loud error instead of letting
    np.lexsort rank a silent NaN differently and diverge from the
    'identical contract' twin on pathological inputs. Query norms are
    validated at factory time (driver-side)."""
    import numpy as np

    Q = np.asarray([list(v) for _, v in q_rows], dtype=np.float64)
    qids = np.asarray([i for i, _ in q_rows], dtype=np.int64)
    if not len(qids):
        # empty query set: emit nothing (the JVM twin's broadcast join
        # against zero query rows is empty too); norm/concatenate on the
        # 0-row matrix would raise instead
        def empty_fn(batches):
            return iter(())

        return empty_fn
    qn = np.linalg.norm(Q, axis=1)
    bad_q = np.flatnonzero(qn == 0)
    if len(bad_q):
        raise ValueError(
            "make_topk_gemm_fn: zero-norm query vectors (cosine undefined; "
            f"the JVM path raises DIVIDE_BY_ZERO): ids {qids[bad_q][:5]}")

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.vstack(pdf["v"].to_numpy())
            ids = pdf["id"].to_numpy()
            vn = np.linalg.norm(V, axis=1)
            bad = np.flatnonzero(vn == 0)
            if len(bad):
                raise ValueError(
                    "make_topk_gemm_fn: zero-norm vectors (cosine "
                    "undefined; the JVM path raises DIVIDE_BY_ZERO): ids "
                    f"{ids[bad][:5]}")
            kk = min(k, len(ids))
            q_chunk = max(1, int(chunk_bytes // (8 * max(1, len(ids)))))
            out_q, out_n, out_s = [], [], []
            for lo in range(0, len(qids), q_chunk):
                hi = min(lo + q_chunk, len(qids))
                sims = (V @ Q[lo:hi].T) / (vn[:, None] * qn[None, lo:hi])
                # ROUND(·, 6) half-AWAY-FROM-ZERO — np.round is half-to-
                # even, which can flip a 6dp tie vs Spark/DuckDB ROUND (the
                # make_rh_buckets_udf lesson; same emulation as
                # _pq_subdists)
                sims = np.sign(sims) * np.floor(
                    np.abs(sims) * 1e6 + 0.5) / 1e6
                is_self = ids[:, None] == qids[None, lo:hi]
                sims[is_self] = -2.0  # sort self rows last...
                for j in range(lo, hi):
                    # global ordering key: sim DESC, neighbor_id ASC
                    top = np.lexsort((ids, -sims[:, j - lo]))[:kk]
                    # ...and DROP self rows from the emit: on a corpus with
                    # ≤ k non-self rows the sentinel would otherwise surface
                    # in the final top-k, a row cosine_topk/the oracle never
                    # produce
                    top = top[ids[top] != qids[j]]
                    out_q.append(np.full(len(top), qids[j]))
                    out_n.append(ids[top])
                    out_s.append(sims[top, j - lo])
            yield pd.DataFrame({
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "sim": np.concatenate(out_s)})

    return fn


def cosine_topk_arrow(spark: SparkSession, sf_dir: str, *, n_queries: int = 5,
                      k: int = 10) -> DataFrame:
    """(query_id, neighbor_id, sim, rnk): the Arrow/GEMM scale path of
    :func:`cosine_topk` — identical declared contract (exact brute-force
    cosine top-k, sims ROUND(·,6), ties to the lower neighbor_id; same
    DuckDB oracle), different physical plan. ``cosine_topk`` folds one
    JVM ``zip_with``+``aggregate`` expression per (query, vector) pair,
    ideal at a handful of queries; at a 1k+ query batch the per-pair
    interpreted fold dominates, while here all query dots for a batch are
    ONE numpy GEMM and each task emits only its per-batch top-k — |Q|·k
    rows per task instead of |Q|·|batch| pair rows. Measured at the
    2M-vector class: 1,000 queries in 11.8 s under the chunked kernel
    (21.7–40.3 s unchunked; SCALE.md).
    Fold-order float drift vs the oracle's SQL SUM is absorbed by the
    ROUND(·,6) contract (the make_pair_dot_udf precedent)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    base = emb.select(F.col("vec_id").alias("id"), _vec().alias("v"))
    # k-bounded driver collect: n_queries rows (the cosine_topk pattern)
    q_rows = [(int(r.id), list(r.v))
              for r in base.filter(F.col("id") < n_queries).collect()]
    cand = base.mapInPandas(
        make_topk_gemm_fn(q_rows, k),
        "query_id bigint, neighbor_id bigint, sim double")
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "sim", "rnk")
    )


def train_ivf_cells(
        df: DataFrame, *, k_cells: int, iters: int,
        sample_mod: int = 1) -> list[tuple[int, list[float]]]:
    """Lloyd-train the IVF coarse centroids of df (id, v): the production
    quantizer the seeded default stands in for. Seeds are the ``k_cells``
    lowest-id vectors, then ``iters`` rounds of the k-means loop
    (:func:`gmr_spark.algorithms.kmeans.lloyd`) over a 1-in-``sample_mod``
    id-residue sample, so training never passes the corpus (the same
    sampling contract as ``train_pq_codebook``). A cell that empties is
    dropped, so callers get at most ``k_cells`` centroids; an empty sample
    keeps the seeds.

    Measured (SCALE.md): at 2M vectors × 256 cells, max/mean cell
    population 8.79 → 1.09 and same-cell partner rate 0.9243 → 0.9374; at
    4,096 to 65,536 cells the assign is linear in k_cells and the update
    is metadata-class in k_cells (its cost is the sample explode). Balance
    is limited by the training-sample density (≈1.42–1.46 at ~49 samples
    per cell, 2.26 at ~20): more iterations are the dial. The ``cells4k``
    family of scripts/scale.py holds the trainer to max/mean ≤ seeded/10
    and ≤ 2.0 across the 1,024–16,384 decade."""
    return lloyd(df.select("id", F.col("v").alias("vec")), k=k_cells,
                 iters=iters, sample_mod=sample_mod)


def _ivf_index_probes(
        df: DataFrame, *, k_cells: int, nprobe: int,
        centroids: list[tuple[int, list[float]]] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Shared coarse quantizer of the IVF family (``ann_ivf``,
    ``ann_ivf_pq``) over df (id, v). Default centroids = the ``k_cells``
    lowest-id vectors (no Lloyd iterations, which keeps the oracle twin
    compact); pass ``centroids`` (e.g. from :func:`train_ivf_cells`) to
    quantize against a trained codebook instead. Returns

    - ``indexed``: (neighbor_id, nv, cell) — every vector in its nearest cell
    - ``probes``:  (query_id, q, cell) — every query × its ``nprobe`` cells

    Both come from one pass of the nearest-centroid kernel
    (:func:`gmr_spark.algorithms.kmeans.nearest_centroids`): cell
    distances ROUND(·,6) half up, ties to the lower cell id."""
    seeds = centroids if centroids is not None else [
        (i, list(r.v))
        for i, r in enumerate(df.orderBy("id").limit(k_cells).collect())
    ]
    ranked = nearest_centroids(df.select("id", F.col("v").alias("vec")),
                               seeds, n=nprobe, dp=6)
    indexed = ranked.select(
        F.col("id").alias("neighbor_id"), F.col("vec").alias("nv"),
        F.col("cells")[0].alias("cell"))
    probes = ranked.select(
        F.col("id").alias("query_id"), F.col("vec").alias("q"),
        F.explode("cells").alias("cell"))
    return indexed, probes


# Declared top-k of every measured ANN path (ann_ivf / ann_ivf_pq topk,
# sign/rh-LSH k) AND the bound ann_recall_at_k guards against: the guard's
# contract is "recall@k is only meaningful for k <= the paths' returned
# top-k", so one constant keeps guard and defaults in lockstep by
# construction (a literal 3 in the guard would silently misstate the
# contract if a default ever moved).
ANN_TOPK = 3


def ann_ivf(spark: SparkSession, sf_dir: str, *, k_cells: int = 8,
            nprobe: int = 2, topk: int = ANN_TOPK) -> DataFrame:
    """(query_id, neighbor_id, sim, rnk): IVF-style ANN — the second scale
    path next to sign-LSH. Coarse quantizer = seed centroids
    (``_ivf_index_probes``); every vector is *indexed* into its nearest
    cell, every query *probes* its ``nprobe`` nearest cells, exact cosine
    re-ranks inside the probed cells. Replaces the O(n²) similarity
    cross-product with a cell-key equi-join; at 100 TB, cells are the
    partitioning key.

    Determinism: cell distances and cosines ROUND(·,6); ties to the lower
    cell/neighbor id.
    """
    emb = load_tables(spark, sf_dir)["embeddings"]
    df = emb.select(F.col("vec_id").alias("id"), _vec().alias("v"))
    indexed, probes = _ivf_index_probes(df, k_cells=k_cells, nprobe=nprobe)

    sims = (
        probes.join(indexed, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(_dot(F.col("q"), F.col("nv"))
                    / (_norm(F.col("q")) * _norm(F.col("nv"))), 6).alias("sim"),
        )
    )  # each neighbor is indexed in exactly one cell -> no dedupe needed
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= topk)
        .select("query_id", "neighbor_id", "sim", "rnk")
    )


# Product quantization (IVF-PQ): the memory-compression scale path of the
# ANN family. A 64-dim float vector (256 B) is stored as PQ_M 4-bit codes
# (4 B, 64× smaller): split the vector into PQ_M subspaces of PQ_DSUB dims,
# quantize each sub-vector to its nearest of PQ_KS codebook entries (Jégou,
# Douze, Schmid, "Product Quantization for Nearest Neighbor Search", TPAMI
# 2011 — public). Queries score candidates with ADC (asymmetric distance
# computation): one (PQ_M × PQ_KS)-entry lookup table per query, then each
# candidate costs PQ_M table lookups instead of a 64-dim dot — at 100 TB the
# index side never materializes vectors past the encode pass.
PQ_M = 8       # subspaces
PQ_DSUB = 8    # dims per subspace (PQ_M * PQ_DSUB = 64 = RH_DIM)
PQ_KS = 16     # codes per subspace -> 4-bit codes
PQ_SHORTLIST = 12  # ADC shortlist re-ranked exactly


def _pq_subdists(codebook: list[list[list[float]]]):
    """Closure: (batch, 64) float matrix → (batch, PQ_M, PQ_KS) squared
    sub-distances, ROUND(·,6) half-away-from-zero (nonneg, so floor(x·1e6
    + 0.5) matches Spark/DuckDB ROUND) — the shared kernel of the encode
    argmin and the query LUT, so the two sides can never disagree."""

    def _d2(vs: pd.Series):
        import numpy as np

        cb = np.asarray(codebook, dtype=np.float64)      # (M, KS, DSUB)
        mat = np.vstack(vs.to_numpy())                   # (batch, 64)
        sub = mat.reshape(len(mat), PQ_M, 1, PQ_DSUB)
        d2 = ((sub - cb[None]) ** 2).sum(axis=3)         # (batch, M, KS)
        return np.floor(d2 * 1e6 + 0.5) / 1e6

    return _d2


def make_pq_codes_udf(codebook: list[list[list[float]]]):
    """Arrow-vectorized PQ encoder: vector → ARRAY<INT> of PQ_M codes
    (argmin sub-distance; numpy argmin takes the FIRST minimum = lowest
    code, matching the oracle's ORDER BY d2, code tiebreak)."""
    d2 = _pq_subdists(codebook)

    def _codes(vs: pd.Series) -> pd.Series:
        return pd.Series(list(d2(vs).argmin(axis=2).astype("int32")))

    return F.pandas_udf("array<int>")(_codes)


def make_pq_lut_udf(codebook: list[list[list[float]]]):
    """Arrow-vectorized ADC lookup table: query vector → ARRAY<DOUBLE> of
    PQ_M * PQ_KS sub-distances (row-major: entry j*PQ_KS + c is subspace
    j's distance to code c)."""
    d2 = _pq_subdists(codebook)

    def _lut(vs: pd.Series) -> pd.Series:
        flat = d2(vs)
        return pd.Series(list(flat.reshape(len(flat), PQ_M * PQ_KS)))

    return F.pandas_udf("array<double>")(_lut)


def train_pq_codebook(df: DataFrame, codebook: list[list[list[float]]],
                      *, iters: int = 3) -> list[list[list[float]]]:
    """Per-subspace Lloyd refinement of a PQ codebook — the production
    codebook path the seeded default stands in for (Jégou et al. TPAMI 2011
    train each subspace's codebook with k-means).

    Each iteration is ONE Arrow pass over ``df`` (id, v ARRAY<DOUBLE>):
    the shared ``_pq_subdists`` kernel scores every (vector, subspace,
    code) triple, argmin assigns all PQ_M subspaces at once (first minimum
    = lowest code, the encode tie rule), and the task emits per-(subspace,
    code, dim) partial sums + counts — PQ_M·PQ_KS·PQ_DSUB = 1,024 rows per
    task regardless of data size, so the shuffle is metadata-class and the
    driver reads a 1,024-row aggregate per iteration. That is the same
    partial-aggregation shape as ``kmeans._update`` at 1/125th the k·dim.
    Empty codes keep their previous centroid (the standard Lloyd
    degenerate-cell rule). Centroid means are ROUND(·,9) (the kmeans.py
    contract) so retraining on identical data is bit-stable.

    At 100 TB the pass would run on a sample (codebook training needs
    ~100k vectors, not the corpus — the PQ paper trains on a held-out
    set); callers control that by passing a sampled ``df``."""
    import numpy as np

    cur = [[list(map(float, c)) for c in sub] for sub in codebook]
    for _ in range(iters):
        d2 = _pq_subdists(cur)

        def partials(batches, _d2=d2):
            sums = np.zeros((PQ_M, PQ_KS, PQ_DSUB), dtype=np.float64)
            cnts = np.zeros((PQ_M, PQ_KS), dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                codes = _d2(pdf["v"]).argmin(axis=2)        # (n, M)
                sub = np.vstack(pdf["v"].to_numpy()).reshape(
                    len(pdf), PQ_M, PQ_DSUB)
                for m in range(PQ_M):
                    np.add.at(sums[m], codes[:, m], sub[:, m, :])
                    np.add.at(cnts[m], codes[:, m], 1)
            m_idx, c_idx, d_idx = np.meshgrid(
                np.arange(PQ_M), np.arange(PQ_KS), np.arange(PQ_DSUB),
                indexing="ij")
            yield pd.DataFrame({
                "m": m_idx.ravel().astype("int32"),
                "code": c_idx.ravel().astype("int32"),
                "dim": d_idx.ravel().astype("int32"),
                "s": sums.ravel(),
                "cnt": np.repeat(cnts.ravel(), PQ_DSUB),
            })

        stats = (
            df.mapInPandas(partials,
                           "m int, code int, dim int, s double, cnt long")
            .groupBy("m", "code", "dim")
            .agg(F.sum("s").alias("s"), F.sum("cnt").alias("cnt"))
            .toPandas()
        )
        for m, code, dim, s, cnt in zip(stats["m"], stats["code"],
                                        stats["dim"], stats["s"],
                                        stats["cnt"]):
            if cnt > 0:
                cur[int(m)][int(code)][int(dim)] = round(
                    float(s) / float(cnt), 9)
    return cur


def pq_mse(df: DataFrame, codebook: list[list[list[float]]]) -> float:
    """Mean PQ quantization error: avg over vectors of Σ_m min_c d²(sub_m,
    codebook[m][c]) — the number Lloyd training monotonically improves.
    One Arrow pass emitting a (Σerr, n) pair per task."""
    d2 = _pq_subdists(codebook)

    def partials(batches):
        import numpy as np

        tot, n = 0.0, 0
        for pdf in batches:
            if not len(pdf):
                continue
            tot += float(d2(pdf["v"]).min(axis=2).sum())
            n += len(pdf)
        yield pd.DataFrame({"tot": [tot], "n": [n]})

    row = (df.mapInPandas(partials, "tot double, n long")
           .agg(F.sum("tot").alias("tot"), F.sum("n").alias("n")).first())
    return float(row.tot / row.n) if row.n else 0.0


def pq_adc_expr(lut: F.Column, codes: F.Column) -> F.Column:
    """ADC score as a pure JVM expression: PQ_M array lookups per candidate
    (element_at is 1-based; codes are 0-based row-major offsets into the
    flattened PQ_M × PQ_KS LUT), summed and ROUND(·,6). Shared by
    ``ann_ivf_pq`` and the 2M-vector scale probe (the ``pq`` family of
    scripts/scale.py)."""
    return F.round(
        F.aggregate(
            F.transform(
                F.sequence(F.lit(0), F.lit(PQ_M - 1)),
                lambda j: F.element_at(
                    lut,
                    (j * PQ_KS + F.element_at(codes, j + 1) + 1).cast("int")),
            ),
            F.lit(0.0), lambda a, x: a + x,
        ), 6)


def pq_adc_cogrouped(cand: DataFrame, luts: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, adc): ADC scored per query GROUP — the
    large-fanout transport shape. The JVM ``pq_adc_expr`` path joins the
    per-query LUT to the candidate set, which materializes the ~1 KB LUT
    array into EVERY joined pair row (measured: the dominant cost of the
    2M-vector probe at ~7.8k candidates/query — SCALE.md);
    cogrouping ships each query's LUT once per group and scores the whole
    candidate block with one numpy gather. Inputs: ``cand``
    (query_id, neighbor_id, codes) and ``luts`` (query_id, lut). Rounding
    contract identical to ``pq_adc_expr`` (LUT entries are pre-rounded
    multiples of 1e-6; the 8-term sum is ROUND(·,6) half-away-from-zero) —
    exact agreement with the expression path is pinned in tests."""
    import numpy as np

    def score(cands_pdf: pd.DataFrame, lut_pdf: pd.DataFrame) -> pd.DataFrame:
        if cands_pdf.empty:
            # a LUT row whose query produced no candidates (empty probed
            # cell) is the only legitimately silent case
            return pd.DataFrame(
                {"query_id": pd.Series([], dtype="int64"),
                 "neighbor_id": pd.Series([], dtype="int64"),
                 "adc": pd.Series([], dtype="float64")})
        if len(lut_pdf) != 1:
            # exported as a general transport: a caller-side join mistake (missing or duplicated LUT rows per
            # query) must fail loudly, not silently drop/mis-score
            # candidates for that query
            qid = cands_pdf["query_id"].iloc[0]
            raise ValueError(
                f"pq_adc_cogrouped: query_id={qid} has {len(lut_pdf)} LUT "
                "rows (expected exactly 1 per query with candidates) — the "
                "caller's luts side is missing or duplicates this query")
        lut = np.asarray(lut_pdf["lut"].iloc[0],
                         dtype=np.float64).reshape(PQ_M, PQ_KS)
        codes = np.vstack(cands_pdf["codes"].to_numpy())  # (n, PQ_M)
        adc = lut[np.arange(PQ_M)[None, :], codes].sum(axis=1)
        adc = np.floor(adc * 1e6 + 0.5) / 1e6  # sums are nonnegative
        return pd.DataFrame({"query_id": cands_pdf["query_id"],
                             "neighbor_id": cands_pdf["neighbor_id"],
                             "adc": adc})

    return (
        cand.groupBy("query_id").cogroup(luts.groupBy("query_id"))
        .applyInPandas(score, "query_id bigint, neighbor_id bigint, adc double")
    )


def ann_ivf_pq(spark: SparkSession, sf_dir: str, *, k_cells: int = 8,
               nprobe: int = 2, shortlist: int = PQ_SHORTLIST,
               topk: int = ANN_TOPK, train_iters: int = 0,
               cell_train_iters: int = 0,
               cell_sample_mod: int = 1) -> DataFrame:
    """(query_id, neighbor_id, sim, rnk): IVF-PQ ANN — the compressed-index
    scale path. Same coarse quantizer as ``ann_ivf`` (cell equi-join bounds
    candidates), but the index side is PQ codes (4 B/vector instead of
    256 B): candidates are scored by ADC (per-query LUT + PQ_M array
    lookups, pure JVM expressions), the best ``shortlist`` per query are
    re-ranked with exact cosine, top-``topk`` returned.

    Codebook: seeded with sub-vectors of the PQ_KS lowest-id vectors, then
    refined by ``train_iters`` rounds of per-subspace Lloyd
    (:func:`train_pq_codebook`). The DECLARED query keeps ``train_iters=0``
    — the seeded codebook is derivable from the same table by the DuckDB
    twin, and at the oracle corpus's noise the measurement showed the
    codebook was not the recall limiter (SCALE.md: all misses were
    coarse-cell misses). The production path is ``train_iters>0``, proven
    at the noise level where seeding degrades in the ``pqtrain`` family of
    scripts/scale.py.

    Coarse cells: seeded by default (the ``k_cells`` lowest-id vectors —
    oracle-derivable), Lloyd-trained when ``cell_train_iters>0`` via
    :func:`train_ivf_cells` on a 1-in-``cell_sample_mod`` sample (the
    measured production win is cell BALANCE: max/mean population
    8.79→1.09 at 2M vectors, the hot-key bound of the candidate
    equi-join; trained cells also lift same-cell partner rate
    0.9243→0.9374, the nprobe=1 coarse recall ceiling). The full
    production config is ``train_iters>0, cell_train_iters>0``.
    At 100 TB: encode is one Arrow pass, the candidate join carries
    (cell, codes) only — vectors are re-joined for the shortlist·topk rows
    alone. Determinism: sub-distances / ADC sums / cosines ROUND(·,6), ties
    to the lower code / neighbor id."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    df = emb.select(F.col("vec_id").alias("id"), _vec().alias("v"))
    # k-bounded driver collect (PQ_KS rows), same pattern as the IVF seeds
    seed_rows = df.orderBy("id").limit(PQ_KS).collect()
    codebook = [
        [[float(r.v[j * PQ_DSUB + d]) for d in range(PQ_DSUB)]
         for r in seed_rows]
        for j in range(PQ_M)
    ]
    if train_iters:
        codebook = train_pq_codebook(df, codebook, iters=train_iters)
    centroids = None
    if cell_train_iters:
        centroids = train_ivf_cells(df, k_cells=k_cells,
                                    iters=cell_train_iters,
                                    sample_mod=cell_sample_mod)
    indexed, probes = _ivf_index_probes(df, k_cells=k_cells, nprobe=nprobe,
                                        centroids=centroids)
    enc = indexed.select(
        "neighbor_id", "cell",
        make_pq_codes_udf(codebook)(F.col("nv")).alias("codes"),
    )
    luts = df.select(F.col("id").alias("query_id"),
                     make_pq_lut_udf(codebook)(F.col("v")).alias("lut"))
    cand = (
        probes.select("query_id", "cell")
        .join(enc, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    # cogrouped ADC: measured faster than the pq_adc_expr LUT-join at BOTH
    # scales (sf0.1: 3.8 → 2.3 s; 2M vectors: 116 → 33 s — SCALE.md),
    # and value-identical by the pinned agreement test. The expr path stays
    # exported for small fanouts / the A/B probe.
    scored = pq_adc_cogrouped(
        cand.select("query_id", "neighbor_id", "codes"), luts)
    from pyspark.sql import Window as W

    w_short = W.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id"))
    short = (
        scored.withColumn("srn", F.row_number().over(w_short))
        .filter(F.col("srn") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    qv = df.select(F.col("id").alias("query_id"), F.col("v").alias("q"))
    nv = df.select(F.col("id").alias("neighbor_id"), F.col("v").alias("nv"))
    sims = (
        short.join(qv, "query_id").join(nv, "neighbor_id")
        .select(
            "query_id", "neighbor_id",
            F.round(_dot(F.col("q"), F.col("nv"))
                    / (_norm(F.col("q")) * _norm(F.col("nv"))), 6).alias("sim"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= topk)
        .select("query_id", "neighbor_id", "sim", "rnk")
    )


def _recall_row(truth: DataFrame, approx: DataFrame, *, method: str,
                n_queries: int, k: int) -> DataFrame:
    """One (method, hits, recall) row: |approx top-k ∩ exact top-k| / (n·k)
    — the shared scoring step of :func:`ann_recall_at_k` and
    :func:`ann_recall_production`."""
    cand = (
        approx.filter((F.col("query_id") < n_queries) & (F.col("rnk") <= k))
        .select("query_id", "neighbor_id")
    )
    hits = truth.join(cand, ["query_id", "neighbor_id"], "left_semi")
    return hits.agg(F.count(F.lit(1)).alias("hits")).select(
        F.lit(method).alias("method"),
        F.col("hits").cast("bigint").alias("hits"),
        F.round(F.col("hits") / F.lit(float(n_queries * k)), 6).alias("recall"),
    )


def ann_recall_at_k(spark: SparkSession, sf_dir: str, *, n_queries: int = 5,
                    k: int = ANN_TOPK) -> DataFrame:
    """(method, hits, recall): measured recall@k of every ANN path
    (``ann_ivf``, ``ann_ivf_pq``, ``ann_sign_lsh``, ``ann_rh_lsh``) against the exact
    brute-force top-k (``cosine_topk``) on the same query set — turns the
    "standard recall tradeoff" claims in the bucket-cap docstrings into a
    declared, regression-guarded number. Tiny output (one row per method);
    the cost is the underlying similarity passes, each of which keeps its
    own bucketed / broadcast plan.

    This declared row guards the four SEEDED paths (the configurations the
    DuckDB twin derives). The full production configuration — trained
    codebook × trained cells — is guarded by the bench-only
    twin :func:`ann_recall_production` (its training fixpoints have no
    compact DuckDB derivation), asserted ≥ the seeded ``ann_ivf_pq``
    recall in tests/test_llm_ops.py."""
    if k > ANN_TOPK:
        # the measured paths run their declared topk=ANN_TOPK configs — a
        # larger k would silently cap recall at ANN_TOPK/k instead of
        # measuring it; the shared constant keeps this bound tracking the
        # paths' defaults
        raise ValueError(f"ann_recall_at_k: k={k} > the measured paths' "
                         f"topk={ANN_TOPK} — recall would be silently "
                         "deflated")
    truth = (
        cosine_topk(spark, sf_dir, n_queries=n_queries, k=10)
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id")
    )
    parts = [
        _recall_row(truth, approx, method=method, n_queries=n_queries, k=k)
        for method, approx in (
            ("ivf", ann_ivf(spark, sf_dir)),
            ("ivf_pq", ann_ivf_pq(spark, sf_dir)),
            ("rh_lsh", ann_rh_lsh(spark, sf_dir)),
            ("sign_lsh", ann_sign_lsh(spark, sf_dir)),
        )
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def ann_recall_production(spark: SparkSession, sf_dir: str, *,
                          n_queries: int = 5, k: int = ANN_TOPK) -> DataFrame:
    """(method, hits, recall): recall@k of the PRODUCTION ann_ivf_pq
    configuration — trained codebook (``train_iters=2``), Lloyd-trained
    coarse cells on a 1-in-10 sample (``cell_train_iters=2``) — against
    the exact ``cosine_topk_arrow`` truth (the GEMM scale path;
    value-identical to ``cosine_topk`` by the shared ROUND(·,6)
    contract). This is the config ``bench.py`` times as
    ``ann_ivf_pq_celltrained``; the row makes its recall a
    regression-guarded number next to the seeded guard
    :func:`ann_recall_at_k`. Bench-only for the same reason as the config
    itself: the two training fixpoints have no compact DuckDB derivation;
    tests/test_llm_ops.py pins recall ≥ the seeded ``ann_ivf_pq``'s ON THE
    BENCH CORPUS (sf0.1 — where the guard's subject actually runs; at the
    tiny sf0.001/sf0.01 tables the 15-item denominator makes the
    deterministic comparison land either way, see the test's docstring)."""
    truth = (
        cosine_topk_arrow(spark, sf_dir, n_queries=n_queries, k=max(k, 10))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id")
    )
    # k is honored on BOTH sides: the production config
    # returns top-k and the ADC shortlist keeps a 4× margin over k (the
    # defaults are unchanged at the bench row's k=3)
    production = ann_ivf_pq(
        spark, sf_dir, train_iters=2, cell_train_iters=2,
        cell_sample_mod=10, topk=k,
        shortlist=max(PQ_SHORTLIST, 4 * k))
    return _recall_row(truth, production, method="ivf_pq_production",
                       n_queries=n_queries, k=k)


def sign_bucket(vec: F.Column, n_bits: int = 16) -> F.Column:
    """Axis-aligned sign-LSH bucket id from the first n_bits dimensions."""
    bits = [
        F.when(F.element_at(vec, i + 1) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(n_bits)
    ]
    acc = bits[0]
    for b in bits[1:]:
        acc = acc + b
    return acc.cast("bigint")


# Multi-table random-hyperplane LSH. Amplification
# is REQUIRED on this corpus: exact top-3 cosines are only ~0.3-0.4
# (angle ~70°, per-plane agreement p ~0.6), so one 16-bit table collides
# true neighbors with probability p^16 ~ 3e-4 — measured recall 0, same as
# the axis-aligned variant. OR-amplification over RH_N_TABLES tables of
# RH_N_BITS bits each lifts the collision probability to 1-(1-p^b)^L
# (~0.3 here) while keeping candidates ~L/2^b of the corpus per query —
# the standard recall/cost dial (tune b up as n grows).
RH_N_TABLES = 6
RH_N_BITS = 6
RH_DIM = 64
RH_SEED = 20240814


def rh_planes(n_planes: int = RH_N_TABLES * RH_N_BITS, dim: int = RH_DIM,
              seed: int = RH_SEED) -> list[list[float]]:
    """Seeded pseudo-random hyperplane coefficients in [-1, 1), rounded to
    6dp — the general random-hyperplane LSH that ``sign_bucket`` specializes
    to axis-aligned planes (correlated dims degrade axis-aligned recall;
    random projections are the standard fix). Generated by a 64-bit LCG
    (Knuth MMIX constants) so the matrix is a deterministic runtime
    constant, and the DuckDB twin's VALUES list is rendered FROM this exact
    list (oracle.llm_sql._rh_planes_values) — the two engines cannot
    drift. Row t*RH_N_BITS+i is bit i of table t."""
    planes: list[list[float]] = []
    state = seed & 0xFFFFFFFFFFFFFFFF
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % 2**64
            row.append(round((state >> 11) / float(2**53) * 2.0 - 1.0, 6))
        planes.append(row)
    return planes


_RH_PLANES = rh_planes()


def rh_bucket(vec: F.Column, planes: list[list[float]]) -> F.Column:
    """Single-table random-hyperplane bucket id: bit i = sign of
    ``vec · plane_i``. Dots are ROUND(·, 6) before the sign test so both
    engines take the same branch despite fold-order float drift (~1e-12)."""
    acc: F.Column | None = None
    for i, row in enumerate(planes):
        dot = F.round(_dot(vec, F.array(*[F.lit(c) for c in row])), 6)
        bit = F.when(dot > 0, F.lit(1 << i)).otherwise(F.lit(0))
        acc = bit if acc is None else acc + bit
    return acc.cast("bigint")


def rh_buckets_array(vec: F.Column, *, n_tables: int = RH_N_TABLES,
                     n_bits: int = RH_N_BITS) -> F.Column:
    """ARRAY of ``n_tables`` global bucket ids (table-disambiguated:
    ``t * 2^n_bits + local_bucket``) — explode it to index a vector into
    every table."""
    if n_tables * n_bits > len(_RH_PLANES):
        raise ValueError(
            f"n_tables*n_bits = {n_tables * n_bits} exceeds the "
            f"{len(_RH_PLANES)} seeded planes shared with the DuckDB twin")
    return F.array(*[
        rh_bucket(vec, _RH_PLANES[t * n_bits:(t + 1) * n_bits])
        + F.lit(t * (1 << n_bits))
        for t in range(n_tables)
    ])


def make_rh_buckets_udf(n_tables: int = RH_N_TABLES, n_bits: int = RH_N_BITS):
    """Arrow-vectorized twin of ``rh_buckets_array``: one numpy matmul
    computes all ``n_tables * n_bits`` plane dots per batch instead of a
    2300-literal Catalyst expression tree (which Janino refuses to compile —
    whole-stage codegen falls back to per-row interpreted evaluation,
    measured 5 s to bucket 2,000 vectors; this path does it in ~50 ms).
    Semantics: dots ROUND(·, 6) before the sign test, bucket =
    table-qualified bit-sum over the SAME seeded plane matrix the DuckDB
    twin renders as VALUES. The rounding is half-AWAY-FROM-ZERO (emulated —
    np.round is half-to-even, which could flip a sign bit vs the twin on an
    exact tie; Spark ROUND and DuckDB ROUND are both away-from-zero).
    Nested closure so cloudpickle ships it by value (same pattern as
    dedup.make_simhash32_udf)."""
    if n_tables * n_bits > len(_RH_PLANES):
        raise ValueError(
            f"n_tables*n_bits = {n_tables * n_bits} exceeds the "
            f"{len(_RH_PLANES)} seeded planes shared with the DuckDB twin")
    plane_rows = [list(r) for r in _RH_PLANES[: n_tables * n_bits]]

    def _buckets(vs: pd.Series) -> pd.Series:
        import numpy as np

        planes = np.asarray(plane_rows, dtype=np.float64)  # (T*B, dim)
        mat = np.vstack(vs.to_numpy())                     # (batch, dim)
        raw = mat @ planes.T                               # (batch, T*B)
        # ROUND(·, 6) half-away-from-zero, matching Spark/DuckDB ROUND
        dots = np.sign(raw) * np.floor(np.abs(raw) * 1e6 + 0.5) / 1e6
        bits = (dots > 0).astype(np.int64)
        weights = np.tile(1 << np.arange(n_bits, dtype=np.int64), n_tables)
        weighted = bits * weights
        per_table = weighted.reshape(len(mat), n_tables, n_bits).sum(axis=2)
        per_table += (np.arange(n_tables, dtype=np.int64) * (1 << n_bits))
        return pd.Series(list(per_table))

    return F.pandas_udf("array<long>")(_buckets)


def make_pair_dot_udf():
    """Arrow-vectorized dot product of two ARRAY<DOUBLE> columns — the
    re-rank hot path (|candidate pairs| rows). One einsum per batch vs the
    interpreted per-element ``aggregate(zip_with(...))`` lambda (~6 s for
    400k pairs → ~0.3 s). Fold-order float drift vs the DuckDB twin's
    unordered SUM is absorbed by the ROUND(·, 6) the caller applies — the
    same tolerance contract the Catalyst path already relied on."""

    def _dots(a: pd.Series, b: pd.Series) -> pd.Series:
        import numpy as np

        ma = np.vstack(a.to_numpy())
        mb = np.vstack(b.to_numpy())
        return pd.Series(np.einsum("ij,ij->i", ma, mb))

    return F.pandas_udf("double")(_dots)


BUCKET_CAP = 256


def split_oversized_buckets(vecs: DataFrame, cap: int = BUCKET_CAP) -> DataFrame:
    """Bound LSH bucket fan-in: a bucket with ``cnt > cap`` members is split
    into ``ceil(cnt / cap)`` sub-buckets by ``id % n_sub``, and candidate
    joins key on (bucket, sub) — so one degenerate bucket (adversarial
    all-same-sign corpus) can never go quadratic; the worst join group is
    ~``cap`` rows. Cost of the bound: neighbors landing in different
    sub-buckets of a split bucket are not candidates (the standard recall
    tradeoff of bounded LSH). ``id % n_sub`` (not a salted hash) keeps the
    split reproducible in the DuckDB twin.

    Input: (id, ..., bucket). Output: same + ``sub``. The per-bucket count
    table is one row per bucket, and every caller's bucket domain is
    bounded by CONSTRUCTION (2^planes sign patterns, n_centroids IVF
    cells, bands × 2^band-bits), not by data size — which is what makes
    the forced broadcast hint safe here at any SF (contrast the SF-linear
    sides relational.py's broadcast policy un-hinted).
    """
    counts = vecs.groupBy("bucket").agg(F.count(F.lit(1)).alias("_cnt"))
    return (
        vecs.join(F.broadcast(counts), "bucket")
        .withColumn("sub", F.pmod(F.col("id"), F.ceil(F.col("_cnt") / F.lit(float(cap)))))
        .drop("_cnt")
    )


def _bucketed_topk(spark: SparkSession, sf_dir: str, bucket_expr: F.Column,
                   *, k: int, bucket_cap: int) -> DataFrame:
    """Shared body of the bucketed ANN variants: bucket → cap hot buckets →
    same-bucket self-join → exact-cosine re-rank, top-k per query."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    vecs = split_oversized_buckets(
        emb.select(
            F.col("vec_id").alias("id"), _vec().alias("v"),
            bucket_expr.alias("bucket"),
        ),
        bucket_cap,
    )
    a = vecs.select(F.col("id").alias("query_id"), F.col("v").alias("q"), "bucket", "sub")
    b = vecs.select(F.col("id").alias("neighbor_id"), F.col("v").alias("v"), "bucket", "sub")
    sims = (
        a.join(b, ["bucket", "sub"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id",
            F.round(_dot(F.col("q"), F.col("v"))
                    / (_norm(F.col("q")) * _norm(F.col("v"))), 6).alias("sim"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "sim", "rnk")
    )


def ann_sign_lsh(spark: SparkSession, sf_dir: str, *, k: int = ANN_TOPK,
                 n_bits: int = 16, bucket_cap: int = BUCKET_CAP) -> DataFrame:
    """(query_id, neighbor_id, sim, rnk): top-k same-bucket neighbors for
    EVERY vector — an all-pairs ANN pass via bucket equi-join, hot buckets
    capped (``split_oversized_buckets``)."""
    return _bucketed_topk(spark, sf_dir, sign_bucket(_vec(), n_bits),
                          k=k, bucket_cap=bucket_cap)


def ann_rh_lsh(spark: SparkSession, sf_dir: str, *, k: int = ANN_TOPK,
               bucket_cap: int = BUCKET_CAP) -> DataFrame:
    """(query_id, neighbor_id, sim, rnk): multi-table random-hyperplane LSH
    — each vector is indexed into ``RH_N_TABLES`` bucket tables (explode of
    the Arrow-vectorized ``make_rh_buckets_udf``); candidate pairs = same
    (table-qualified) bucket in ANY table, deduped, then exact-cosine
    re-ranked via an id re-join (vectors are NOT carried through the
    distinct — at scale the pair set is ids only). Hot buckets capped like
    every bucketed path. Norms are computed once per VECTOR and joined to
    the pair set (the DuckDB twin's ``norms`` CTE shape) — the per-pair work
    is one vectorized dot + a division, not two redundant norm folds."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    rh_buckets = make_rh_buckets_udf()
    pair_dot = make_pair_dot_udf()
    base = emb.select(F.col("vec_id").alias("id"), _vec().alias("v"))
    indexed = split_oversized_buckets(
        base.select("id", F.explode(rh_buckets(F.col("v"))).alias("bucket")),
        bucket_cap,
    )
    a = indexed.select(F.col("id").alias("query_id"), "bucket", "sub")
    b = indexed.select(F.col("id").alias("neighbor_id"), "bucket", "sub")
    pairs = (
        a.join(b, ["bucket", "sub"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    with_norm = base.withColumn("nrm", F.sqrt(pair_dot(F.col("v"), F.col("v"))))
    q = with_norm.select(
        F.col("id").alias("query_id"), F.col("v").alias("q"), F.col("nrm").alias("nq"))
    n = with_norm.select(
        F.col("id").alias("neighbor_id"), F.col("v").alias("nv"), F.col("nrm").alias("nn"))
    sims = (
        pairs.join(q, "query_id").join(n, "neighbor_id")
        .select(
            "query_id", "neighbor_id",
            F.round(pair_dot(F.col("q"), F.col("nv"))
                    / (F.col("nq") * F.col("nn")), 6).alias("sim"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "sim", "rnk")
    )
