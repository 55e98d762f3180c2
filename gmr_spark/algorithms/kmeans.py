"""K-means (Lloyd's) over an embedding column.

The reference declares a ``Kmeans`` algorithm whose body is a copy of
PageRank's — non-functional (algorithms.h:227-265). This is the real thing,
expressed Spark-first:

- *assign*: broadcast the k centroids as literal arrays; squared L2 distance
  is a JVM-side ``zip_with`` + ``aggregate`` fold over the vector (no Python
  UDF); argmin via ``array_min`` over (dist, cluster) structs — ties break to
  the lowest cluster id, deterministically.
- *update*: per-dimension mean via ``posexplode`` + groupBy — a k×dim result
  collected to the driver (tiny for any realistic k·dim, even at 100 TB).

Determinism contract with the DuckDB oracle: distances and centroid means are
rounded to 9 dp on both engines, so fold-order float drift cannot flip an
argmin (except for genuine <1e-9 ties, which the synthetic clustered data
does not produce). Init centroids = the k lowest-id vectors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _validate_assign(assign: str, *, name: str = "assign") -> None:
    """Reject assign/cell_assign strings outside {"expr", "arrow"}: a typo
    (e.g. "Arrow", "gemm") must not silently fall through to the expression
    path — at production cell counts that path is interpreter-bound (227 s
    vs ~3 s at 2M × 256 cells), a ~75× degradation with no signal
    (round-11 ADVICE item 1). Guards every surface with an expr/arrow
    switch: :func:`kmeans` here, and the IVF family (called at
    ann_ivf/ann_ivf_pq ENTRY so a typo'd production call fails before the
    seed collect and the training fixpoints — train_pq_codebook /
    train_ivf_cells are minutes at scale — and again in _ivf_index_probes
    as the backstop for direct callers). ``name`` is the CALLER-facing
    parameter name so the message names the argument the user actually
    typed (``cell_assign`` for the IVF family — round-12 ADVICE item 4)."""
    if assign not in ("expr", "arrow"):
        raise ValueError(
            f"{name}={assign!r} is not one of ('expr', 'arrow')")


def _assign(df: DataFrame, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """df: (id, vec ARRAY<DOUBLE>) -> (id, cluster INT)."""
    candidates = F.array(*[
        F.struct(
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col("vec"),
                        F.array(*[F.lit(float(x)) for x in vec]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
                9,
            ).alias("d2"),
            F.lit(int(cluster)).cast("int").alias("cluster"),
        )
        for cluster, vec in centroids
    ])
    return df.select("id", F.array_min(candidates)["cluster"].alias("cluster"))


def _assign_arrow(df: DataFrame, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """Batched Arrow/BLAS twin of :func:`_assign` for large k — the 100 TB
    assign path. ``_assign`` builds one Catalyst struct per centroid, which
    is ideal up to k ≈ tens (codegen'd, oracle-parity exact) but
    interpreter-bound at the k ≈ thousands SemDeDup needs (the paper runs
    k=50k on LAION). Here the centroid matrix ships once per task and the
    distance matrix is one GEMM per Arrow batch:
    d² = |v|² + |c|² − 2·v·cᵀ, rounded to 9 dp like the expression path;
    ``argmin`` takes the first minimum = the lowest cluster id, the same
    tie rule. Not bit-identical to the fold-order expression path (BLAS
    pairwise summation), hence never used by oracle-declared queries —
    tests pin full agreement on the sf0.01 table."""
    import numpy as np
    import pandas as pd

    C = np.asarray([vec for _, vec in centroids], dtype=np.float64)
    ids = np.asarray([c for c, _ in centroids], dtype=np.int64)
    c2 = (C * C).sum(axis=1)
    # row-chunk the GEMM so the distance matrix stays ~64 MB per task no
    # matter how large k grows: a full Arrow batch (~10k rows) against
    # k=50k centroids is a 4 GB f64 matrix — ×32 concurrent tasks, an OOM,
    # not a slowdown. Same bounded-block shape as semdedup's per-cluster
    # CHUNK: a bigger k degrades to more chunks, never to more memory.
    row_chunk = max(16, 8_000_000 // max(1, len(ids)))

    def fn(batches):
        for pdf in batches:
            V = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
            v2 = (V * V).sum(axis=1)
            best = np.empty(len(V), dtype=np.int64)
            for lo in range(0, len(V), row_chunk):
                hi = min(lo + row_chunk, len(V))
                d2 = v2[lo:hi, None] + c2[None, :] - 2.0 * (V[lo:hi] @ C.T)
                best[lo:hi] = np.round(d2, 9).argmin(axis=1)
            yield pd.DataFrame({"id": pdf["id"].to_numpy(),
                                "cluster": ids[best].astype(np.int32)})

    return df.mapInPandas(fn, "id bigint, cluster int")


def _update(df: DataFrame, assigned: DataFrame) -> list[tuple[int, list[float]]]:
    # join BEFORE the ×dim explode: the equi-join runs on O(N) rows, not
    # O(N·dim) — at the 2M×64 scale proof that is a 2M-row join feeding a
    # 128M-row map-side-combinable aggregate instead of a 128M-row shuffle.
    # The k×dim result comes back over Arrow (toPandas), not a pickled
    # collect(): at SemDeDup-class k the retrieval is 640k+ rows and the
    # row-at-a-time pickle path was a measurable slice of each Lloyd
    # iteration (k=10k sweep, SCALE.md). Values are identical — the 9 dp
    # rounding happens Spark-side either way; Arrow moves exact doubles.
    stats = (
        df.join(assigned, "id")
        .select("cluster", F.posexplode("vec").alias("pos", "val"))
        .groupBy("cluster", "pos")
        .agg(F.round(F.avg("val"), 9).alias("val"))
        .toPandas()
    )
    by_cluster: dict[int, dict[int, float]] = {}
    for c, p, v in zip(stats["cluster"], stats["pos"], stats["val"]):
        by_cluster.setdefault(int(c), {})[int(p)] = float(v)
    return sorted(
        (c, [dims[p] for p in sorted(dims)]) for c, dims in by_cluster.items()
    )


def kmeans(embeddings: DataFrame, *, k: int = 8, iters: int = 2,
           id_col: str = "vec_id", vec_col: str = "embedding",
           assign: str = "expr") -> DataFrame:
    """-> (id BIGINT, cluster INT): assignment after ``iters`` full Lloyd
    iterations (plus the final re-assignment under the last centroids).
    ``assign="expr"`` (default) is the Catalyst-expression path every
    oracle-declared query uses; ``assign="arrow"`` is the batched GEMM path
    for large k (see :func:`_assign_arrow`). Unknown strings are REJECTED
    up front by :func:`_validate_assign`: a typo like "Arrow" must not
    silently take the interpreter-bound expression path, which is a ~75×
    degradation at production k with no signal."""
    _validate_assign(assign)  # before the eager checkpoint / seed collect
    from gmr_spark.plans.loop import LoopScope

    assign_fn = _assign_arrow if assign == "arrow" else _assign
    with LoopScope(embeddings.sparkSession) as loop:
        # the |N| census rides the checkpoint job
        df, census = loop.checkpoint((embeddings.select(
            F.col(id_col).cast("bigint").alias("id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
        ), {"n": F.count(F.lit(1))}))
        # the returned assignment is a lazy map over the checkpoint
        loop.keep(df)
        seeds = df.orderBy("id").limit(k).collect()
        centroids = [(i, list(r.vec)) for i, r in enumerate(seeds)]
        # |N|-scoped physical conf for the Lloyd loop; the final
        # re-assignment is a narrow map over the checkpoint — no shuffle —
        # and runs after the scope restores the conf.
        loop.rows(census["n"])
        for _ in range(iters):
            assigned = assign_fn(df, centroids)
            centroids = _update(df, assigned)
    return assign_fn(df, centroids)
