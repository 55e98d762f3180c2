"""K-means (Lloyd's) over an embedding column, and the one nearest-centroid
kernel every k-means-family operator shares.

The reference declares a ``Kmeans`` algorithm whose body is a copy of
PageRank's — non-functional (algorithms.h:227-265). This is the real thing,
expressed Spark-first:

- *assign* (:func:`nearest_centroids`): the centroid matrix ships once per
  task and each Arrow batch is one GEMM, d² = |v|² + |c|² − 2·v·cᵀ. The
  same kernel serves k-means, SemDeDup's clustering, the IVF coarse
  quantizer and its trainer.
- *update* (:func:`_update`): per-dimension mean via ``posexplode`` +
  groupBy — a k×dim result collected to the driver (tiny for any
  realistic k·dim, even at 100 TB).
- *loop* (:func:`lloyd`): seeds are the k lowest-id vectors, then ``iters``
  rounds of (assign, update).

Determinism contract with the DuckDB oracle: distances are rounded half up
to 9 dp (k-means) or 6 dp (IVF) on both engines, and centroid means to 9
dp, so summation-order float drift cannot flip an argmin (except for
genuine ties at that precision, which the synthetic clustered data does
not produce). Ties break to the lowest centroid id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

# f64 bytes of one distance block: the kernel chunks each Arrow batch's
# rows so a row chunk × k distances stay under this bound per task, so a
# larger k degrades to more chunks, never to more memory (a 10k-row batch
# against 50k centroids is a 4 GB block unchunked, ×32 concurrent tasks).
# The same budget bounds the cosine top-k kernel's query chunks.
GEMM_CHUNK_BYTES = 8 << 20


def nearest_centroids(df: DataFrame, centroids: list[tuple[int, list[float]]],
                      *, n: int, dp: int) -> DataFrame:
    """df (id, vec ARRAY<DOUBLE>, ...) -> df's columns + ``cells``
    ARRAY<INT>: the ids of the ``n`` nearest centroids of each row, ranked
    by (d² rounded half up to ``dp`` places, centroid id).

    One ``mapInPandas`` GEMM per Arrow batch, chunked over rows so each
    distance block stays under ``GEMM_CHUNK_BYTES``. The returned function
    is a closure over numpy alone, so executors need not import this
    package. The GEMM identity is
    not bit-identical to a subtract-square fold before rounding (BLAS
    summation order); the rounding absorbs that drift, which the oracle
    parity of every caller pins. An empty centroid list raises here, on
    the driver, rather than inside an executor task."""
    import numpy as np

    if not centroids:
        raise ValueError(
            "nearest_centroids: empty centroid list — there must be at "
            "least one centroid (an empty corpus yields no seeds; callers "
            "should skip the assign entirely)")
    # ascending ids, so position order is id order
    centroids = sorted(centroids, key=lambda c: c[0])
    C = np.asarray([vec for _, vec in centroids], dtype=np.float64)
    ids = np.asarray([c for c, _ in centroids], dtype=np.int32)
    c2 = (C * C).sum(axis=1)
    scale = 10.0 ** dp
    n = min(n, len(ids))
    row_chunk = max(1, GEMM_CHUNK_BYTES // (8 * len(ids)))

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.vstack(pdf["vec"].to_numpy()).astype(np.float64)
            out = np.empty((len(V), n), dtype=np.int32)
            for lo in range(0, len(V), row_chunk):
                B = V[lo:lo + row_chunk]
                d2 = (B * B).sum(axis=1)[:, None] + c2[None, :] \
                    - 2.0 * (B @ C.T)
                # ROUND(d2, dp) half up, as Spark and DuckDB round (d2 >= 0
                # up to drift); np.round rounds half to even
                d2 = np.floor(d2 * scale + 0.5) / scale
                # first minimum / stable order = the lower id on a tie
                order = (d2.argmin(axis=1)[:, None] if n == 1 else
                         np.argsort(d2, axis=1, kind="stable")[:, :n])
                out[lo:lo + row_chunk] = ids[order]
            yield pdf.assign(cells=list(out))

    schema = StructType(
        [*df.schema.fields, StructField("cells", ArrayType(IntegerType()))])
    return df.mapInPandas(fn, schema)


def _update(assigned: DataFrame) -> list[tuple[int, list[float]]]:
    """(id, vec, cells) from :func:`nearest_centroids` -> the populated
    clusters' mean vectors, sorted by id, each dimension rounded to 9 dp.
    The k×dim result comes back over Arrow (``toPandas``): at
    SemDeDup-class k it is 640k+ rows, and a pickled ``collect`` was a
    measurable slice of each Lloyd iteration (SCALE.md)."""
    stats = (
        assigned.select(F.col("cells")[0].alias("cluster"),
                        F.posexplode("vec").alias("pos", "val"))
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


def lloyd(df: DataFrame, *, k: int, iters: int,
          sample_mod: int) -> list[tuple[int, list[float]]]:
    """Lloyd's k-means over df (id, vec): seeds are the ``k`` lowest-id
    rows of df, then ``iters`` rounds of (:func:`nearest_centroids` at 9
    dp, :func:`_update`) over the 1-in-``sample_mod`` id-residue sample of
    df, materialized once. Returns the centroids, sorted by id.

    A cluster that empties drops out (``_update`` emits populated clusters
    only), so there may be fewer than ``k``. An update that returns
    nothing (an empty sample) keeps the last centroids."""
    from gmr_spark.plans.loop import LoopScope

    cents = [(i, list(r.vec)) for i, r in
             enumerate(df.orderBy("id").limit(k).collect())]
    if not cents:  # no rows: nothing to train
        return cents
    sample = df if sample_mod <= 1 else df.filter(
        F.col("id") % sample_mod == 0)
    with LoopScope(df.sparkSession) as loop:
        # the |sample| census rides the checkpoint job
        sample, census = loop.checkpoint(
            (sample.select("id", "vec"), {"n": F.count(F.lit(1))}))
        loop.rows(census["n"])
        for _ in range(iters):
            nxt = _update(nearest_centroids(sample, cents, n=1, dp=9))
            if not nxt:
                break
            cents = nxt
    return cents


def kmeans(embeddings: DataFrame, *, k: int = 8, iters: int = 2,
           id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """-> (id BIGINT, cluster INT): assignment after ``iters`` full Lloyd
    iterations (:func:`lloyd`), plus the final assignment under the last
    centroids, a narrow map over the input."""
    df = embeddings.select(
        F.col(id_col).cast("bigint").alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )
    centroids = lloyd(df, k=k, iters=iters, sample_mod=1)
    if not centroids:  # no rows: nothing to assign
        return df.select("id", F.lit(None).cast("int").alias("cluster"))
    return nearest_centroids(df, centroids, n=1, dp=9).select(
        "id", F.col("cells")[0].alias("cluster"))
