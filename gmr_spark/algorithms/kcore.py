"""k-core decomposition by iterative peeling.

The reference's roadmap cites GraphX's operator list as the algorithms to
grow into (algorithms.h:217-222); coreness/peeling is the canonical
degree-constrained-subgraph member of that family (GraphX ships it as a
library algorithm). Semantics: the k-core is the maximal induced subgraph of
the *canonical undirected* graph in which every vertex has degree >= k.

Distributed shape (the standard one): repeat
    deg     = degrees of the subgraph induced by the surviving vertex set
    survive = deg >= k
until no vertex is dropped. Each peel is one semi-join (edges against the
alive set on both endpoints) + one groupBy — partial+final aggregated, no
driver data beyond the per-iteration count. Iteration count is bounded by
the peel depth (the graph's degeneracy ordering height), which is tiny for
real corpora relative to |V|; lineage is cut with a localCheckpoint per
peel, owned by a LoopScope (plans/loop.py), so the 100 TB risk is peel
passes over the edge table, not plan growth. The peel's semi-joins keep the
edge side's size estimate, so the alive checkpoints keep their stats (no
re-leaf): on a 24-vertex path at k=2 all 13 checkpoints read the
same 10-bit estimate.

Declared-query convergence contract: raises if the fixpoint is not reached
within ``max_iter`` so a graph/k change fails loudly instead of as a silent
oracle mismatch (same policy as pregel_census_bfs, queries.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from gmr_spark.algorithms.triangles import canonical_undirected
from gmr_spark.graph import PropertyGraph


def k_core(graph: PropertyGraph, k: int, max_iter: int = 30) -> DataFrame:
    """-> (id BIGINT, core_degree BIGINT): vertices of the k-core with their
    degree *inside* the core. Vertices peeled away are omitted. Requires
    k >= 1: isolated (and self-loop-only) vertices never enter the degree
    table, so the k=0 core — the whole graph by definition — is not
    representable here."""
    if k < 1:
        raise ValueError(f"k_core requires k >= 1, got {k}")
    from gmr_spark.plans.loop import LoopScope, pin

    und = canonical_undirected(graph.edges)
    with LoopScope(graph.edges.sparkSession) as loop:
        # symmetric view so degree = out-degree in one groupBy
        sym = loop.checkpoint(und.unionAll(
            und.select(F.col("b").alias("a"), F.col("a").alias("b"))))
        deg = sym.groupBy(F.col("a").alias("id")).agg(
            F.count(F.lit(1)).alias("core_degree")
        )
        # the census rides the checkpoint's materializing job as an
        # Observation: a separate count() was one extra job per round, pure
        # driver/scheduler latency on small cores
        alive, census = loop.checkpoint(
            (deg.filter(F.col("core_degree") >= k), {"n": F.count(F.lit(1))}))
        n_alive = census["n"]

        # the alive set has one row per surviving VERTEX — |V|-scaling until
        # the peel bites. Its census is exact and free (n_alive is this
        # round's count), so the gate pins it only while it is genuinely
        # big and lets AQE broadcast the late small peels.
        for _ in range(max_iter):
            if n_alive == 0:
                loop.keep(alive)
                return alive
            induced = (
                sym.join(pin(alive.select(F.col("id").alias("a")), n_alive),
                         "a", "left_semi")
                .join(pin(alive.select(F.col("id").alias("b")), n_alive),
                      "b", "left_semi")
            )
            deg = induced.groupBy(F.col("a").alias("id")).agg(
                F.count(F.lit(1)).alias("core_degree")
            )
            nxt, census = loop.checkpoint(
                (deg.filter(F.col("core_degree") >= k), {"n": F.count(F.lit(1))}))
            loop.release(alive)
            if census["n"] == n_alive:
                # fixpoint: induced degrees are all >= k -> this IS the core
                loop.keep(nxt)
                return nxt
            alive, n_alive = nxt, census["n"]

        raise AssertionError(
            f"k_core(k={k}) did not reach the peeling fixpoint within "
            f"{max_iter} iterations — raise max_iter (and the oracle unroll K)"
        )
