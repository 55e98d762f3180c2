"""PageRank (reference: algorithms.h:73-112).

Declared semantics (FIXTURES.md §3.7 — the reference's, with its bugs fixed
and made deterministic):
- init value = 1.0 (algorithms.h:76-82);
- each superstep every vertex sends ``value / out_degree`` along each
  out-edge (algorithms.h:85-93); dangling vertices send nothing (reference
  behavior — mass is lost, algorithms.h:86-87);
- new value = ``0.5 * Σ incoming + 0.5 / N`` with damping 0.5 as the
  reference hardcodes (algorithms.h:105) but **N = global vertex count** —
  the reference divides by the *local partition's* count (igmr.cpp:105),
  making results partition-dependent; we fix that;
- vertices receiving no messages keep their prior value (cover-mode merge
  only touches reduced keys, gmr.h:175-213);
- fixed ``k`` supersteps (not threshold convergence) for oracle determinism.

Scale: contributions are ``edges ⋈ ranks`` reusing the edges DF's src
partitioning; ``groupBy(id).sum`` is partial+final aggregated; skewed hub
destinations are handled by partial aggregation everywhere and by AQE skew
splitting on big graphs (small-graph loops run AQE-off under run_pregel's
round-6 conf gate). Lineage is truncated every superstep via
localCheckpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from gmr_spark.graph import PropertyGraph
from gmr_spark.plans.pregel import run_pregel


class _PageRankProgram:
    """``edges`` carries (src, dst, deg) — the degree-annotated edge table is
    the graph's edge set for this program, so the Pregel driver's one-time
    edge checkpoint covers it."""

    def __init__(self, n_vertices: int, damping: float):
        self.n = n_vertices
        self.d = damping

    def init(self, vertices: DataFrame) -> DataFrame:
        return vertices.select("id", F.lit(1.0).alias("value"), F.lit(True).alias("active"))

    def messages(self, frontier: DataFrame, edges: DataFrame) -> DataFrame:
        # rank / deg (not rank * (1/deg)): matches the oracle SQL bit-for-bit
        f = frontier.select(F.col("id").alias("fid"), F.col("value").alias("rank"))
        return edges.join(f, F.col("src") == F.col("fid")).select(
            F.col("dst").alias("id"), (F.col("rank") / F.col("deg")).alias("msg")
        )

    def aggregate(self, msgs: DataFrame) -> DataFrame:
        return msgs.groupBy("id").agg(F.sum("msg").alias("agg"))

    def update(self, vertices: DataFrame, agg: DataFrame) -> DataFrame:
        new_value = F.when(
            F.col("agg").isNotNull(), self.d * F.col("agg") + (1.0 - self.d) / self.n
        ).otherwise(F.col("value"))
        return vertices.join(agg, "id", "left").select(
            "id", new_value.alias("value"), F.lit(True).alias("active")
        )


def pagerank(graph: PropertyGraph, *, k: int = 10, damping: float = 0.5,
             checkpoint_interval: int = 2) -> DataFrame:
    """Fixed-k PageRank. -> (id BIGINT, rank DOUBLE).

    ``checkpoint_interval`` is exposed for cadence measurements
    (SCALE.md's G2 cadence sweep); the k=2 default is the measured optimum
    (see run_pregel's scale notes). Re-probed round 6 at sf0.1 with the
    exact-census adaptive frontier gate live (the round-5 SSSP winner):
    ci=1 LOSES on every bench pagerank graph — linked_lineitems 19.1 vs
    17.2 s, hub 17.1 vs 14.2 s, geo a wash (3.5 vs 3.1 s; min-of-2, quiet
    host cal 0.40/0.44) — because PageRank's frontier is dense (all
    vertices, every superstep), so ci=1 buys no broadcast-join win here,
    only an extra census+checkpoint job per superstep. That cost flattens
    and slightly inverts at G2 where per-superstep O(E) work dominates
    (SCALE.md cadence sweep: 171.8 vs 183.9 s); the crossover is real but
    the driver benches the 600k class, so ci=2 stays the default. Sparse-
    frontier algorithms (SSSP/BFS) are the ci=1 case."""
    out_deg = graph.edges.groupBy(F.col("src").alias("deg_id")).agg(
        F.count("*").alias("deg")
    )
    edges_with_deg = graph.edges.join(
        out_deg, F.col("src") == F.col("deg_id")
    ).select("src", "dst", "deg")
    # reuse the builder's fused |V| census when present (derived graphs
    # carry it — r14); a count job only for graphs built without one
    n = graph.n_vertices if graph.n_vertices is not None else graph.vertices.count()
    program = _PageRankProgram(n, damping)
    result = run_pregel(
        PropertyGraph(vertices=graph.vertices, edges=edges_with_deg),
        program, max_iter=k, early_stop=False,
        checkpoint_interval=checkpoint_interval,
    )
    return result.vertices.select("id", F.col("value").alias("rank"))


class _PersonalizedPageRankProgram:
    """Source-teleport PageRank: teleport mass returns to the source vertex
    only (public formulation: Page et al. 1999 §6 'personalized' vector;
    Haveliwala 2002). Same message/aggregate as global PageRank; only init
    and the teleport term differ — vertices with no in-flow decay toward 0
    except the source, which keeps its (1-d) restart mass."""

    def __init__(self, source: int, damping: float):
        self.source = int(source)
        self.d = damping

    def init(self, vertices: DataFrame) -> DataFrame:
        return vertices.select(
            "id",
            F.when(F.col("id") == self.source, F.lit(1.0))
            .otherwise(F.lit(0.0)).alias("value"),
            F.lit(True).alias("active"),
        )

    messages = _PageRankProgram.messages
    aggregate = _PageRankProgram.aggregate

    def update(self, vertices: DataFrame, agg: DataFrame) -> DataFrame:
        teleport = F.when(F.col("id") == self.source, 1.0 - self.d).otherwise(0.0)
        return vertices.join(agg, "id", "left").select(
            "id",
            (self.d * F.coalesce(F.col("agg"), F.lit(0.0)) + teleport).alias("value"),
            F.lit(True).alias("active"),
        )


def personalized_pagerank(graph: PropertyGraph, source: int, *, k: int = 10,
                          damping: float = 0.5,
                          checkpoint_interval: int = 2) -> DataFrame:
    """Fixed-k personalized PageRank from ``source``.
    -> (id BIGINT, rank DOUBLE). Same plan shape as ``pagerank``."""
    out_deg = graph.edges.groupBy(F.col("src").alias("deg_id")).agg(
        F.count("*").alias("deg")
    )
    edges_with_deg = graph.edges.join(
        out_deg, F.col("src") == F.col("deg_id")
    ).select("src", "dst", "deg")
    program = _PersonalizedPageRankProgram(source, damping)
    result = run_pregel(
        PropertyGraph(vertices=graph.vertices, edges=edges_with_deg),
        program, max_iter=k, early_stop=False,
        checkpoint_interval=checkpoint_interval,
    )
    return result.vertices.select("id", F.col("value").alias("rank"))
