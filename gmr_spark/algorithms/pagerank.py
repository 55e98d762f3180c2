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

Scale: one superstep is one join of the self-edge-extended, src-
partitioned edge table with the previous ranks and one ``groupBy(dst)``
aggregation (``plans.pregel.run_dense``); the aggregation is partial+final,
so a hub destination crosses the exchange as at most one row per map task.
Lineage is truncated every second superstep via localCheckpoint.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from gmr_spark.graph import PropertyGraph
from gmr_spark.plans.loop import pin
from gmr_spark.plans.pregel import run_dense


class _PageRankProgram:
    """Edges carry their source's out-degree as the payload."""

    def __init__(self, n_vertices: int, damping: float):
        self.n = n_vertices
        self.d = damping

    def init(self, vertices: DataFrame) -> DataFrame:
        return vertices.select("id", F.lit(1.0).alias("value"))

    def message(self, value: Column, pay: Column) -> Column:
        # rank / deg (not rank * (1/deg)): matches the oracle SQL bit-for-bit
        return value / pay

    def fold(self, msgs: DataFrame) -> DataFrame:
        return msgs.groupBy("id").agg(F.sum("msg").alias("agg"),
                                      F.max("own").alias("own"))

    def update(self) -> Column:
        return F.when(F.col("agg").isNotNull(),
                      self.d * F.col("agg") + (1.0 - self.d) / self.n
                      ).otherwise(F.col("own"))


def _degree_graph(graph: PropertyGraph) -> PropertyGraph:
    """``graph`` with each edge's payload set to its source's out-degree.
    Counts the edges when the graph carries no census: the degree join is
    gated on that count like every loop join (a broadcast degree table ran
    the driver out of memory at 25M edges)."""
    n_edges = graph.n_edges if graph.n_edges is not None else graph.edges.count()
    out_deg = pin(graph.edges.groupBy(F.col("src").alias("deg_id")).agg(
        F.count("*").alias("pay")), n_edges)
    edges = graph.edges.join(out_deg, F.col("src") == F.col("deg_id"))
    return PropertyGraph(vertices=graph.vertices,
                         edges=edges.select("src", "dst", "pay"),
                         n_edges=n_edges)


def pagerank(graph: PropertyGraph, *, k: int = 10,
             damping: float = 0.5) -> DataFrame:
    """Fixed-k PageRank. -> (id BIGINT, rank DOUBLE). The checkpoint
    cadence is ``run_dense``'s (SCALE.md, "Checkpoint cadence")."""
    # reuse the builder's fused |V| census when present (derived graphs
    # carry it); a count job only for graphs built without one
    n = graph.n_vertices if graph.n_vertices is not None else graph.vertices.count()
    ranks = run_dense(_degree_graph(graph), _PageRankProgram(n, damping), k=k)
    return ranks.select("id", F.col("value").alias("rank"))


class _PersonalizedPageRankProgram(_PageRankProgram):
    """Source-teleport PageRank: teleport mass returns to the source vertex
    only (public formulation: Page et al. 1999 §6 'personalized' vector;
    Haveliwala 2002). Same message and fold as global PageRank; only init
    and the teleport term differ — vertices with no in-flow decay toward 0
    except the source, which keeps its (1-d) restart mass."""

    def __init__(self, source: int, damping: float):
        self.source = int(source)
        self.d = damping

    def init(self, vertices: DataFrame) -> DataFrame:
        return vertices.select(
            "id", F.when(F.col("id") == self.source, F.lit(1.0))
            .otherwise(F.lit(0.0)).alias("value"))

    def update(self) -> Column:
        teleport = F.when(F.col("id") == self.source, 1.0 - self.d).otherwise(0.0)
        return self.d * F.coalesce(F.col("agg"), F.lit(0.0)) + teleport


def personalized_pagerank(graph: PropertyGraph, source: int, *, k: int = 10,
                          damping: float = 0.5) -> DataFrame:
    """Fixed-k personalized PageRank from ``source``.
    -> (id BIGINT, rank DOUBLE). Same plan shape as ``pagerank``."""
    ranks = run_dense(_degree_graph(graph),
                      _PersonalizedPageRankProgram(source, damping), k=k)
    return ranks.select("id", F.col("value").alias("rank"))
