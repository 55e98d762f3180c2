"""Synchronous label propagation (community detection).

The reference has no LPA, but its Pregel surface (gmr.h:92-123) is exactly
what LPA needs: init label = own id; each superstep every vertex adopts the
most frequent label among in-neighbors, ties broken by the smallest label
(deterministic — plain LPA's random tie-break would be oracle-hostile).
Fixed ``k`` supersteps, no early stop: synchronous LPA can 2-cycle on
bipartite structures, so "no change" is not a safe termination signal and a
fixed horizon keeps the engine and the unrolled oracle in lockstep.

Scale: a superstep is one join and the mode (``plans.pregel.run_dense``).
The mode is two chained hash aggregations — groupBy(id, label).count
(map-side combinable: a hot vertex's duplicate incoming labels collapse per
task) then groupBy(id).max_by((count, -label)) (fan-in bounded by #distinct
labels per vertex) — and both carry the vertex's own label through. No
windows, no collects.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from gmr_spark.graph import PropertyGraph
from gmr_spark.plans.pregel import run_dense


class _LPAProgram:
    """Labels ride the ``value`` slot as doubles — exact for any vertex id
    below 2^53 (ids here are < 3M)."""

    def init(self, vertices: DataFrame) -> DataFrame:
        return vertices.select("id", F.col("id").cast("double").alias("value"))

    def message(self, value: Column, pay: Column) -> Column:
        return value

    def fold(self, msgs: DataFrame) -> DataFrame:
        # count("msg") skips the self-edge row, whose (id, null) group then
        # loses to every real label
        counts = msgs.groupBy("id", "msg").agg(F.count("msg").alias("cnt"),
                                               F.max("own").alias("own"))
        # mode with deterministic tie-break: max over (count, -label) picks
        # the highest count, then the smallest label
        return counts.groupBy("id").agg(
            F.max_by("msg", F.struct(F.col("cnt"), (-F.col("msg")))).alias("agg"),
            F.max("own").alias("own"))

    def update(self) -> Column:
        return F.coalesce(F.col("agg"), F.col("own"))


def label_propagation(graph: PropertyGraph, *, k: int = 4) -> DataFrame:
    """-> (id BIGINT, label BIGINT): community label after ``k`` synchronous
    supersteps."""
    edges = graph.edges.select("src", "dst", F.lit(True).alias("pay"))
    labels = run_dense(PropertyGraph(vertices=graph.vertices, edges=edges,
                                     n_edges=graph.n_edges),
                       _LPAProgram(), k=k)
    return labels.select("id", F.col("value").cast("bigint").alias("label"))
