"""Single-source shortest paths + BFS (reference: algorithms.h:4-68).

Reference semantics: init source=0 else FLT_MAX (algorithms.h:8-21); relax
``min(own, dist_u + w)`` pulled from in-neighbors (algorithms.h:23-38); reduce
= min (algorithms.h:44-56); cover update; Bellman-Ford to fixpoint. The
reference forces all edge weights to 1.0 (algorithms.h:17-18) so its SSSP *is*
BFS; this engine supports both weighted and unit modes.

Divergence from reference (documented, SURVEY §5): unreachable vertices are
NULL (not FLT_MAX), and the premature-convergence bug (igmr.cpp:147-149,
converged-at-FLT_MAX counting) is fixed — we run to a true fixpoint.

Scale: frontier-based Bellman-Ford — each superstep joins only the vertices
improved last round against the (pre-partitioned, cached) edges; message
aggregation is ``min`` (algebraic → map-side partial agg). This is the
standard Pregel SSSP that runs on billion-edge graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from gmr_spark.graph import PropertyGraph
from gmr_spark.plans.pregel import run_pregel


class _SSSPProgram:
    def __init__(self, source: int, weighted: bool):
        self.source = int(source)
        self.weighted = weighted

    def init(self, vertices: DataFrame) -> DataFrame:
        return vertices.select(
            "id",
            F.when(F.col("id") == self.source, F.lit(0.0)).cast("double").alias("value"),
            (F.col("id") == self.source).alias("active"),
        )

    def messages(self, frontier: DataFrame, edges: DataFrame) -> DataFrame:
        w = F.col("weight") if self.weighted else F.lit(1.0)
        f = frontier.select(F.col("id").alias("fid"), F.col("value").alias("fdist"))
        return edges.join(f, F.col("src") == F.col("fid")).select(
            F.col("dst").alias("id"), (F.col("fdist") + w).alias("msg")
        )

    def aggregate(self, msgs: DataFrame) -> DataFrame:
        return msgs.groupBy("id").agg(F.min("msg").alias("agg"))

    def update(self, vertices: DataFrame, agg: DataFrame) -> DataFrame:
        improved = F.col("agg").isNotNull() & (
            F.col("value").isNull() | (F.col("agg") < F.col("value"))
        )
        return vertices.join(agg, "id", "left").select(
            "id",
            F.when(improved, F.col("agg")).otherwise(F.col("value")).alias("value"),
            improved.alias("active"),
        )


def sssp(graph: PropertyGraph, source: int, *, weighted: bool = True,
         max_iter: int = 120) -> DataFrame:
    """-> (id BIGINT, dist DOUBLE); dist NULL = unreachable.

    ``run_pregel`` picks the cadence from the edge count: on G2-class
    graphs it checkpoints every superstep and broadcasts small frontiers,
    the measured winner where SSSP's frontier is tiny for most of a
    high-diameter run (SCALE.md)."""
    result = run_pregel(graph, _SSSPProgram(source, weighted), max_iter=max_iter)
    return result.vertices.select("id", F.col("value").alias("dist"))


def bfs(graph: PropertyGraph, source: int, *, max_iter: int = 120) -> DataFrame:
    """BFS levels = unit-weight SSSP (the reference's actual SSSP,
    algorithms.h:17-18). -> (id, level DOUBLE)."""
    result = run_pregel(graph, _SSSPProgram(source, weighted=False),
                        max_iter=max_iter)
    return result.vertices.select("id", F.col("value").alias("level"))


class _LandmarkBFSProgram:
    """Multi-source BFS in ONE Pregel pass (GraphX-library shortestPaths,
    reference roadmap algorithms.h:217-222): vertex state is one distance
    column per landmark (d0..dL-1) instead of the reference's single float
    (partition.h:39) — run_pregel carries arbitrary DataFrame state, so L
    landmarks cost one graph traversal of max-eccentricity supersteps, not
    L sequential traversals.

    Per-superstep shape is identical to _SSSPProgram's widened L-fold:
    frontier ⋈ edges produces one row per out-edge carrying all L candidate
    distances; aggregation is per-slot MIN — algebraic, so the map-side
    partial agg still collapses each (dst, slot) to one value before the
    exchange. A vertex is active iff ANY slot improved.
    """

    def __init__(self, landmarks: list[int]):
        if not landmarks:
            raise ValueError("landmarks must be non-empty")
        self.landmarks = [int(x) for x in landmarks]

    def _slots(self) -> range:
        return range(len(self.landmarks))

    def init(self, vertices: DataFrame) -> DataFrame:
        cols = [
            F.when(F.col("id") == lm, F.lit(0.0)).cast("double").alias(f"d{i}")
            for i, lm in enumerate(self.landmarks)
        ]
        return vertices.select(
            "id", *cols,
            F.col("id").isin(self.landmarks).alias("active"),
        )

    def messages(self, frontier: DataFrame, edges: DataFrame) -> DataFrame:
        f = frontier.select(
            F.col("id").alias("fid"),
            *[(F.col(f"d{i}") + F.lit(1.0)).alias(f"msg{i}") for i in self._slots()],
        )
        return edges.join(f, F.col("src") == F.col("fid")).select(
            F.col("dst").alias("id"), *[f"msg{i}" for i in self._slots()]
        )

    def aggregate(self, msgs: DataFrame) -> DataFrame:
        return msgs.groupBy("id").agg(
            *[F.min(f"msg{i}").alias(f"agg{i}") for i in self._slots()]
        )

    def update(self, vertices: DataFrame, agg: DataFrame) -> DataFrame:
        improved = [
            F.col(f"agg{i}").isNotNull()
            & (F.col(f"d{i}").isNull() | (F.col(f"agg{i}") < F.col(f"d{i}")))
            for i in self._slots()
        ]
        any_improved = improved[0]
        for c in improved[1:]:
            any_improved = any_improved | c
        return vertices.join(agg, "id", "left").select(
            "id",
            *[
                F.when(improved[i], F.col(f"agg{i}"))
                .otherwise(F.col(f"d{i}")).alias(f"d{i}")
                for i in self._slots()
            ],
            any_improved.alias("active"),
        )


def shortest_paths(graph: PropertyGraph, landmarks: list[int], *,
                   max_iter: int = 120) -> DataFrame:
    """-> (id, dist_l0..dist_l{L-1} DOUBLE); NULL = unreachable from that
    landmark. One run_pregel invocation; supersteps = the landmarks' max
    eccentricity, independent of L."""
    program = _LandmarkBFSProgram(landmarks)
    result = run_pregel(graph, program, max_iter=max_iter)
    return result.vertices.select(
        "id", *[F.col(f"d{i}").alias(f"dist_l{i}") for i in program._slots()]
    )
