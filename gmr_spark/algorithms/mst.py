"""Minimum spanning forest — Borůvka over DataFrames.

The reference declares a ``Prime`` (Prim/MST) algorithm but ships an empty
stub (algorithms.h:215); its roadmap cites GraphX's operator list
(algorithms.h:217-222). This implements the standard distributed choice,
Borůvka: every phase each component picks its minimum incident cross-edge,
the picked edges join the forest, and touching components merge — O(log V)
phases, each a join + aggregation, which is exactly the shape Spark executes
well (no per-vertex sequential scan like Prim, no global sorted edge stream
like Kruskal).

Determinism: edges are canonicalized to (a < b, min parallel weight) and
ordered by the strict total order (weight, a, b) — under a strict total edge
order the MST is *unique*, so Borůvka here equals Kruskal with the same
tie-break (tests/test_properties.py checks that).

Scale notes (100 TB): the per-phase work is one edges⋈labels join (edges
hash-partitioned by endpoint), one min-by-component aggregation (partial
map-side combine — the struct min is algebraic), and a component-graph label
propagation whose input shrinks geometrically (≤ |components| rows, halving
per phase). That propagation is the shared pointer-jumping kernel
(cc.min_label_fixpoint), so long hook-chains collapse in O(log chain)
rounds instead of O(chain). State is localCheckpoint-ed per step and owned
by a LoopScope (plans/loop.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from gmr_spark.algorithms.cc import min_label_fixpoint
from gmr_spark.graph import PropertyGraph
from gmr_spark.plans.loop import LoopScope, pin


def minimum_spanning_forest(graph: PropertyGraph, *,
                            max_phases: int = 32) -> DataFrame:
    """-> (src BIGINT, dst BIGINT, weight DOUBLE), src < dst: the unique
    minimum spanning forest under the strict edge order (weight, src, dst).

    Direction is ignored (MST is an undirected notion); parallel edges keep
    their minimum weight.

    The forest is returned as a lazy union of the per-phase picked-edge
    checkpoints: nothing inside the loop ever READS the accumulated forest,
    so each phase's ``sel`` checkpoint is kept as an output part and
    unioned once at return.

    Every join against the component-label table goes through the loop
    runtime's gate (:func:`~gmr_spark.plans.loop.pin`) on the canonical
    edge count. That table has one row per VERTEX, and its runtime stats
    sit near the autoBroadcast threshold at G2 size: measured, AQE picked a
    ~5M-row driver-built broadcast for the phase-1 label join while
    executor storage held the checkpointed edge table, and the build OOM'd
    the shared local-mode heap. So above the gate the label side is pinned
    shuffle_hash; below it AQE keeps its broadcast choice.
    The phase checkpoints (``lab``, ``sel``, ``comp``) keep their stats:
    their estimates grow additively, not by compounding (on
    mst_nation_mesh ``lab`` gains about 62 bits per phase, and the largest
    estimate over three phases is 437 bits).
    """
    spark = graph.edges.sparkSession
    with LoopScope(spark) as loop:
        # the two independent set-up snapshots materialize CONCURRENTLY,
        # and the |E| census rides the canonical edge table's job
        (canon, canon_stats), comp = loop.checkpoint(
            (graph.edges.filter(F.col("src") != F.col("dst"))
             .select(
                 F.least("src", "dst").alias("a"),
                 F.greatest("src", "dst").alias("b"),
                 F.col("weight").alias("w"),
             )
             .groupBy("a", "b").agg(F.min("w").alias("w")),
             {"n": F.count(F.lit(1))}),
            graph.vertices.select("id", F.col("id").alias("comp")),
        )
        n_edges = canon_stats["n"]
        loop.rows(n_edges)

        parts: list[DataFrame] = []
        for _ in range(max_phases):  # noqa: B007 (break-on-fixpoint loop)
            # the cross-edge census rides the checkpoint job
            lab, lab_stats = loop.checkpoint((
                canon
                .join(pin(comp.select(F.col("id").alias("a"),
                                      F.col("comp").alias("ca")), n_edges), "a")
                .join(pin(comp.select(F.col("id").alias("b"),
                                      F.col("comp").alias("cb")), n_edges), "b")
                .filter(F.col("ca") != F.col("cb")),
                {"n": F.count(F.lit(1))}))
            if lab_stats["n"] == 0:
                break
            # each component picks its min incident cross-edge by (w, a, b)
            incident = lab.select(
                F.col("ca").alias("comp"), "w", "a", "b", "ca", "cb"
            ).unionByName(
                lab.select(F.col("cb").alias("comp"), "w", "a", "b", "ca", "cb")
            )
            sel = loop.checkpoint(
                incident.groupBy("comp")
                .agg(F.min(F.struct("w", "a", "b", "ca", "cb")).alias("m"))
                .select("m.w", "m.a", "m.b", "m.ca", "m.cb")
                .distinct()
            )
            parts.append(sel)
            # lab is ~|cross-edges| rows — the FULL edge table in early
            # phases (several GB checkpointed at G2 size); both consumers
            # (the census and the pick aggregate) have run, so release it
            # before the next phase's lab lands. Retaining one lab per phase
            # was measured as a 50 GB heap and a GC-bound crawl at 110M
            # edges.
            loop.release(lab)
            # merge components: min-label over the picked component edges.
            # Only components INCIDENT to a picked edge can merge this
            # phase, so the fixpoint runs on cg's endpoints alone —
            # untouched components keep their label via the left join +
            # coalesce below (identical result: an isolated node of cg
            # would have fixpoint label = itself).
            cg = sel.select(F.col("ca").alias("src"), F.col("cb").alias("dst")).unionByName(
                sel.select(F.col("cb").alias("src"), F.col("ca").alias("dst"))
            ).distinct()
            lbl, _ = min_label_fixpoint(
                cg.select(F.col("src").alias("id")).distinct(), cg, max_iter=64)
            new_comp = loop.checkpoint(
                comp.join(pin(lbl.select(F.col("id").alias("comp"),
                                         F.col("label").alias("lbl")), n_edges),
                          "comp", "left")
                .select("id", F.coalesce(F.col("lbl"), F.col("comp")).alias("comp"))
            )
            loop.release(comp, lbl)
            comp = new_comp
        loop.keep(*parts)
    mst = spark.createDataFrame([], "a bigint, b bigint, w double")
    for part in parts:
        mst = mst.unionByName(part.select("a", "b", "w"))
    return mst.select(
        F.col("a").alias("src"), F.col("b").alias("dst"),
        F.col("w").alias("weight"),
    )
