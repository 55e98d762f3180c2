"""Declared query registry — the driver-facing surface.

Each entry pairs a Spark callable ``(spark, sf_dir) -> DataFrame`` with its
DuckDB oracle SQL twin (SURVEY §2's inventory made concrete). Column names
and types are aligned pair-by-pair; doubles produced by non-associative
aggregation are rounded identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from gmr_spark.algorithms import (
    bfs,
    personalized_pagerank,
    connected_components,
    k_core,
    k_truss,
    label_propagation,
    local_clustering,
    matmul_coo,
    minimum_spanning_forest,
    pagerank,
    sssp,
    strongly_connected_components,
    triangle_count,
)
from gmr_spark.oracle import (
    assortativity_sql,
    bfs_census_sql,
    degree_histogram_sql,
    graph_summary_sql,
    bfs_sql,
    cc_sql,
    clustering_sql,
    kcore_sql,
    ktruss_sql,
    landmarks_sql,
    degrees_sql,
    lpa_sql,
    matmul_sql,
    collect_neighbors_sql,
    mst_sql,
    pagerank_sql,
    ppr_sql,
    weighted_indegree_sql,
    scc_sql,
    sssp_sql,
    triangle_sql,
)
from gmr_spark.algorithms.kmeans import kmeans
from gmr_spark.operators import dedup as D
from gmr_spark.operators import multimodal as M
from gmr_spark.operators import relational as R
from gmr_spark.operators import sampling as SAMP
from gmr_spark.operators import similarity as S
from gmr_spark.operators import curation as C
from gmr_spark.operators import text_analysis as TA
from gmr_spark.oracle import llm_sql as LSQL
from gmr_spark.oracle import relational_sql as RSQL
from gmr_spark.oracle.kmeans_sql import kmeans_sql, semdedup_sql
from gmr_spark.oracle.svdpp_sql import svdpp_sql as _svdpp_oracle
from gmr_spark.sources.derive import derive_graph
from gmr_spark.sources.graph_file import read_graph_file
from gmr_spark.sources.tables import register_views

QueryFn = Callable[[SparkSession, str], DataFrame]

# K bounds for the unrolled oracles — each must cover the engine's actual
# convergence step (see oracle.sql docstring). Graph diameters at any sf:
# geo ≤ 4 (star-of-stars), cs-undirected small-world, nation_ring cycles ≤ |nations per region|.
K_BFS_GEO = 8
K_SSSP_CS = 20
K_PAGERANK = 10
K_CC_CS = 20
K_SCC_NATION = 10

_MIN_VERTEX = "(SELECT MIN(id) FROM vertices)"


def _q_bfs_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = derive_graph(spark, sf_dir, "geo", materialize=True)
    return bfs(g, source=0, max_iter=K_BFS_GEO)


def _q_pregel_census_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(superstep, n_active): the per-superstep Observation census for BFS
    on geo — the O20 metrics surface as a declared, oracle-checked query
    (the reference's per-superstep Allgather payload, igmr.cpp:139-152).
    Deterministic: after superstep s the active set is exactly the vertices
    first reached at level s; the trailing zero row is the convergence
    superstep. The createDataFrame is #supersteps rows — bounded by graph
    diameter, never data size."""
    from gmr_spark.algorithms.sssp import _SSSPProgram
    from gmr_spark.plans.pregel import run_pregel

    g = derive_graph(spark, sf_dir, "geo", materialize=True)
    res = run_pregel(g, _SSSPProgram(0, weighted=False), max_iter=K_BFS_GEO,
                     collect_metrics=True)
    # the oracle unconditionally emits the trailing n_active=0 row, which
    # run_pregel only records when the frontier empties within max_iter —
    # fail loudly here (not as a silent one-row oracle mismatch) if a future
    # K_BFS_GEO / graph change drops below geo's eccentricity from vertex 0
    assert res.converged, "pregel_census_bfs: raise K_BFS_GEO above geo's eccentricity"
    rows = [(m["superstep"], m["n_active"]) for m in res.metrics]
    return spark.createDataFrame(rows, "superstep int, n_active long")


def _q_ppr_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from vertex 0 on geo — the similar-entity /
    recommendation primitive (teleport to source, not uniform)."""
    g = derive_graph(spark, sf_dir, "geo", materialize=True)
    pr = personalized_pagerank(g, source=0, k=K_PAGERANK, damping=0.5)
    return pr.select("id", F.round("rank", 6).alias("pr"))


def _q_sssp_cs(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = derive_graph(spark, sf_dir, "cs", materialize=True).undirected()
    source = g.vertices.agg(F.min("id")).first()[0]
    return sssp(g, source=source, weighted=True, max_iter=K_SSSP_CS)


K_SSSP_CS_WEIGHTED = 40  # weights 1..5, hop-diameter ~6 -> path length <= ~30


def _q_sssp_cs_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = derive_graph(spark, sf_dir, "cs_weighted", materialize=True).undirected()
    source = g.vertices.agg(F.min("id")).first()[0]
    return sssp(g, source=source, weighted=True, max_iter=K_SSSP_CS_WEIGHTED)


def _q_pagerank_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = derive_graph(spark, sf_dir, "geo", materialize=True)
    pr = pagerank(g, k=K_PAGERANK, damping=0.5)
    return pr.select("id", F.round("rank", 6).alias("pr"))


def _q_pagerank_big(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-k PageRank on the |lineitem|-vertex expander — the bench entry
    comparable to the reference's G1=mdual PageRank row (BASELINE.md)."""
    g = derive_graph(spark, sf_dir, "linked_lineitems", materialize=True)
    pr = pagerank(g, k=K_PAGERANK, damping=0.5)
    return pr.select("id", F.round("rank", 6).alias("pr"))


def _q_pagerank_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-hardening witness: PageRank on the ``hub`` power-law fixture,
    where hub 0 receives ~50% of every superstep's messages. The plan stays
    flat under that skew because
    (a) the message aggregation ``groupBy(id).sum`` is partial+final — each
    map task pre-combines to ≤1 row per id, so the hot hub key crosses the
    exchange as at most #partitions rows, never as |in-degree| rows; and
    (b) the hub's large *out*-fan in the edges⋈frontier join is covered by
    AQE skew-join splitting on big graphs; below the loop runtime's size
    gate the pregel loop runs with AQE off and its shuffles coalesced to
    ~|E|/75k partitions (``LoopScope.rows``), and the out-fan — ≤|E| rows
    total — is already bounded by that |E|-proportional sizing. Declared
    green + benched: superstep time on this graph tracks pagerank_big's
    per-edge cost rather than exploding with the hot key."""
    g = derive_graph(spark, sf_dir, "hub", materialize=True)
    pr = pagerank(g, k=K_PAGERANK, damping=0.5)
    return pr.select("id", F.round("rank", 6).alias("pr"))


def _q_cc_cs(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = derive_graph(spark, sf_dir, "cs", materialize=True)
    return connected_components(g, max_iter=K_CC_CS, undirected=True)


K_LPA = 4  # fixed horizon: sync LPA may 2-cycle, so no convergence stop


def _q_label_propagation_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = derive_graph(spark, sf_dir, "geo", materialize=True)
    return label_propagation(g, k=K_LPA)


def _q_triangles_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = derive_graph(spark, sf_dir, "ring", materialize=True)
    return triangle_count(g)


def _q_clustering_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient on ``hub_tri`` (hub + spoke +2 chord) —
    the one derived graph where LCC is non-degenerate: hub 0 closes a
    triangle with every adjacent even-spoke pair, the other hubs sit in
    open wedges only, and even/odd spokes carry different triangle loads."""
    g = derive_graph(spark, sf_dir, "hub_tri", materialize=True)
    return local_clustering(g)


LANDMARKS_GEO = [0, 1, 2]  # region vertices of the geo hierarchy


def _q_shortest_paths_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphX-library shortestPaths (multi-landmark BFS distances):
    (id, dist_l0, dist_l1, dist_l2), NULL = unreachable. ONE Pregel pass
    with per-landmark state columns (``_LandmarkBFSProgram``) — supersteps =
    the landmarks' max eccentricity, not L sequential BFS traversals."""
    from gmr_spark.algorithms import shortest_paths

    g = derive_graph(spark, sf_dir, "geo", materialize=True)
    return shortest_paths(g, LANDMARKS_GEO, max_iter=K_BFS_GEO)


def _q_graph_summary_cs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """describe() for the customer-supplier graph: one row of exact global
    statistics (vertex/edge counts, undirected degree min/max/avg)."""
    from gmr_spark.algorithms.triangles import canonical_undirected, undirected_degrees

    g = derive_graph(spark, sf_dir, "cs", materialize=True)
    und = canonical_undirected(g.edges).localCheckpoint(eager=True)
    deg = undirected_degrees(und).withColumnRenamed("degree", "d")
    dstats = deg.agg(
        F.min("d").alias("min_degree"), F.max("d").alias("max_degree"),
        F.sum("d").alias("sd"), F.count(F.lit(1)).alias("nd"),
    )  # nd = 0 (edgeless graph) -> avg_degree NULL, matching the twin
    nv = g.vertices.agg(F.count(F.lit(1)).alias("n_vertices"))
    ne = g.edges.agg(F.count(F.lit(1)).alias("n_edges_directed"))
    nu = und.agg(F.count(F.lit(1)).alias("n_edges_undirected"))
    return (
        nv.crossJoin(F.broadcast(ne)).crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(dstats))
        .select(
            "n_vertices", "n_edges_directed", "n_edges_undirected",
            "min_degree", "max_degree",
            F.when(
                F.col("nd") != 0,
                F.round(F.col("sd").cast("double") / F.col("nd").cast("double"), 6),
            ).alias("avg_degree"),
        )
    )


def _q_degree_histogram_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bucket, n_vertices): power-of-two degree histogram of the power-law
    ``hub`` fixture — the degree-distribution primitive, non-degenerate
    buckets from spoke deg ~3 up to hub 0's ~|lineitem|/2."""
    from gmr_spark.algorithms.triangles import canonical_undirected, undirected_degrees

    g = derive_graph(spark, sf_dir, "hub", materialize=True)
    und = canonical_undirected(g.edges)
    deg = undirected_degrees(und).withColumnRenamed("degree", "d")
    return (
        deg.select(
            F.pow(F.lit(2.0), F.floor(F.log2("d"))).cast("bigint").alias("bucket"))
        .groupBy("bucket").agg(F.count(F.lit(1)).alias("n_vertices"))
    )


def _q_assortativity_cs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the bipartite customer-supplier graph (a
    graph-statistics primitive; strongly negative here — high-degree
    suppliers attach to low-degree customers). Exact BIGINT sums (one
    groupBy + one agg pass), final Pearson combination in DOUBLE with the
    same expression order as the oracle (see assortativity_sql)."""
    from gmr_spark.algorithms.triangles import canonical_undirected, undirected_degrees

    g = derive_graph(spark, sf_dir, "cs", materialize=True)
    und = canonical_undirected(g.edges)
    sym = und.unionAll(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = undirected_degrees(und).withColumnRenamed("degree", "d")
    pairs = (
        sym.join(deg.select(F.col("id").alias("a"), F.col("d").alias("dx")), "a")
        .join(deg.select(F.col("id").alias("b"), F.col("d").alias("dy")), "b")
    )
    sums = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("dx").cast("bigint").alias("sx"),
        F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("sxx"),
    )
    md, sxd = F.col("m").cast("double"), F.col("sx").cast("double")
    denom = md * F.col("sxx").cast("double") - sxd * sxd
    # degree-regular graph -> zero variance -> assortativity undefined;
    # NULL on both engines (Spark div-by-zero yields NULL, DuckDB inf —
    # the NULLIF twin pins them to the same answer)
    return sums.select(
        F.col("m").alias("m_endpoints"),
        F.when(
            denom != 0.0,
            F.round((md * F.col("sxy").cast("double") - sxd * sxd) / denom, 6),
        ).alias("assortativity"),
    )


KTRUSS_K = 3        # support threshold k-2 = 1
K_KTRUSS_ITERS = 6  # oracle unroll; hub_tri reaches the fixpoint in 2


def _q_ktruss_hub_tri(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-truss of hub_tri: every edge in at least one triangle survives with
    its in-truss support — hub 1-5 spoke edges (open wedges only) peel, hub
    0's even-spoke edges and all ring/chord edges stay with varied support."""
    g = derive_graph(spark, sf_dir, "hub_tri", materialize=True)
    return k_truss(g, k=KTRUSS_K, max_iter=K_KTRUSS_ITERS)


KCORE_K = 3        # peel threshold
K_KCORE_ITERS = 24  # oracle unroll bound; k_core raises if fixpoint needs more


def _q_kcore_cs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the bipartite customer–supplier graph: low-order customers
    peel first, which can drop supplier degrees below k and cascade — the
    non-trivial fixpoint the operator exists for."""
    g = derive_graph(spark, sf_dir, "cs", materialize=True)
    return k_core(g, k=KCORE_K, max_iter=K_KCORE_ITERS)


def _q_degrees_cs(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = derive_graph(spark, sf_dir, "cs", materialize=True)
    out_d = g.out_degrees()
    in_d = g.in_degrees()
    return out_d.join(in_d, "id").select("id", "out_degree", "in_degree")


def _q_scc_nation_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = derive_graph(spark, sf_dir, "nation_ring")
    return strongly_connected_components(g)


def _q_matmul_nation_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = derive_graph(spark, sf_dir, "nation_ring")
    a = g.edges.select(
        F.col("src").alias("i"), F.col("dst").alias("j"), F.col("weight").alias("v")
    )
    return matmul_coo(a, a).select("i", "j", F.col("v").cast("double").alias("v"))


K_MST_PHASES = 6   # 25 vertices -> <= ceil(log2(25)) = 5 Borůvka phases
K_MST_INNER = 8    # per-phase component-chain length bound on nation_mesh


def _q_mst_nation_mesh(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = derive_graph(spark, sf_dir, "nation_mesh")
    return minimum_spanning_forest(g, max_phases=K_MST_PHASES)


def _q_collect_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphX collectNeighborIds surface (reference roadmap,
    algorithms.h:217-222); arrays string-joined for cross-engine compare."""
    g = derive_graph(spark, sf_dir, "nation_ring")
    return g.collect_neighbor_ids(direction="out").select(
        "id",
        F.array_join(
            F.transform(F.col("neighbor_ids"), lambda x: x.cast("string")), ","
        ).alias("neighbors"),
    )


def _q_weighted_indegree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphX aggregateMessages surface: sum of incoming edge weights."""
    g = derive_graph(spark, sf_dir, "cs_weighted")
    return g.aggregate_messages(
        to_dst=F.col("weight"), agg=F.sum("msg")
    ).select("id", F.col("agg").cast("double").alias("w_indegree"))


def _q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return kmeans(emb, k=8, iters=2)


def _q_svdpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SVD++ collaborative filtering over the derived customer->part rating
    graph — the last GraphX-library algorithm from the reference's cited
    roadmap (algorithms.h:219-221). Deterministic batch GD; DuckDB twin
    unrolls the same
    arithmetic per iteration (oracle.svdpp_sql)."""
    from gmr_spark.algorithms.svdpp import svdpp

    return svdpp(spark, sf_dir)


# wheel13 fixture edges — MUST mirror gmr_spark/resources/wheel13.graph line
# for line (a unit test pins the two together): directed 12-ring, +3 chords,
# one-way tail 13 -> 1 (13 unreachable from the source -> NULL level).
WHEEL13_EDGES: list[tuple[int, int]] = (
    [(i, i % 12 + 1) for i in range(1, 13)]
    + [(i, (i + 2) % 12 + 1) for i in range(1, 13)]
    + [(13, 1)]
)


def _q_graph_file_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 — the reference's own text graph format (partition.h:112-153) read
    via the distributed parser, then BFS. The fixture ships with the repo
    (graph files are sf-independent inputs, exactly like the reference's
    4elt.graph); ``sf_dir`` is unused by design."""
    import os as _os

    path = _os.path.join(_os.path.dirname(_os.path.abspath(__file__)),
                         "resources", "wheel13.graph")
    g = read_graph_file(spark, path)
    return bfs(g, source=1, max_iter=14)


def _graph_file_bfs_sql() -> str:
    """DuckDB twin: recursive-CTE BFS over the same VALUES edge list.
    UNION (not UNION ALL) dedups (id, level) rows so the recursion
    terminates on the cyclic graph; the level bound caps depth."""
    values = ", ".join(f"({s}, {d})" for s, d in WHEEL13_EDGES)
    return f"""
        WITH RECURSIVE e(src, dst) AS (
            SELECT CAST(c1 AS BIGINT), CAST(c2 AS BIGINT)
            FROM (VALUES {values}) t(c1, c2)
        ), v(id) AS (
            SELECT src FROM e UNION SELECT dst FROM e
        ), lvl(id, level) AS (
            SELECT CAST(1 AS BIGINT) AS id, 0 AS level
            UNION
            SELECT e.dst, l.level + 1
            FROM lvl l JOIN e ON e.src = l.id
            WHERE l.level < 13
        )
        SELECT v.id AS id, CAST(MIN(l.level) AS DOUBLE) AS level
        FROM v LEFT JOIN lvl l ON l.id = v.id
        GROUP BY v.id
    """


GRAPH_QUERIES: dict[str, QueryFn] = {
    "kmeans_embeddings": _q_kmeans,
    "svdpp_ratings": _q_svdpp,
    "bfs_geo": _q_bfs_geo,
    "pregel_census_bfs": _q_pregel_census_bfs,
    "ppr_geo": _q_ppr_geo,
    "sssp_cs": _q_sssp_cs,
    "sssp_cs_weighted": _q_sssp_cs_weighted,
    "pagerank_geo": _q_pagerank_geo,
    "pagerank_big": _q_pagerank_big,
    "pagerank_hub": _q_pagerank_hub,
    "cc_cs": _q_cc_cs,
    "scc_nation_ring": _q_scc_nation_ring,
    "label_propagation_geo": _q_label_propagation_geo,
    "triangles_ring": _q_triangles_ring,
    "clustering_coeff_hub": _q_clustering_hub,
    "kcore_cs": _q_kcore_cs,
    "ktruss_hub_tri": _q_ktruss_hub_tri,
    "assortativity_cs": _q_assortativity_cs,
    "graph_summary_cs": _q_graph_summary_cs,
    "degree_histogram_hub": _q_degree_histogram_hub,
    "shortest_paths_geo": _q_shortest_paths_geo,
    "degrees_cs": _q_degrees_cs,
    "matmul_nation_ring": _q_matmul_nation_ring,
    "mst_nation_mesh": _q_mst_nation_mesh,
    "collect_neighbors_ring": _q_collect_neighbors,
    "weighted_indegree_cs": _q_weighted_indegree,
    "graph_file_bfs": _q_graph_file_bfs,
}

GRAPH_ORACLES: dict[str, str] = {
    "kmeans_embeddings": kmeans_sql(k=8, iters=2),
    "svdpp_ratings": _svdpp_oracle(),
    "bfs_geo": bfs_sql("geo", 0, K_BFS_GEO),
    "pregel_census_bfs": bfs_census_sql("geo", 0, K_BFS_GEO),
    "ppr_geo": ppr_sql("geo", 0, K_PAGERANK),
    "sssp_cs": sssp_sql("cs", _MIN_VERTEX, K_SSSP_CS, undirected=True),
    "sssp_cs_weighted": sssp_sql("cs_weighted", _MIN_VERTEX, K_SSSP_CS_WEIGHTED,
                                 undirected=True),
    "pagerank_geo": pagerank_sql("geo", K_PAGERANK, damping=0.5, round_to=6),
    "pagerank_big": pagerank_sql("linked_lineitems", K_PAGERANK, damping=0.5,
                                 round_to=6),
    "pagerank_hub": pagerank_sql("hub", K_PAGERANK, damping=0.5, round_to=6),
    "cc_cs": cc_sql("cs", K_CC_CS, undirected=True),
    "label_propagation_geo": lpa_sql("geo", K_LPA),
    "triangles_ring": triangle_sql("ring"),
    "clustering_coeff_hub": clustering_sql("hub_tri"),
    "kcore_cs": kcore_sql("cs", KCORE_K, K_KCORE_ITERS),
    "ktruss_hub_tri": ktruss_sql("hub_tri", KTRUSS_K, K_KTRUSS_ITERS),
    "assortativity_cs": assortativity_sql("cs"),
    "graph_summary_cs": graph_summary_sql("cs"),
    "degree_histogram_hub": degree_histogram_sql("hub"),
    "shortest_paths_geo": landmarks_sql("geo", LANDMARKS_GEO, K_BFS_GEO),
    "degrees_cs": degrees_sql("cs"),
    "scc_nation_ring": scc_sql("nation_ring", K_SCC_NATION),
    "matmul_nation_ring": matmul_sql("nation_ring"),
    "mst_nation_mesh": mst_sql("nation_mesh", K_MST_PHASES, K_MST_INNER),
    "collect_neighbors_ring": collect_neighbors_sql("nation_ring"),
    "weighted_indegree_cs": weighted_indegree_sql("cs_weighted"),
    "graph_file_bfs": _graph_file_bfs_sql(),
}


RELATIONAL_QUERIES: dict[str, QueryFn] = {
    "q1_pricing_summary": R.q1_pricing_summary,
    "q2_min_cost_supplier": R.q2_min_cost_supplier,
    "q3_top_orders": R.q3_top_orders,
    "q4_late_orders": R.q4_late_orders,
    "q5_nation_revenue": R.q5_nation_revenue,
    "q6_forecast_revenue": R.q6_forecast_revenue,
    "q7_nation_trade": R.q7_nation_trade,
    "q8_market_share": R.q8_market_share,
    "q9_product_profit": R.q9_product_profit,
    "q11_important_stock": R.q11_important_stock,
    "q16_supplier_part_counts": R.q16_supplier_part_counts,
    "q20_bulk_suppliers": R.q20_bulk_suppliers,
    "q21_waiting_suppliers": R.q21_waiting_suppliers,
    "kmv_distinct_sketch": R.kmv_distinct_sketch,
    "q10_returned_items": R.q10_returned_items,
    "q12_priority_shipping": R.q12_priority_shipping,
    "q13_customer_distribution": R.q13_customer_distribution,
    "q14_promo_effect": R.q14_promo_effect,
    "q15_top_supplier": R.q15_top_supplier,
    "q17_small_quantity": R.q17_small_quantity,
    "q18_large_orders": R.q18_large_orders,
    "q19_disjunctive_revenue": R.q19_disjunctive_revenue,
    "q22_quiet_rich_customers": R.q22_quiet_rich_customers,
    "filter_scan": R.filter_scan,
    "topk_per_group": R.topk_per_group,
    "set_ops_customers": R.set_ops_customers,
    "rollup_revenue": R.rollup_revenue,
    "window_running": R.window_running,
    "sessionize": R.sessionize,
    "asof_join_orders": R.asof_join_orders,
    "global_sort_rank": R.global_sort_rank,
    "distinct_agg": R.distinct_agg,
    "pivot_event_counts": R.pivot_event_counts,
    "scalar_functions": R.scalar_functions,
    "cube_order_stats": R.cube_order_stats,
    "exact_percentiles": R.exact_percentiles,
    "distinct_agg_salted": R.distinct_agg_salted,
    "semi_join_priority": R.semi_join_priority,
    "anti_join_quiet_customers": R.anti_join_quiet_customers,
    "range_join_events": R.range_join_events,
    "zscore_events": R.zscore_events,
    "zscore_events_window": R.zscore_events_window,
    "approx_sketch_bounds": R.approx_sketch_bounds,
    "merge_upsert_orders": R.merge_upsert_orders,
    "scd2_order_history": R.scd2_order_history,
    "dq_audit": R.dq_audit,
}

# Bench-only surface: sketch outputs (HLL++/t-digest) are engine-specific,
# so there is no deterministic cross-engine oracle — the driver would record
# a permanently non-green rows-only row. The exact twins (distinct_agg,
# exact_percentiles) keep the declared correctness surface; the sketch path
# stays exercised through bench.py and tests.
BENCH_ONLY_QUERIES: dict[str, QueryFn] = {
    "approx_sketch_stats": R.approx_sketch_stats,
    # trained-codebook IVF-PQ: the production path of the
    # declared ann_ivf_pq. Bench-only because the trained codebook is the
    # fixpoint of a distributed per-subspace Lloyd — no compact DuckDB
    # derivation exists (the declared query keeps the seeded codebook the
    # twin CAN derive); correctness of the training kernel is pinned
    # against a driver-side numpy Lloyd in tests/test_llm_ops.py and the
    # 2M-vector seeded-vs-trained row lives in SCALE.md.
    "ann_ivf_pq_trained": lambda spark, sf_dir: S.ann_ivf_pq(
        spark, sf_dir, train_iters=2),
    # the FULL production config: trained codebook AND
    # Lloyd-trained coarse cells (train_ivf_cells on a 1-in-10 sample —
    # the scale probe's sampling contract). Bench-only for the same
    # reason: both training fixpoints have no compact DuckDB derivation;
    # the celltrain legs are reproduced through the public API in
    # tests/test_llm_ops.py and the 2M-vector row lives in SCALE.md.
    "ann_ivf_pq_celltrained": lambda spark, sf_dir: S.ann_ivf_pq(
        spark, sf_dir, train_iters=2, cell_train_iters=2,
        cell_sample_mod=10),
    # recall@3 of the production config above vs the cosine_topk_arrow
    # exact truth, so the config bench.py times is recall-regression-
    # guarded on every bench run, not only by the scale families.
    # Bench-only for the training-fixpoint reason; tests pin recall >= the
    # seeded ann_ivf_pq's on the bench corpus.
    "ann_recall_production": S.ann_recall_production,
}

RELATIONAL_ORACLES: dict[str, str] = {
    "q1_pricing_summary": RSQL.Q1,
    "q2_min_cost_supplier": RSQL.Q2,
    "q3_top_orders": RSQL.Q3,
    "q4_late_orders": RSQL.Q4,
    "q5_nation_revenue": RSQL.Q5,
    "q6_forecast_revenue": RSQL.Q6,
    "q7_nation_trade": RSQL.Q7,
    "q8_market_share": RSQL.Q8,
    "q9_product_profit": RSQL.Q9,
    "q11_important_stock": RSQL.Q11,
    "q16_supplier_part_counts": RSQL.Q16,
    "q20_bulk_suppliers": RSQL.Q20,
    "q21_waiting_suppliers": RSQL.Q21,
    "kmv_distinct_sketch": RSQL.KMV_SKETCH,
    "q10_returned_items": RSQL.Q10,
    "q12_priority_shipping": RSQL.Q12,
    "q13_customer_distribution": RSQL.Q13,
    "q14_promo_effect": RSQL.Q14,
    "q15_top_supplier": RSQL.Q15,
    "q17_small_quantity": RSQL.Q17,
    "q18_large_orders": RSQL.Q18,
    "q19_disjunctive_revenue": RSQL.Q19,
    "q22_quiet_rich_customers": RSQL.Q22,
    "filter_scan": RSQL.FILTER_SCAN,
    "topk_per_group": RSQL.TOPK_PER_GROUP,
    "set_ops_customers": RSQL.SET_OPS,
    "rollup_revenue": RSQL.ROLLUP_REVENUE,
    "window_running": RSQL.WINDOW_RUNNING,
    "sessionize": RSQL.SESSIONIZE,
    "asof_join_orders": RSQL.ASOF_JOIN,
    "global_sort_rank": RSQL.GLOBAL_SORT_RANK,
    "distinct_agg": RSQL.DISTINCT_AGG,
    "pivot_event_counts": RSQL.PIVOT_EVENT_COUNTS,
    "scalar_functions": RSQL.SCALAR_FUNCTIONS,
    "cube_order_stats": RSQL.CUBE_ORDER_STATS,
    "exact_percentiles": RSQL.EXACT_PERCENTILES,
    "distinct_agg_salted": RSQL.DISTINCT_AGG,  # same oracle, salted plan
    "semi_join_priority": RSQL.SEMI_JOIN_PRIORITY,
    "anti_join_quiet_customers": RSQL.ANTI_JOIN_QUIET_CUSTOMERS,
    "range_join_events": RSQL.RANGE_JOIN_EVENTS,
    "zscore_events": RSQL.ZSCORE_EVENTS,
    "zscore_events_window": RSQL.ZSCORE_EVENTS,  # same oracle, JVM-window plan
    "approx_sketch_bounds": RSQL.APPROX_SKETCH_BOUNDS,
    "merge_upsert_orders": RSQL.MERGE_UPSERT,
    "scd2_order_history": RSQL.SCD2_HISTORY,
    "dq_audit": RSQL.DQ_AUDIT_WRAPPED,
}


def _q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmr_spark.streaming.windowed import events_sliding_batch

    return events_sliding_batch(spark, sf_dir)


EVENTS_SLIDING_SQL = """
WITH w AS (
    SELECT unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                   date_trunc('hour', ts)]) AS wstart,
           event_type, value
    FROM events
)
SELECT CAST(epoch(wstart) AS BIGINT) AS window_epoch,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM w
GROUP BY 1, 2
"""


LLM_QUERIES: dict[str, QueryFn] = {
    "dedup_exact": D.dedup_exact,
    "dedup_minhash": D.dedup_minhash,
    "dedup_containment": D.dedup_containment,
    "dedup_simhash": D.dedup_simhash,
    "dedup_embedding": D.dedup_embedding,
    "ngram_jaccard": D.ngram_jaccard_pairs,
    "cosine_topk": S.cosine_topk,
    "cosine_topk_arrow": S.cosine_topk_arrow,
    "ann_sign_lsh": S.ann_sign_lsh,
    "ann_rh_lsh": S.ann_rh_lsh,
    "ann_ivf": S.ann_ivf,
    "ann_ivf_pq": S.ann_ivf_pq,
    "ann_recall_at_k": S.ann_recall_at_k,
    "lang_id": TA.lang_id,
    "lang_id_multilingual": TA.lang_id_multilingual,
    "quality_score": TA.quality_score,
    "token_stats": TA.token_stats,
    "term_frequencies": TA.term_frequencies,
    "tfidf_top_terms": TA.tfidf_top_terms,
    # CCNet-style corpus-LM filtering score (rational surprisal)
    "unigram_lm_score": TA.unigram_lm_score,
    # per-doc OOV rate vs the corpus top-V vocabulary (the
    # tokenizer-prep / fixed-vocab coverage signal)
    "oov_rate": TA.oov_rate,
    "doc_fingerprints": TA.doc_fingerprints,
    "tokenize_udtf": TA.tokenize_udtf,
    "multimodal_decode": M.multimodal_decode,
    "multimodal_resize": M.multimodal_resize,
    "multimodal_frame_sample": M.multimodal_frame_sample,
    "multimodal_features": M.multimodal_features,
    # audio member of the multimodal family — real RIFF/WAVE
    # chunk-walking PCM-16 decode, mirroring the image PPM decoder
    "multimodal_audio": M.multimodal_audio,
    # same decode entering through the binaryFile landing zone
    # (on-disk .wav scan), the audio sibling of multimodal_decode's .ppm scan
    "multimodal_audio_files": M.multimodal_audio_files,
    # the declared PACK HOP (binaryFile dir -> parquet binary-column
    # shards -> decode from packed): per-object listing and open() bound a
    # small-files corpus (SCALE.md), so packing once is a first-class
    # operator
    "multimodal_pack": M.multimodal_pack,
    "dup_clusters": D.dup_clusters,
    "stratified_sample": SAMP.stratified_sample,
    "doc_chunking": TA.doc_chunking,
    "pii_scrub": TA.pii_scrub,
    "gopher_quality": TA.gopher_quality,
    "contamination_check": TA.contamination_check,
    "token_length_histogram": TA.token_length_histogram,
    "dedup_survivors": D.dedup_survivors,
    "sequence_packing": SAMP.sequence_packing,
    "temperature_mix_sample": SAMP.temperature_mix_sample,
    # BM25 retrieval scoring + SemDeDup semantic near-dup removal
    "bm25_topk": TA.bm25_topk,
    "semdedup_embeddings": D.semdedup_embeddings,
    # exact-substring dedup (Lee et al. 2022 ExactSubstr pass)
    "dedup_substring": D.dedup_substring,
    # DSIR importance-based data selection (Xie et al. 2023)
    "dsir_select": TA.dsir_select,
    # the composed curation pipeline (exact dedup -> near-dup survivors ->
    # Gopher + LM-on-deduped filter -> packing) — declared because its
    # composed DuckDB twin (LSQL.CURATION) chains the stage twins in the
    # pipeline's own composition. The short name keeps the driver-tail
    # timing budget (test_bench_tail_keeps_timings); the 2M-doc
    # planted-truth proof is the pipeline row in SCALE.md.
    "curation": C.curation_pipeline,
}


def _q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gmr_spark.streaming.windowed import events_hourly_batch

    return events_hourly_batch(spark, sf_dir)


def _q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the native session-window rollup (streaming/windowed);
    append-mode emission duality is pinned in tests/test_streaming.py."""
    from gmr_spark.streaming.windowed import events_session_windows_batch

    return events_session_windows_batch(spark, sf_dir)


EVENTS_SESSIONS_SQL = """
WITH se AS MATERIALIZED (
    SELECT user_id, event_id, value,
           CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS s
    FROM events
), lagged AS (
    SELECT user_id, event_id, s, value,
           LAG(s) OVER (PARTITION BY user_id ORDER BY s, event_id) AS prev_s
    FROM se
), flagged AS (
    SELECT user_id, event_id, s, value,
           CASE WHEN prev_s IS NULL OR s - prev_s >= 1800 THEN 1 ELSE 0 END AS is_new
    FROM lagged
), sess AS (
    SELECT user_id, s, value,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY s, event_id) AS sid
    FROM flagged
)
SELECT user_id,
       MIN(s) AS session_start_epoch,
       MAX(s) + 1800 AS session_end_epoch,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM sess GROUP BY user_id, sid
"""


def _q_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream attribution join (streaming/joins.py);
    the streaming path's raw pairs are duality-pinned in
    tests/test_streaming.py."""
    from gmr_spark.streaming.joins import attribution_batch

    return attribution_batch(spark, sf_dir)


EVENTS_HOURLY_SQL = """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""

LLM_ORACLES: dict[str, str] = {
    "dedup_exact": LSQL.DEDUP_EXACT,
    "dedup_minhash": LSQL.DEDUP_MINHASH,
    "dedup_containment": LSQL.DEDUP_CONTAINMENT,
    "dedup_simhash": LSQL.DEDUP_SIMHASH,
    "dedup_embedding": LSQL.DEDUP_EMBEDDING,
    "ngram_jaccard": LSQL.NGRAM_JACCARD,
    "cosine_topk": LSQL.COSINE_TOPK,
    # same declared contract as cosine_topk (exact brute-force top-k,
    # ROUND(sim, 6), neighbor-id ties) — the Arrow/GEMM physical path must
    # hash-match the identical oracle
    "cosine_topk_arrow": LSQL.COSINE_TOPK,
    "ann_sign_lsh": LSQL.ANN_SIGN_LSH,
    "ann_rh_lsh": LSQL.ANN_RH_LSH,
    "ann_ivf": LSQL.ANN_IVF,
    "ann_ivf_pq": LSQL.ANN_IVF_PQ,
    "ann_recall_at_k": LSQL.ANN_RECALL_AT_K,
    "lang_id": LSQL.LANG_ID,
    "lang_id_multilingual": LSQL.LANG_ID_MULTILINGUAL,
    "quality_score": LSQL.QUALITY_SCORE,
    "token_stats": LSQL.TOKEN_STATS,
    "term_frequencies": LSQL.TERM_FREQUENCIES,
    "tfidf_top_terms": LSQL.TFIDF_TOP_TERMS,
    "unigram_lm_score": LSQL.UNIGRAM_LM_SCORE,
    "oov_rate": LSQL.OOV_RATE,
    "doc_fingerprints": LSQL.DOC_FINGERPRINTS,
    "tokenize_udtf": LSQL.TOKENIZE_UDTF,
    "multimodal_decode": LSQL.MULTIMODAL_DECODE,
    "multimodal_resize": LSQL.MULTIMODAL_RESIZE,
    "multimodal_frame_sample": LSQL.MULTIMODAL_FRAME_SAMPLE,
    "multimodal_features": LSQL.MULTIMODAL_FEATURES,
    "multimodal_audio": LSQL.MULTIMODAL_AUDIO,
    # same closed-form twin: the files variant must decode to identical rows
    "multimodal_audio_files": LSQL.MULTIMODAL_AUDIO,
    # same twin again: decoded fields of PACKED == decoded fields of
    # file-backed == the synthesis closed forms
    "multimodal_pack": LSQL.MULTIMODAL_AUDIO,
    "dup_clusters": LSQL.DUP_CLUSTERS,
    "stratified_sample": LSQL.STRATIFIED_SAMPLE,
    "doc_chunking": LSQL.DOC_CHUNKING,
    "pii_scrub": LSQL.PII_SCRUB,
    "gopher_quality": LSQL.GOPHER_QUALITY,
    "contamination_check": LSQL.CONTAMINATION_CHECK,
    "token_length_histogram": LSQL.TOKEN_LENGTH_HISTOGRAM,
    "dedup_survivors": LSQL.DEDUP_SURVIVORS,
    "sequence_packing": LSQL.SEQUENCE_PACKING,
    "temperature_mix_sample": LSQL.TEMPERATURE_MIX_SAMPLE,
    "bm25_topk": LSQL.BM25_TOPK,
    "semdedup_embeddings": semdedup_sql(k=8, iters=2, threshold=0.30),
    "dedup_substring": LSQL.DEDUP_SUBSTRING,
    "dsir_select": LSQL.DSIR_SELECT,
    "curation": LSQL.CURATION,
}


# Queries whose implementation or oracle changed in round ``round``: their
# prior driver rows are stale, so they sort ahead of everything else
# regardless of row age (new queries have no row at all and front
# automatically). ROUND-STAMPED, so the flag is self-expiring — when
# ``round`` != the current driver round (max committed
# CORRECTNESS_r* round + 1) the list is ignored, so a forgotten cleanup can
# never displace genuinely-stale rows in a later round. DISCIPLINE: any
# change that alters a query's implementation, its oracle, or an operator a
# query measures MUST bump ``round`` to the current round and list the
# query here (measuring gates are auto-added via _MEASURED_BY below).
_CHANGED_THIS_ROUND = {
    "round": 16,
    "names": (
        # one nearest-centroid kernel: k-means, SemDeDup and the IVF coarse
        # quantizer now assign with the Arrow/BLAS GEMM (distances rounded
        # half up) in place of the per-centroid Catalyst expression, and
        # SemDeDup's within-cluster cosines come from a BLAS block per
        # cluster; ann_recall_at_k follows through _MEASURED_BY
        "kmeans_embeddings",
        "semdedup_embeddings",
        "ann_ivf",
        "ann_ivf_pq",
    ),
}

# Gate/measuring queries: when an operator's query is flagged changed, the
# queries that MEASURE it (recall/quality gates) are stale too even though
# their own code did not change; without this a gate keeps an old green
# row across a rewrite of the operator it measures.
_MEASURED_BY: dict[str, tuple[str, ...]] = {
    "ann_rh_lsh": ("ann_recall_at_k",),
    "ann_sign_lsh": ("ann_recall_at_k",),
    "ann_ivf": ("ann_recall_at_k",),
    "ann_ivf_pq": ("ann_recall_at_k",),
}


def _changed_names() -> frozenset[str]:
    """The effective changed-this-round set: empty when the stamp is stale
    (self-expiry), else the stamped names plus every gate that measures a
    stamped operator."""
    last = _driver_row_rounds()
    current = (max(last.values()) + 1) if last else 1
    if _CHANGED_THIS_ROUND["round"] != current:
        return frozenset()
    names = set(_CHANGED_THIS_ROUND["names"])
    for subject, gates in _MEASURED_BY.items():
        if subject in names:
            names.update(gates)
    return frozenset(names)

# How many rows the correctness driver snapshots per round (observed ~50 in
# every CORRECTNESS_r* artifact) — the rotation math below is stated against
# this constant and test_rotation pins the staleness bound to it.
DRIVER_WINDOW = 50
# Steady-state ceiling on per-round _CHANGED_THIS_ROUND names that the
# 3-round staleness bound is stated against. A single round MAY exceed this
# (e.g. a physical-execution change touching every pregel query); the
# rotation then defers at most (spike − steady) oldest refreshes by one
# round, each still caught by test_rotation's dynamic must-refresh-fits-
# window assertion — and the self-expiring stamp prevents a persistent
# spike. The static ceil(N/(W−steady)) ≤ 3 check pins registry growth.
STEADY_CHANGED_MAX = 5


def _driver_row_rounds() -> dict[str, int]:
    """name -> last driver round that recorded a CORRECTNESS row for it,
    parsed from the repo-root ``CORRECTNESS_r*.json`` artifacts. Queries
    absent from every artifact map to -1 (never checked)."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"_r0*(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        for name in rows:
            last[name] = max(last.get(name, -1), rnd)
    return last


def _natural_registry() -> dict[str, QueryFn]:
    registry: dict[str, QueryFn] = {}
    registry.update(LLM_QUERIES)
    registry["events_hourly"] = _q_events_hourly
    registry["events_sliding"] = _q_events_sliding
    registry["stream_attribution_join"] = _q_stream_attribution
    registry["events_session_windows"] = _q_events_sessions
    registry.update(GRAPH_QUERIES)
    registry.update(RELATIONAL_QUERIES)
    return registry


def _rotation_order(names: list[str] | dict[str, object]) -> list[str]:
    """Mechanized driver-window rotation: the correctness driver snapshots
    only the first ``DRIVER_WINDOW`` (~50) registry entries per round, so
    order by evidence priority — (1) queries
    changed this round (``_CHANGED_THIS_ROUND``: prior rows are stale), then
    (2) rounds since each query's last driver row, oldest/never first, with
    the natural registry order as the stable tiebreak.

    Staleness bound (a fixed "within two rounds" claim goes false as the
    registry grows, so the bound is stated in N): with N registered
    queries, oldest-first ordering guarantees no query's row is
    ever older than ``ceil(N / (DRIVER_WINDOW - steady_changed))`` rounds,
    where ``steady_changed`` is the per-round changed-name count the bound
    is stated against (``STEADY_CHANGED_MAX``, currently 5 — NOT
    ``len(_CHANGED_THIS_ROUND)``, which since the round-stamp redesign is a
    2-key dict whose effective set is :func:`_changed_names`). A single
    round may spike past the steady ceiling (see the STEADY_CHANGED_MAX
    note); the self-expiring stamp prevents a persistent spike. At N=117 /
    W=50 / steady ≤5 the bound is 3 rounds. ``tests/test_rotation.py`` pins
    both the bound and the front-of-window placement of every
    2-round-stale query. A changed query cannot ship on a stale green."""
    order = {n: i for i, n in enumerate(names)}
    last = _driver_row_rounds()
    changed = _changed_names()
    return sorted(
        order,
        key=lambda n: (0 if n in changed else 1, last.get(n, -1), order[n]),
    )


def all_queries() -> dict[str, QueryFn]:
    """Driver-facing registry, rotation-ordered (see ``_rotation_order``)."""
    registry = _natural_registry()
    return {n: registry[n] for n in _rotation_order(registry)}


def all_oracles() -> dict[str, str]:
    oracles: dict[str, str] = {}
    oracles.update(LLM_ORACLES)
    oracles["events_hourly"] = EVENTS_HOURLY_SQL
    oracles["events_sliding"] = EVENTS_SLIDING_SQL
    oracles["stream_attribution_join"] = RSQL.ATTRIBUTION
    oracles["events_session_windows"] = EVENTS_SESSIONS_SQL
    oracles.update(GRAPH_ORACLES)
    oracles.update(RELATIONAL_ORACLES)
    # identical order to all_queries(): tiebreak on the QUERY registry's
    # natural order (the oracle dicts interleave blocks differently)
    return {n: oracles[n] for n in _rotation_order(_natural_registry())}
