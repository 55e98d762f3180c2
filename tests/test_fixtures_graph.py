"""Unit tests on the reference's own tiny fixture graphs with hand-computed
goldens (FIXTURES.md §2-3)."""

from __future__ import annotations

import pytest

from gmr_spark.graph import PropertyGraph
from gmr_spark.algorithms import (
    bfs,
    connected_components,
    pagerank,
    sssp,
    strongly_connected_components,
    triangle_count,
)

SMALL_EDGES = [  # graph/small.graph — symmetric, 10 vertices, 22 directed edges
    (1, 2), (1, 3), (1, 4), (1, 5), (1, 10),
    (2, 1), (2, 3), (2, 6), (2, 7),
    (3, 1), (3, 2), (3, 8), (3, 9),
    (4, 1), (4, 5),
    (5, 1), (5, 4),
    (6, 2), (7, 2), (8, 3), (9, 3), (10, 1),
]

THREELINE_EDGES = [(1, 2), (2, 3), (3, 2)]  # graph/3line.graph (+ isolated vertex 4)


def _graph(spark, edges, extra_vertices=()):
    df = spark.createDataFrame(
        [(s, d, 1.0) for s, d in edges], "src long, dst long, weight double"
    )
    g = PropertyGraph.from_edges(df)
    if extra_vertices:
        extra = spark.createDataFrame([(v,) for v in extra_vertices], "id long")
        g = PropertyGraph(vertices=g.vertices.union(extra).distinct(), edges=g.edges)
    return g


def test_sssp_small(spark):
    g = _graph(spark, SMALL_EDGES)
    got = {r.id: r.dist for r in sssp(g, source=1).collect()}
    assert got == {1: 0.0, 2: 1.0, 3: 1.0, 4: 1.0, 5: 1.0, 10: 1.0,
                   6: 2.0, 7: 2.0, 8: 2.0, 9: 2.0}


def test_sssp_3line_unreachable(spark):
    g = _graph(spark, THREELINE_EDGES, extra_vertices=(4,))
    got = {r.id: r.dist for r in sssp(g, source=1).collect()}
    assert got == {1: 0.0, 2: 1.0, 3: 2.0, 4: None}


def test_bfs_small_equals_sssp(spark):
    g = _graph(spark, SMALL_EDGES)
    got = {r.id: r.level for r in bfs(g, source=1).collect()}
    assert got[6] == 2.0 and got[1] == 0.0 and got[10] == 1.0


def test_triangle_count_small(spark):
    g = _graph(spark, SMALL_EDGES)
    assert triangle_count(g).first().tri_cnt == 2  # {1,2,3} and {1,4,5}
    # both closure-probe strategies agree (closed_triangles): cap=0 forces
    # the shuffle fallback, huge cap forces the broadcast-encoding path
    assert triangle_count(
        g, closure_broadcast_max_edges=0).first().tri_cnt == 2
    assert triangle_count(
        g, closure_broadcast_max_edges=10**9).first().tri_cnt == 2


def test_triangle_closure_encoding_offsets_negative_ids(spark):
    """The broadcast probe's long encoding is (a-lo)*W + (b-lo) — offset by
    the observed id floor so negative vertex ids stay injective. Triangle
    {-5,-3,2} plus a non-closing wedge around -9."""
    edges = [(-5, -3), (-3, 2), (-5, 2), (-9, -5), (-9, 7)]
    g = _graph(spark, edges)
    for cap in (0, 10**9):
        assert triangle_count(
            g, closure_broadcast_max_edges=cap).first().tri_cnt == 1


def test_cc_small_and_3line(spark):
    g = _graph(spark, SMALL_EDGES)
    labels = {r.id: r.component for r in connected_components(g).collect()}
    assert set(labels.values()) == {1}

    g2 = _graph(spark, THREELINE_EDGES, extra_vertices=(4,))
    labels2 = {r.id: r.component for r in connected_components(g2).collect()}
    assert labels2 == {1: 1, 2: 1, 3: 1, 4: 4}


def test_degrees_small(spark):
    g = _graph(spark, SMALL_EDGES)
    out_deg = {r.id: r.out_degree for r in g.out_degrees().collect()}
    assert out_deg == {1: 5, 2: 4, 3: 4, 4: 2, 5: 2, 6: 1, 7: 1, 8: 1, 9: 1, 10: 1}


def test_pagerank_small_symmetry(spark):
    g = _graph(spark, SMALL_EDGES)
    pr = {r.id: r.rank for r in pagerank(g, k=10).collect()}
    assert pr[4] == pytest.approx(pr[5], rel=1e-12)
    assert pr[6] == pytest.approx(pr[7], rel=1e-12)
    assert pr[2] == pytest.approx(pr[3], rel=1e-12)
    assert pr[1] == max(pr.values())
    # no dangling vertices -> total mass obeys t' = 0.5*t + 0.5 exactly,
    # so after k=10 steps from t0=10: 1 + 9*0.5^10
    assert sum(pr.values()) == pytest.approx(1 + 9 * 0.5**10, rel=1e-9)


# a real self-loop (1), parallel edges (2 -> 3 twice), a dangling vertex (4),
# vertices with no in-edges (0, 5) and an isolated vertex (6)
ODD_EDGES = [(0, 1), (1, 1), (1, 2), (2, 3), (2, 3), (3, 1), (3, 4), (5, 2)]


def _pagerank_reference(edges, vertices, k, d, source=None):
    """The declared semantics as a plain loop: messages rank/out-degree per
    directed edge, then ``d * Σ + (1-d)/N`` where a message arrived (else
    the prior value), or for personalized PageRank ``d * Σ`` plus the
    source's restart mass."""
    out_deg = {v: sum(1 for s, _ in edges if s == v) for v in vertices}
    rank = {v: 1.0 if source is None else float(v == source) for v in vertices}
    for _ in range(k):
        incoming: dict[int, float] = {}
        for s, t in edges:
            incoming[t] = incoming.get(t, 0.0) + rank[s] / out_deg[s]
        if source is None:
            rank = {v: d * incoming[v] + (1 - d) / len(vertices)
                    if v in incoming else rank[v] for v in vertices}
        else:
            rank = {v: d * incoming.get(v, 0.0) + (1 - d) * (v == source)
                    for v in vertices}
    return rank


@pytest.mark.parametrize("source", [None, 1])
def test_dense_pagerank_matches_reference_on_odd_graph(spark, source):
    from gmr_spark.algorithms import personalized_pagerank

    g = _graph(spark, ODD_EDGES, extra_vertices=(6,))
    if source is None:
        got = pagerank(g, k=5)
    else:
        got = personalized_pagerank(g, source=source, k=5)
    got = {r.id: r.rank for r in got.collect()}
    want = _pagerank_reference(ODD_EDGES, range(7), k=5, d=0.5, source=source)
    assert got == pytest.approx(want, rel=1e-12)


def test_scc_cycle_and_dag(spark):
    # two 3-cycles joined by a one-way edge + a tail vertex
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4), (6, 7)]
    g = _graph(spark, edges)
    got = {r.id: r.scc for r in strongly_connected_components(g).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4, 7: 7}


def _scc_chain(spark, n_sccs: int, size: int):
    """Condensation CHAIN of ``n_sccs`` directed ``size``-cycles with the
    ADVERSARIAL id layout (ids increase along the chain): SCC i holds ids
    [i*size, (i+1)*size) and bridges forward to SCC i+1. Raw min-id coloring
    floods color 0 over everything, elects ONE root per phase, and peels
    K phases; scrambled coloring peels the prefix minima of a pseudo-random
    order per phase — O(log K) expected."""
    edges = []
    for i in range(n_sccs):
        base = i * size
        edges += [(base + j, base + (j + 1) % size) for j in range(size)]
        if i + 1 < n_sccs:
            edges.append((base, base + size))
    return _graph(spark, edges)


def test_scc_scrambled_coloring_beats_adversarial_chain(spark):
    """Round-8 verdict item 2 (the many-small-SCC weak case): on a 16-SCC
    adversarial chain, raw min-id coloring degenerates to one peel per phase
    (16 phases) while the scrambled default must finish in at most half —
    with IDENTICAL labels either way (min vertex id per SCC)."""
    K, S = 16, 3
    want = {i * S + j: i * S for i in range(K) for j in range(S)}

    m_raw: dict = {}
    g = _scc_chain(spark, K, S)
    got_raw = {r.id: r.scc for r in strongly_connected_components(
        g, scramble=False, trim_iters=0, metrics_out=m_raw).collect()}
    assert got_raw == want
    assert m_raw["phases"] == K  # the degenerate shape, pinned

    m_mix: dict = {}
    got_mix = {r.id: r.scc for r in strongly_connected_components(
        g, trim_iters=0, metrics_out=m_mix).collect()}
    assert got_mix == want
    assert m_mix["phases"] <= K // 2, m_mix


def test_scc_self_loops_and_exception_release(spark):
    """Self-loop vertices survive trim (they have in+out degree) and come
    out as singleton SCCs labeled by themselves; a mid-run failure (forced
    via max_phases=0 exhaustion) must raise AND release every checkpoint it
    materialized — no persistent-RDD growth across the failed call."""
    import pytest as _pt

    # 7 -> self-loop; 3-cycle {0,1,2}; tail 2 -> 9
    edges = [(0, 1), (1, 2), (2, 0), (7, 7), (2, 9)]
    g = _graph(spark, edges)
    got = {r.id: r.scc for r in strongly_connected_components(g).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 7: 7, 9: 9}

    def n_persistent() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = n_persistent()
    with _pt.raises(RuntimeError, match="max_phases"):
        # trim clears 9, the self-loop and cycle need a coloring phase that
        # max_phases=0 never grants -> the declared loud-failure path
        strongly_connected_components(g, max_phases=0)
    assert n_persistent() <= before, \
        "failed SCC run leaked checkpoint blocks"


def test_scc_raises_on_insufficient_max_iter(spark):
    """A non-fixpoint coloring is silent corruption (a vertex can elect
    itself root before its true min-reaching key arrives and peel a strict
    subset of its SCC) — the loop must raise, not return."""
    edges = [(i, i + 1) for i in range(6)] + [(6, 0)]  # 7-cycle, diam 6
    g = _graph(spark, edges)
    with pytest.raises(RuntimeError, match="color propagation"):
        strongly_connected_components(g, max_iter=2, trim_iters=0)


def test_scc_trim_peels_acyclic_fringe_without_coloring(spark):
    """Trim pre-step: a graph whose only cycle is one 3-cycle, hung with a
    DAG fringe (in/out tails), must assign every fringe vertex through the
    trim loop — zero coloring phases for them — and still label the cycle
    through one coloring phase."""
    # 3-cycle {0,1,2}; in-tail 10->11->0; out-tail 2->20->21
    edges = [(0, 1), (1, 2), (2, 0), (10, 11), (11, 0), (2, 20), (20, 21)]
    g = _graph(spark, edges)
    m: dict = {}
    got = {r.id: r.scc for r in strongly_connected_components(
        g, metrics_out=m).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 10: 10, 11: 11, 20: 20, 21: 21}
    assert m["trimmed"] == 4 and m["phases"] == 1, m


def test_graphx_operator_surface(spark):
    """reverse/subgraph/mask/groupEdges/triplets/outerJoin/aggregateMessages
    — the GraphX operator list the reference cites as its roadmap
    (algorithms.h:217-222), on the small.graph fixture."""
    from pyspark.sql import functions as F

    g = _graph(spark, SMALL_EDGES)

    rev = g.reverse()
    assert {(r.src, r.dst) for r in rev.edges.collect()} == {
        (d, s) for s, d in SMALL_EDGES
    }

    sub = g.subgraph(vpred=F.col("id") <= 5)
    assert {r.id for r in sub.vertices.collect()} == {1, 2, 3, 4, 5}
    assert {(r.src, r.dst) for r in sub.edges.collect()} == {
        (s, d) for s, d in SMALL_EDGES if s <= 5 and d <= 5
    }

    masked = g.mask(sub)
    assert {(r.src, r.dst) for r in masked.edges.collect()} == {
        (s, d) for s, d in SMALL_EDGES if s <= 5 and d <= 5
    }

    doubled = PropertyGraph(vertices=g.vertices,
                            edges=g.edges.union(g.edges))
    grouped = doubled.group_edges()
    got = {(r.src, r.dst): r.weight for r in grouped.edges.collect()}
    assert got == {(s, d): 2.0 for s, d in SMALL_EDGES}

    trip = g.map_vertices(value=F.col("id") * 10).triplets()
    one = trip.filter((F.col("src") == 1) & (F.col("dst") == 2)).first()
    assert one.src_value == 10 and one.dst_value == 20

    joined = g.outer_join_vertices(
        spark.createDataFrame([(1, "x")], "id long, tag string")
    )
    tags = {r.id: r.tag for r in joined.vertices.collect()}
    assert tags[1] == "x" and tags[2] is None

    indeg = g.aggregate_messages(to_dst=F.lit(1), agg=F.sum("msg"))
    want = {}
    for _, d in SMALL_EDGES:
        want[d] = want.get(d, 0) + 1
    assert {r.id: r.agg for r in indeg.collect()} == want

    nbrs = {r.id: list(r.neighbor_ids)
            for r in g.collect_neighbor_ids(direction="out").collect()}
    assert nbrs[1] == [2, 3, 4, 5, 10]
    assert g.num_vertices() == 10 and g.num_edges() == len(SMALL_EDGES)


def test_shortest_paths_multi_landmark_single_pass(spark):
    """shortest_paths = per-landmark BFS joined on id, but in ONE Pregel run
    whose superstep count tracks the landmarks' max eccentricity (round-4
    verdict item 3), not L sequential traversals."""
    from gmr_spark.algorithms.sssp import _LandmarkBFSProgram, shortest_paths
    from gmr_spark.plans.pregel import run_pregel

    g = _graph(spark, SMALL_EDGES)
    landmarks = [1, 6, 8]
    got = {
        r.id: (r.dist_l0, r.dist_l1, r.dist_l2)
        for r in shortest_paths(g, landmarks).collect()
    }
    for i, lm in enumerate(landmarks):
        want = {r.id: r.level for r in bfs(g, source=lm).collect()}
        assert {v: d[i] for v, d in got.items()} == want, f"landmark {lm}"

    # eccentricity of the small graph from these landmarks is 3; with the
    # small-graph census every second superstep convergence is observed at
    # most one superstep late
    res = run_pregel(g, _LandmarkBFSProgram(landmarks), max_iter=20)
    assert res.converged and res.iterations <= 3 + 2


def test_shortest_paths_unreachable_null(spark):
    from gmr_spark.algorithms.sssp import shortest_paths

    g = _graph(spark, THREELINE_EDGES, extra_vertices=(4,))
    got = {r.id: (r.dist_l0, r.dist_l1) for r in shortest_paths(g, [1, 4]).collect()}
    assert got[4] == (None, 0.0)
    assert got[1] == (0.0, None)
    assert got[3] == (2.0, None)
