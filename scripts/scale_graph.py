"""Graph scale families for ``scripts/scale.py``.

Each family builds a designed graph (``scale_data``) and asserts a
closed-form invariant of it before it reports: wall time alone proves
nothing. A family is ``fn(spark, size, scratch, **construction)``; the
construction keywords default to the SCALE.md row's values, and only tests
pass toy values.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from gmr_spark import algorithms as alg
from gmr_spark.algorithms.svdpp import _STATE_BROADCAST_CAP, svdpp_train
from gmr_spark.algorithms.triangles import closed_triangles
from gmr_spark.graph import PropertyGraph
from gmr_spark.plans.loop import _drop_checkpoint_blocks
from gmr_spark.sources.graph_file import read_graph_file, write_graph_file
from scale_data import (
    G2_VERTICES, as_graph, check_s, edge_checksum, fresh_dir, hub_ring_edges,
    hub_ring_triangles, hub_spokes, log, manyscc_edges, numpy_pagerank,
    rating_edges, ring_chords, s_offsets, skew_graph, timed)


def _sizes(df, key: str) -> list[tuple[int, int]]:
    """Sorted (label, member count) pairs of a labelling."""
    return sorted((r[0], r[1]) for r in
                  df.groupBy(key).agg(F.count(F.lit(1))).collect())


def _ring_graph(spark, n: int, t: dict):
    with timed(t, "build_graph"):
        g = as_graph(spark, ring_chords(spark, n), n)
        n_edges = g.edges.count()
    log(f"graph: {n} vertices, {n_edges} edges ({t['build_graph']}s)")
    return g, n_edges


def sssp(spark, size, scratch):
    """Weighted SSSP from vertex 0 on the ring+chords graph: every vertex is
    reached within log2(N) + 10 supersteps. Most supersteps on this graph
    move a thin frontier; above the loop runtime's size gate (the G2 row)
    ``run_pregel`` checkpoints every superstep and broadcasts such
    frontiers, below it (toy sizes) it checkpoints every second one."""
    t: dict = {}
    g, n_edges = _ring_graph(spark, size, t)
    with timed(t, "sssp"):
        res = alg.sssp(g, source=0, weighted=True,
                       max_iter=(size - 1).bit_length() + 10)
        reached = res.filter(F.col("dist").isNotNull()).count()
    assert reached == size, f"expected all {size} reachable, got {reached}"
    return {"vertices": size, "edges": n_edges, "timings_sec": t}


def pagerank(spark, size, scratch):
    """PageRank, 10 supersteps, damping 0.5, on the ring+chords graph."""
    t: dict = {}
    g, n_edges = _ring_graph(spark, size, t)
    with timed(t, "pagerank_k10"):
        rows = alg.pagerank(g, k=10, damping=0.5).count()
    assert rows == size
    return {"vertices": size, "edges": n_edges, "timings_sec": t}


def tc(spark, size, scratch):
    """Triangle count on the ring+chords graph against its closed form.
    Every vertex sees the same neighbor offsets S = {±2^j mod N}, so the
    count is N·t0/3 with t0 = #{(u, v) in S, u < v, u ~ v}, the triangles at
    vertex 0. 110M canonical edges exceed the closure-broadcast cap, so the
    probe is the shuffle_hash join; a broadcast relation of that size would
    also exceed Spark's 8 GiB broadcast limit."""
    t: dict = {}
    g, n_edges = _ring_graph(spark, size, t)
    offs = {pow(2, j, size) for j in range((size - 1).bit_length())} - {0}
    adj = offs | {(size - d) % size for d in offs}
    nbrs = sorted(adj)
    t0 = sum(1 for i, u in enumerate(nbrs) for v in nbrs[i + 1:]
             if (v - u) % size in adj or (u - v) % size in adj)
    assert (size * t0) % 3 == 0, (size, t0)
    with timed(t, "triangle_count"):
        got = alg.triangle_count(g).first().tri_cnt
    assert got == size * t0 // 3, (got, size * t0 // 3)
    return {"vertices": size, "edges": n_edges, "triangles": got,
            "timings_sec": t}


def truss(spark, size, scratch):
    """3-truss of the hub_tri-shaped graph (``hub_spokes``): exactly 2.5N
    edges survive."""
    assert size % 2 == 0
    t: dict = {}
    with timed(t, "ktruss3"):
        edges, vertices = hub_spokes(spark, size)
        kept = alg.k_truss(as_graph(spark, edges, vertices), k=3, max_iter=6) \
            .localCheckpoint(eager=True).count()
    assert kept == 5 * size // 2, (kept, 5 * size // 2)
    return {"vertices": size + 6, "surviving_edges": kept, "timings_sec": t}


def cc(spark, size, scratch):
    """Four disjoint chord rings: connected components must converge to
    exactly four components, labeled by each block's minimum id and of
    equal size. The ladder keeps each ring's diameter ~log2(N/4), so
    convergence exercises both the propagation join and the pointer
    jumps."""
    blocks = 4
    b = size // blocks
    assert size % blocks == 0
    t: dict = {}
    with timed(t, "cc"):
        g = as_graph(spark, ring_chords(spark, size, block=b), size)
        n_edges = g.edges.count()
        sizes = _sizes(alg.connected_components(g), "component")
    assert sizes == [(m * b, b) for m in range(blocks)], sizes[:8]
    return {"edges": n_edges, "components": len(sizes), "timings_sec": t}


def scc(spark, size, scratch):
    """Two chord rings, every vertex of the first also pointing to its twin
    in the second: the condensation is a path, so the forward-backward peel
    emits exactly two SCCs labeled by their ring's minimum id, one per
    phase. Each phase's color loop is a full ~log2(N/2)-superstep
    propagation over the whole remainder (the worst Pregel shape, unlike
    SSSP's thin frontiers), so two phases already prove the peel."""
    layers = 2
    b = size // layers
    assert size % layers == 0
    t: dict = {}
    with timed(t, "scc"):
        fwd = spark.range(size - b).select(F.col("id").alias("src"),
                                           (F.col("id") + b).alias("dst"))
        edges = ring_chords(spark, size, block=b).select("src", "dst") \
            .unionAll(fwd)
        g = as_graph(spark, edges, size)
        n_edges = g.edges.count()
        sizes = _sizes(alg.strongly_connected_components(g), "scc")
    assert sizes == [(m * b, b) for m in range(layers)], sizes[:8]
    return {"edges": n_edges, "sccs": len(sizes), "timings_sec": t}


def mst(spark, size, scratch):
    """The chord ring weighted by offset, minus every 4th unit ring edge.
    The 3N/4 surviving weight-1 edges are acyclic, so all join the forest;
    the N/4 blocks they form are bridged by N/4 - 1 weight-2 chords. The
    unique spanning forest therefore has N - 1 edges of total weight
    1.25N - 2."""
    t: dict = {}
    with timed(t, "mst"):
        edges = (ring_chords(spark, size)
                 .filter(~((F.col("off") == 1) & (F.pmod("src", F.lit(4)) == 3)))
                 .select("src", "dst", F.col("off").cast("double").alias("weight")))
        g = as_graph(spark, edges, size)
        n_edges = g.edges.count()
        agg = alg.minimum_spanning_forest(g).localCheckpoint(eager=True).agg(
            F.count(F.lit(1)).alias("n"), F.sum("weight").alias("w")).first()
    assert agg.n == size - 1, (agg.n, size - 1)
    assert abs(agg.w - (1.25 * size - 2)) < 0.5, (agg.w, 1.25 * size - 2)
    return {"edges_in": n_edges, "forest_edges": agg.n,
            "forest_weight": agg.w, "timings_sec": t}


def kcore(spark, size, scratch):
    """The chord ring (every vertex 46-regular undirected), a K_60 on ids
    0..59, and ``tails`` degree-1 vertices each hooked to a distinct ring
    vertex >= 60 (5N/24 tails: 1M at G2 size). k = 47 peels in a designed
    cascade: tails and untailed ring vertices, then the tailed ring
    vertices, then the clique's fixpoint. The 47-core is exactly the clique
    at induced degree 59."""
    tails = size * 5 // 24
    assert tails <= size - 60
    t: dict = {}
    with timed(t, "kcore47"):
        clique = (spark.range(60).select(F.col("id").alias("src"))
                  .crossJoin(spark.range(60).select(F.col("id").alias("dst")))
                  .filter(F.col("src") < F.col("dst")))
        tail = spark.range(tails).select((F.lit(size) + F.col("id")).alias("src"),
                                         (F.lit(60) + F.col("id")).alias("dst"))
        edges = ring_chords(spark, size).select("src", "dst") \
            .unionAll(clique).unionAll(tail)
        g = as_graph(spark, edges, size + tails)
        n_edges = g.edges.count()
        agg = alg.k_core(g, k=47).localCheckpoint(eager=True).agg(
            F.count(F.lit(1)).alias("n"), F.min("core_degree").alias("dmin"),
            F.max("core_degree").alias("dmax"), F.max("id").alias("idmax")).first()
    assert (agg.n, agg.dmin, agg.dmax, agg.idmax) == (60, 59, 59, 59), agg
    return {"edges": n_edges, "tails": tails, "core_vertices": agg.n,
            "timings_sec": t}


def lpa(spark, size, scratch):
    """N/24 disjoint 24-cliques, both edge directions (23N directed edges,
    the G2 message volume). Synchronous LPA with the min tie-break settles
    a clique on its minimum id within 3 rounds, so after k=4 every vertex
    carries id - id % 24: zero mismatches allowed."""
    clique = 24
    assert size % clique == 0
    t: dict = {}
    with timed(t, "lpa"):
        g = as_graph(spark, ring_chords(spark, size, block=clique,
                                        offsets=range(1, clique)), size)
        n_edges = g.edges.count()
        lab = alg.label_propagation(g, k=4).localCheckpoint(eager=True)
        mism = lab.filter(F.col("label") != F.col("id")
                          - F.pmod(F.col("id"), F.lit(clique))).count()
        n_lab = lab.select("label").distinct().count()
    assert mism == 0 and n_lab == size // clique, (mism, n_lab)
    return {"edges": n_edges, "communities": n_lab, "timings_sec": t}


def matmul(spark, size, scratch):
    """C = A·A for A the 10-chord adjacency of an N-ring. nnz(A) = 10N, the
    inner join streams 100N products, and by translation invariance C has
    exactly |{2^a + 2^b}| = 55 distinct offsets: nnz(C) = 55N with value sum
    100N, both asserted from one aggregate."""
    chords = 10
    t: dict = {}
    with timed(t, "matmul"):
        a = (ring_chords(spark, size, offsets=[2 ** j for j in range(chords)])
             .select(F.col("src").alias("i"), F.col("dst").alias("j"),
                     F.lit(1.0).alias("v"))
             .repartition(spark.sparkContext.defaultParallelism * 2, "i")
             .localCheckpoint(eager=True))
        agg = alg.matmul_coo(a, a).agg(F.count(F.lit(1)).alias("nnz"),
                                       F.sum("v").alias("vsum")).first()
    n_sums = len({2 ** x + 2 ** y for x in range(chords) for y in range(chords)})
    assert agg.nnz == n_sums * size, (agg.nnz, n_sums * size)
    assert abs(agg.vsum - chords * chords * size) < 0.5, agg.vsum
    return {"n": size, "nnz_a": chords * size, "nnz_c": agg.nnz,
            "timings_sec": t}


def ktruss_skew(spark, size, scratch):
    """The wedge join (e1.b == e2.a) of the triangle closure on a hub graph
    whose hot key is a hub vertex (``hub_ring_edges``, ``size`` leaves),
    forced to the shuffle probe; the count must equal the closed form. The
    harness's shuffle counters show how the hub key loads the join."""
    hubs = 4
    want = hub_ring_triangles(hubs, size)
    t: dict = {}
    und = (hub_ring_edges(spark, hubs, size)
           .repartition(spark.sparkContext.defaultParallelism * 2, "a")
           .localCheckpoint(eager=True))
    with timed(t, "wedge_join"):
        got = closed_triangles(und, closure_broadcast_max_edges=0).count()
    assert got == want, f"ktruss_skew wrong: {got} vs {want}"
    return {"und_edges": und.count(), "hubs": hubs, "leaves": size,
            "triangles": got, "timings_sec": t}


def _grep_skew(df) -> dict:
    """Execute-and-inspect the same QueryExecution: ``df.count()`` would
    plan a separate aggregate query and leave ``df``'s own adaptive plan
    unexecuted; ``toRdd().count()`` drives this plan, so ``executedPlan()``
    afterwards is the final AQE plan."""
    qe = df._jdf.queryExecution()
    n = qe.toRdd().count()
    plan = qe.executedPlan().toString()
    return {"rows": int(n), "skew_split": "skew" in plan.lower(),
            "aqe_final": "isFinalPlan=true" in plan}


def skew(spark, size, scratch):
    """The heavy-tail hub graph (``scale_data.skew_graph``): 20
    background chords per vertex (fewer below G2 size) plus 100 hubs
    whose largest in-degree is ~1e6 at G2 size, 50x soc-LiveJournal1's
    hub ceiling. Checks, in order: hub weighted in-degrees exactly; all
    ranks against the numpy oracle; the triangle count against the
    background closed form v·T2 (the hub edge sets exclude every offset
    that could close a triangle); and whether AQE splits the one
    dst-keyed join surface, the triplets view."""
    import numpy as np

    t2, n_s = check_s(size), len(s_offsets(size))
    t: dict = {}
    with timed(t, "build_graph"):
        g, hub_src, hub_dst = skew_graph(spark, size, scratch)
        n_edges = g.edges.count()
    assert n_edges == size * n_s + len(hub_src), n_edges
    log(f"skew graph: {size} V, {n_edges} E, hub max in-degree "
         f"{int(np.bincount(hub_dst).max())} ({t['build_graph']}s)")
    out: dict = {}

    with timed(t, "weighted_indegree"):
        win = g.aggregate_messages(to_dst=F.col("weight"), agg=F.sum("msg"),
                                   msg_name="msg")
        got = {r.id: r.agg for r in win.filter(F.col("id") < 100).collect()}
        total = win.agg(F.sum("agg").alias("t")).first().t
    hub_in = np.bincount(hub_dst, minlength=100)
    for h in range(100):
        assert got[h] == n_s + 2.0 * int(hub_in[h]), (h, got[h])
    assert total == n_edges + len(hub_src), total

    with timed(t, "pagerank_k10"):
        ranks = alg.pagerank(g, k=10, damping=0.5).toPandas() \
            .sort_values("id")["rank"].to_numpy()
    want = numpy_pagerank(size, hub_src, hub_dst)
    assert len(ranks) == size
    rel = np.abs(ranks - want) / want
    assert float(rel.max()) < 1e-6, float(rel.max())
    # per-vertex teleport is (1-d)/N, so total mass contracts toward 1:
    # T' = d·T + (1-d), i.e. T_k = d^k·(N-1) + 1 (no dangling vertices)
    want_mass = 0.5 ** 10 * (size - 1) + 1
    assert abs(float(ranks.sum()) - want_mass) / want_mass < 1e-9
    out["pagerank_max_rel_err"] = float(rel.max())
    out["hub0_rank_ratio_vs_median"] = float(ranks[0] / np.median(ranks))

    with timed(t, "triangle_count"):
        cnt = alg.triangle_count(g).first().tri_cnt
    assert cnt == size * t2, (cnt, size * t2)

    # The vertex attribute carries 8 B/row of entropy (xxhash64), as a real
    # payload would: AQE's skew detector reads compressed map-output bytes,
    # and a low-entropy attribute lets lz4 shrink the hot partition until
    # the detector stays silent (measured: the same join fires with the
    # entropy attribute and not with a constant one).
    ag = PropertyGraph(
        vertices=g.vertices.select("id", F.xxhash64("id").alias("grp")),
        edges=g.edges)
    with timed(t, "triplets_default"):
        out["triplets_default"] = _grep_skew(ag.triplets())
    # Two cluster-size partition counts bracketing
    # spark.shuffle.minNumPartitionsToHighlyCompress (2000). At 1024 reduce
    # partitions map statuses carry exact block sizes and the skew rule must
    # fire. At 2048 they become HighlyCompressedMapStatus, which averages
    # every block below spark.shuffle.accurateBlockThreshold (100 MB), so
    # the detector is blind to this hub: skew_split=false is the expected
    # result (see SCALE.md round 8 and session.py's note on the threshold).
    tuned = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512k",
        # forced SMJ: a broadcast attr side leaves no dst partition to split
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1"}
    for parts in (1024, 2048):
        conf = dict(tuned, **{"spark.sql.shuffle.partitions": str(parts)})
        saved = {k: spark.conf.get(k, None) for k in conf}
        for k, v in conf.items():
            spark.conf.set(k, v)
        try:
            with timed(t, f"triplets_parts_{parts}"):
                out[f"triplets_parts_{parts}"] = _grep_skew(ag.triplets())
        finally:
            for k, v in saved.items():
                spark.conf.unset(k) if v is None else spark.conf.set(k, v)
    for key in ("triplets_default", "triplets_parts_1024", "triplets_parts_2048"):
        assert out[key]["rows"] == n_edges, (key, out[key])
    assert out["triplets_parts_1024"]["skew_split"], \
        "skew rule must fire below the HighlyCompressed cutoff"
    assert not out["triplets_parts_2048"]["skew_split"], \
        "expected HighlyCompressedMapStatus blindness at 2048 partitions"
    return {"vertices": size, "edges": n_edges, **out, "timings_sec": t}


def manyscc(spark, size, scratch, count: int = 1000, levels: int = 4):
    """``count`` SCCs in ``levels`` condensation levels
    (``scale_data.manyscc_edges``, ids adversarial to min-id coloring).
    Exactly ``count`` SCCs of size N/count, each labeled by its block
    minimum; the loop's phase, trim and color-superstep counts are
    reported."""
    b = size // count
    t: dict = {}
    with timed(t, "build_graph"):
        g = as_graph(spark, manyscc_edges(spark, size, count, levels), size)
        n_edges = g.edges.count()
    metrics: dict = {}
    with timed(t, "manyscc"):
        sizes = _sizes(alg.strongly_connected_components(
            g, max_iter=120, max_phases=levels + 10, metrics_out=metrics), "scc")
    assert sizes == [(s * b, b) for s in range(count)], sizes[:5]
    return {"edges": n_edges, "sccs": len(sizes), **metrics, "timings_sec": t}


def ingest(spark, size, scratch):
    """The ring+chords graph through the graph-file boundary: write with
    ``write_graph_file(distributed=True)`` (executor-sharded, no single
    writer), read back with ``read_graph_file``, and check vertex and edge
    counts and the order-invariant edge checksum. Ids are 1-based, the
    writer's contract. The reference parses on one rank (partition.h:
    200-273, ~3.0M edges/s on G2 per BASELINE.md)."""
    g = PropertyGraph(
        vertices=spark.range(1, size + 1),
        edges=ring_chords(spark, size, first_id=1)
        .select("src", "dst", F.lit(1.0).alias("weight")))
    n_edges = g.edges.count()  # generation cost stays out of the write wall
    cs_out = edge_checksum(g.edges)
    path = os.path.join(fresh_dir(scratch), "g2.graph")
    t: dict = {}
    with timed(t, "write"):
        write_graph_file(g, path, distributed=True)
    gb = sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)) / 1e9
    with timed(t, "read"):
        g2 = read_graph_file(spark, path)
        n_edges2 = g2.edges.count()
    ok = (g2.vertices.count() == size and n_edges2 == n_edges
          and edge_checksum(g2.edges) == cs_out)
    assert ok, (n_edges2, n_edges)
    return {"vertices": size, "edges": n_edges, "gb": round(gb, 2),
            "write_m_edges_per_sec": round(n_edges / max(t["write"], 0.1) / 1e6, 1),
            "read_m_edges_per_sec": round(n_edges / max(t["read"], 0.1) / 1e6, 1),
            "roundtrip_ok": ok, "timings_sec": t}


def svdpp(spark, size, scratch):
    """SVD++, 2 batch-GD iterations, trained twice on ``size`` users ×
    30 ratings over users/4 items (``scale_data.rating_edges``): once
    with the user/item state hint-broadcast (users at the designed cap)
    and once with ``state_broadcast_cap=1``, the shuffled plan that
    state larger than executor memory must use. The two runs' ROUND(.,6)
    predictions must be identical on every edge: the join strategy
    changes summation order, not arithmetic."""
    items, per_user = size // 4, 30
    t: dict = {}
    with timed(t, "build_edges"):
        edges = (rating_edges(spark, size, items, per_user)
                 .repartition(spark.sparkContext.defaultParallelism * 2, "u")
                 .localCheckpoint(eager=True))
        n_edges = edges.count()
    assert n_edges == size * per_user
    # the broadcast leg exercises the designed at-cap boundary, not a raised one
    assert size <= _STATE_BROADCAST_CAP, (size, _STATE_BROADCAST_CAP)
    preds = {}
    for label, cap in (("broadcast", _STATE_BROADCAST_CAP), ("shuffle", 1)):
        iters: list[float] = []
        with timed(t, f"svdpp_{label}"):
            preds[label] = svdpp_train(
                spark, edges, iters=2, state_broadcast_cap=cap,
                iter_times=iters).localCheckpoint(eager=True)
            assert preds[label].count() == n_edges
        t[f"svdpp_{label}_iters"] = iters
    a, b = preds["broadcast"].alias("a"), preds["shuffle"].alias("b")
    with timed(t, "compare"):
        cmp = a.join(b, ["u", "i"], "full_outer").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("a.pred") != F.col("b.pred"), 1)
                  .when(F.col("a.pred").isNull() | F.col("b.pred").isNull(), 1)
                  .otherwise(0)).alias("mismatch"),
            F.max(F.abs(F.col("a.pred") - F.col("b.pred"))).alias("max_diff"),
        ).first()
    compare = {"rows": int(cmp.n), "mismatch": int(cmp.mismatch),
               "max_abs_diff": float(cmp.max_diff or 0.0)}
    assert cmp.n == n_edges and cmp.mismatch == 0, compare
    # release before the post probe, so it measures the host and not this
    # run's resident blocks
    for df in (*preds.values(), edges):
        _drop_checkpoint_blocks(df)
    return {"users": size, "items": items, "edges": n_edges,
            "state_broadcast_cap": _STATE_BROADCAST_CAP, "compare": compare,
            "timings_sec": t}


# name -> (family, default size: the SCALE.md row's)
FAMILIES = {
    "sssp": (sssp, G2_VERTICES),
    "pagerank": (pagerank, G2_VERTICES),
    "tc": (tc, G2_VERTICES),
    "truss": (truss, G2_VERTICES),
    "cc": (cc, G2_VERTICES),
    "scc": (scc, G2_VERTICES),
    "mst": (mst, G2_VERTICES),
    "kcore": (kcore, G2_VERTICES),
    "lpa": (lpa, G2_VERTICES),
    "matmul": (matmul, 2_000_000),
    "ktruss_skew": (ktruss_skew, 1_000_000),
    "skew": (skew, G2_VERTICES),
    "manyscc": (manyscc, G2_VERTICES),
    "ingest": (ingest, G2_VERTICES),
    "svdpp": (svdpp, 2_000_000),
}
