"""Triangle counting (reference: algorithms.h:117-195).

The reference runs 2 accumulate-mode supersteps shipping each vertex's whole
adjacency list along every edge and intersecting lists in reduce — O(Σ deg²)
network traffic (algorithms.h:132-170). SURVEY §4 flags this as the one
reference design to *not* port; the scalable Spark formulation is the
canonical-edge 3-way self-join, where Catalyst picks the join strategy and
AQE handles skew:

    und(a,b):  a < b, distinct           (canonical undirected edges)
    triangles = und e1 ⋈ e2 on (e1.b = e2.a) ⋈ e3 on (e3.a = e1.a, e3.b = e2.b)

Each (a<b<c) triangle is counted exactly once. Global count matches the
reference's final ``Σ vertex values`` answer (algorithms.h:189-194).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from gmr_spark.graph import PropertyGraph

# Closure-probe strategy gate (round 5). The wedge stream (e1 ⋈ e2) is
# O(Σ deg²) rows and the closing-edge probe is the one place it would
# shuffle. When the canonical edge set is SMALL the probe becomes a
# map-side broadcast SEMI join on an EXACT single-long edge encoding
# ((a-lo)*W + (b-lo), injective, no hash collisions) and the wedge stream
# never leaves the mapper — the win case is skewed graphs (hub_tri class)
# where Σ deg² ≫ |E| amplifies the wedge stream to billions of rows off a
# cache-resident edge set. The cap is MEASURED, not guessed (round-5
# truss-shaped A/B sweep): at 210k edges broadcast halves the query
# (14.2 → 7.6 s), at 510k they tie (8.5 vs 8.6 s), and from ~3M up the
# shuffle probe wins outright (3M: 16.7 vs 14.5 s; 14.4M: 39.3 vs 30.4 s;
# regular 25.2M chord-ring: 32.2 vs 23.6 s) — once the probe map outgrows
# cache, per-partition shuffle-build maps beat it, and the broadcast also
# pays a stats pass + driver collect + single-thread map build. Above the
# cap the probe falls back to the pinned shuffle_hash join, which is also
# the only shape that works at true 100 TB edge scale (the gate must never
# hint-force a broadcast Catalyst would have to die on — the round-4 G2
# estimate trap; a 110M-entry relation aborts on the 8 GiB broadcast cap).
_CLOSURE_BROADCAST_MAX_EDGES = 500_000
# (hi-lo+1) beyond which (a-lo)*W+(b-lo) would overflow int64: W² < 2^63
_ENC_MAX_SPAN = 3_037_000_498


def canonical_undirected(edges: DataFrame) -> DataFrame:
    """(a BIGINT, b BIGINT) with a < b, exact-duplicate-free."""
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
    )


def undirected_degrees(und: DataFrame) -> DataFrame:
    """(id BIGINT, degree BIGINT) over a canonical edge set (a < b) — the
    shared degree derivation for local_clustering / graph statistics /
    assortativity (one shape, one place to fix; isolated vertices are
    absent by construction, callers left-join vertices if dense output is
    needed)."""
    return (
        und.select(F.col("a").alias("id"))
        .unionAll(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )


def _closure_stats(und: DataFrame) -> tuple[int, int, int]:
    """One aggregate pass over the canonical edge set: (n_edges, lo, hi).
    lo/hi bound every endpoint (a is the min end, b the max end of each
    canonical edge, so min(a)/max(b) bound both columns)."""
    row = und.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("a").alias("lo"),
        F.max("b").alias("hi"),
    ).first()
    return int(row.n or 0), int(row.lo or 0), int(row.hi or 0)


def closed_triangles(
    und: DataFrame,
    *,
    stats: tuple[int, int, int] | None = None,
    closure_broadcast_max_edges: int | None = None,
) -> DataFrame:
    """-> (va, vb, vc) with va < vb < vc, one row per distinct triangle of
    the canonical edge set ``und(a, b)``.

    Wedge join (e1 ⋈ e2 on e1.b = e2.a) then the closing-edge probe, with
    the probe shape picked adaptively (see _CLOSURE_BROADCAST_MAX_EDGES):

    - broadcast path: und re-encoded as single longs, LEFT SEMI broadcast
      join on ``(va-lo)*W + (vc-lo)`` — exact (injective encoding, not a
      hash), zero wedge shuffle;
    - fallback: shuffle_hash-hinted equi-join on (va, vc). The explicit hint
      matters: und sits behind distinct-over-checkpoint plans whose sizes
      Catalyst cannot see, and the un-hinted broadcast mis-plan aborts at G2
      scale (the checkpoint estimate trap that plans/loop.pin guards).
      Shuffle-hash is also the right fallback shape: no sort of the
      multi-billion-row wedge stream (SMJ would sort it).

    ``stats`` lets iterative callers (k_truss) reuse a count they already
    paid for; when absent one aggregate pass computes it.
    """
    cap = (_CLOSURE_BROADCAST_MAX_EDGES if closure_broadcast_max_edges is None
           else closure_broadcast_max_edges)
    e1, e2 = und.alias("e1"), und.alias("e2")
    wedges = (
        e1.join(e2.hint("shuffle_hash"), F.col("e1.b") == F.col("e2.a"))
        .select(F.col("e1.a").alias("va"), F.col("e1.b").alias("vb"),
                F.col("e2.b").alias("vc"))
    )
    if cap > 0:
        n, lo, hi = _closure_stats(und) if stats is None else stats
        span = hi - lo + 1
        if 0 < n <= cap and span <= _ENC_MAX_SPAN:
            w = F.lit(span)
            off = F.lit(lo)
            enc = und.select(
                ((F.col("a") - off) * w + (F.col("b") - off)).alias("ec"))
            return wedges.join(
                F.broadcast(enc),
                (F.col("va") - off) * w + (F.col("vc") - off) == F.col("ec"),
                "left_semi",
            )
    e3 = und.alias("e3")
    return wedges.join(
        e3.hint("shuffle_hash"),
        (F.col("e3.a") == F.col("va")) & (F.col("e3.b") == F.col("vc")),
        "left_semi",
    )


def triangle_count(
    graph: PropertyGraph,
    *,
    closure_broadcast_max_edges: int | None = None,
) -> DataFrame:
    """-> single row (tri_cnt BIGINT): number of distinct triangles a<b<c.
    Wedge join + adaptive closing-edge probe — see ``closed_triangles`` for
    the strategy gate and the G2 estimate-trap rationale.

    The edge set stays LAZY here on measurement: within this single
    count, Spark reuses the distinct's exchange across the self-join
    sides, and an eager checkpoint of the 110M-edge set at G2 only added
    materialization + block-memory pressure to a spill-bound job (702.3 s
    vs 557.8 s). Contrast local_clustering / triangle_count_per_vertex,
    where subtrees referenced across SEPARATE union branches measurably do
    re-run and a checkpoint wins."""
    und = canonical_undirected(graph.edges)
    tri = closed_triangles(
        und, closure_broadcast_max_edges=closure_broadcast_max_edges)
    return tri.agg(F.count(F.lit(1)).alias("tri_cnt"))


def triangle_count_reference_semantics(graph: PropertyGraph) -> DataFrame:
    """The reference's own TriangleCount formulation (algorithms.h:117-195),
    re-expressed declaratively — kept as the semantics witness for the
    join-based operator above and as the demo of the reference's composite-
    key + list-valued KV surface (``KV{key, skey, value, svalue}``,
    gmr.h:37-44):

    - superstep-1 map: every vertex v sends, for each neighbor u, the key
      ``(min(v,u), max(v,u))`` carrying v's whole adjacency list
      (algorithms.h:132-147) → here: adjacency = ``collect_set`` (the
      svalue), key = canonical edge (the key/skey pair);
    - reduce on groups with exactly 2 entries — i.e. the edge exists in both
      directions (algorithms.h:156) — counts common neighbors c with
      c > max(a,b) (algorithms.h:158-166) → here: ``array_intersect`` +
      ``filter`` + ``size``;
    - final answer = Σ over groups (the reference accumulates onto vertex a
      then sums all vertex values, algorithms.h:189-194).

    SURVEY §4 flags the O(Σ deg²) adjacency shipping as the one reference
    design not to scale; this stays the test-oracle twin while
    ``triangle_count`` is the production path.
    """
    adj = graph.edges.filter(F.col("src") != F.col("dst")).groupBy(
        F.col("src").alias("v")
    ).agg(F.collect_set("dst").alias("nbrs"))
    e = graph.edges.filter(F.col("src") != F.col("dst")).select(
        "src", "dst",
        F.least("src", "dst").alias("key"),
        F.greatest("src", "dst").alias("skey"),
    )
    msgs = e.join(adj, e.src == adj.v).select("key", "skey", "src", "nbrs")
    groups = msgs.groupBy("key", "skey").agg(
        F.count(F.lit(1)).alias("n_entries"),
        F.collect_list("nbrs").alias("svalue"),
    )
    per_edge = groups.filter(F.col("n_entries") == 2).select(
        "key", "skey",
        F.size(
            F.filter(
                F.array_intersect(F.col("svalue")[0], F.col("svalue")[1]),
                lambda c: c > F.col("skey"),
            )
        ).alias("tri"),
    )
    return per_edge.agg(F.sum("tri").cast("long").alias("tri_cnt"))


def local_clustering(graph: PropertyGraph) -> DataFrame:
    """-> (id BIGINT, degree BIGINT, tri_cnt BIGINT, lcc DOUBLE): local
    clustering coefficient 2·T(v) / (d(v)·(d(v)−1)) over the canonical
    undirected graph, 0.0 where d < 2, rounded to 6 places for cross-engine
    compare. GraphX-roadmap surface (reference algorithms.h:217-222):
    composition of the per-vertex triangle join with an undirected degree
    aggregation — two shuffles total (the triangle join's and the degree
    groupBy's), both on vertex id, so AQE coalesces them onto one
    partitioning; no Python anywhere.

    The canonical edge set is localCheckpointed ONCE and shared by the
    degree aggregation, the wedge join, the closure probe and its stats
    pass: the distinct-over-edges subtree appears 5x in the lazy plan and
    measured plans show Catalyst does NOT ReuseExchange it across the
    branches — at scale that is 5 full edge shuffles vs 1. The checkpoint's
    blocks live until the session drops them (same ownership shape as
    k_truss's returned frame)."""
    # closure stats (count + id bounds for the broadcast-probe gate) ride
    # the checkpoint's materializing job as an Observation (r14) — the
    # separate _closure_stats agg inside closed_triangles was one extra job
    from pyspark.sql import Observation

    obs = Observation()
    und = (canonical_undirected(graph.edges)
           .observe(obs, F.count(F.lit(1)).alias("n"),
                    F.min("a").alias("lo"), F.max("b").alias("hi"))
           .localCheckpoint(eager=True))
    _s = obs.get
    stats = (int(_s["n"] or 0), int(_s["lo"] or 0), int(_s["hi"] or 0))
    deg = undirected_degrees(und)
    tri = triangle_count_per_vertex(graph, und=und, stats=stats)
    return (
        deg.join(tri, "id", "left")
        .select(
            "id",
            "degree",
            F.coalesce(F.col("tri_cnt"), F.lit(0)).alias("tri_cnt"),
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    2.0 * F.coalesce(F.col("tri_cnt"), F.lit(0))
                    / (F.col("degree") * (F.col("degree") - F.lit(1))),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("lcc"),
        )
    )


def triangle_count_per_vertex(graph: PropertyGraph,
                              und: DataFrame | None = None,
                              stats: tuple[int, int, int] | None = None
                              ) -> DataFrame:
    """-> (id BIGINT, tri_cnt BIGINT): triangles incident to each vertex
    (each triangle counted once per member vertex). Vertices in no triangle
    are omitted (join semantics) — callers left-join against vertices if a
    dense output is needed. ``und`` lets local_clustering pass its shared
    (checkpointed) canonical edge set instead of re-deriving it, and
    ``stats`` forwards a closure census the caller already paid for
    (``closed_triangles``' reuse contract).

    ``tri`` is localCheckpointed: the member union references it three
    times and those branches are NOT exchange-reused (same finding as
    local_clustering's shared edge set), so without the checkpoint the
    whole wedge join + closure probe runs three times. The triangle list
    is output-sized (≪ wedges), so materializing it once is cheap at any
    scale."""
    if und is None:
        und = canonical_undirected(graph.edges)
    tri = closed_triangles(und, stats=stats).localCheckpoint(eager=True)
    members = (
        tri.select(F.col("va").alias("id"))
        .unionAll(tri.select(F.col("vb").alias("id")))
        .unionAll(tri.select(F.col("vc").alias("id")))
    )
    return members.groupBy("id").agg(F.count(F.lit(1)).alias("tri_cnt"))


def k_truss(graph: PropertyGraph, k: int, max_iter: int = 30) -> DataFrame:
    """-> (a BIGINT, b BIGINT, support BIGINT): edges of the k-truss — the
    maximal subgraph where every edge participates in >= k-2 triangles —
    with each surviving edge's in-truss support. The triangle analog of
    k-core (GraphX-roadmap family, reference algorithms.h:217-222):
    repeatedly count per-edge triangle support on the surviving edge set
    and drop edges below threshold, to fixpoint.

    Scale shape: each peel round is the same wedge join + adaptive
    closing-edge probe as ``triangle_count`` (``closed_triangles`` — the
    G2 estimate trap applies doubly here since the edge set shrinks each
    round and stats are stale, so the fallback stays shuffle_hash-pinned;
    the shrinking set also means later rounds flip to the zero-shuffle
    broadcast probe) plus one groupBy on the canonical edge key; rounds are
    bounded by the truss peel depth. Per-round localCheckpoint truncates
    lineage exactly like k_core's.

    Raises if the fixpoint is not reached within ``max_iter`` (declared-
    query convergence contract, same as k_core)."""
    if k < 2:
        raise ValueError(f"k_truss requires k >= 2, got {k}")
    from gmr_spark.plans.loop import LoopScope

    min_support = k - 2
    with LoopScope(graph.edges.sparkSession) as loop:
        # `ckpt` is the ONE eager checkpoint per round; `edges` is a lazy
        # projection over it. The opening closure stats (count + id bounds)
        # ride its materializing job as an Observation.
        ckpt, t_stats = loop.checkpoint((
            canonical_undirected(graph.edges),
            {"n": F.count(F.lit(1)), "lo": F.min("a"), "hi": F.max("b")}))
        edges = ckpt
        # id bounds computed once up front (peeling only removes edges,
        # never widens the range) — each round then reuses them plus the
        # count it already pays, so the adaptive closure probe costs no
        # extra pass and flips to the broadcast path as the edge set
        # shrinks. One exception: if the INITIAL span exceeds the
        # injective-encoding limit, stale bounds would keep the probe
        # locked out even after peeling shrinks the span — so the bounds
        # are recomputed (one tiny agg on the already-small surviving set)
        # the first round the edge count drops under the broadcast cap
        # while the cached span still exceeds it.
        n_edges, id_lo, id_hi = t_stats["n"], t_stats["lo"], t_stats["hi"]
        loop.rows(n_edges)
        for _ in range(max_iter):
            if n_edges == 0:
                # the (empty) result still reads through the live checkpoint
                loop.keep(ckpt)
                return edges.select(
                    "a", "b", F.lit(0).cast("bigint").alias("support"))
            tri = closed_triangles(edges, stats=(n_edges, id_lo, id_hi))
            # each triangle (va<vb<vc) supports its 3 member edges
            sup_rows = (
                tri.select(F.col("va").alias("a"), F.col("vb").alias("b"))
                .unionAll(tri.select(F.col("vb").alias("a"), F.col("vc").alias("b")))
                .unionAll(tri.select(F.col("va").alias("a"), F.col("vc").alias("b")))
            )
            support = sup_rows.groupBy("a", "b").agg(
                F.count(F.lit(1)).alias("support"))
            nxt, census = loop.checkpoint((
                edges.join(support, ["a", "b"], "left")
                .select("a", "b",
                        F.coalesce("support", F.lit(0)).cast("bigint").alias("support"))
                .filter(F.col("support") >= min_support),
                {"n": F.count(F.lit(1))}))
            loop.release(ckpt)
            if census["n"] == n_edges:
                # no edge dropped -> supports are final in-truss values
                loop.keep(nxt)
                return nxt
            ckpt = nxt
            edges = nxt.select("a", "b")  # lazy over the round's checkpoint
            n_edges = census["n"]
            if (0 < n_edges <= _CLOSURE_BROADCAST_MAX_EDGES
                    and id_hi - id_lo + 1 > _ENC_MAX_SPAN):
                _, id_lo, id_hi = _closure_stats(edges)

        raise AssertionError(
            f"k_truss(k={k}) did not reach the peeling fixpoint within "
            f"{max_iter} rounds — raise max_iter (and the oracle unroll K)"
        )
