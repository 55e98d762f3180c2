"""Property tests (SURVEY §5.4): random small digraphs, invariants checked
against pure-Python brute force. Few examples on purpose — each example is a
full Spark job."""

from __future__ import annotations

from itertools import combinations

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from gmr_spark.algorithms import connected_components, sssp, triangle_count
from gmr_spark.graph import PropertyGraph

_spark = None


def _get_spark():
    global _spark
    if _spark is None:
        from gmr_spark.session import get_session

        _spark = get_session("gmr_props", cpus=8)
    return _spark


edge_sets = st.sets(
    st.tuples(st.integers(1, 7), st.integers(1, 7)).filter(lambda e: e[0] != e[1]),
    min_size=1, max_size=14,
)



def _r6(x: float) -> float:
    """ROUND(x, 6) with Spark/DuckDB semantics — HALF_UP on the shortest
    decimal repr (Spark's Round wraps BigDecimal.valueOf(double), DuckDB
    rounds half away from zero; positives agree). Python's round() is
    half-EVEN, which diverges exactly on .xxxxxx5 boundaries — hypothesis
    found one (1/128-style ratios) in the dsir brute force."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"),
                                           rounding=ROUND_HALF_UP))


def _graph(edges):
    spark = _get_spark()
    df = spark.createDataFrame(
        [(s, d, 1.0) for s, d in sorted(edges)], "src long, dst long, weight double"
    )
    return PropertyGraph.from_edges(df)


@settings(max_examples=5, deadline=None)
@given(edge_sets)

def test_sssp_is_bfs_distance_on_unit_weights(edges):
    g = _graph(edges)
    got = {r.id: r.dist for r in sssp(g, source=min(min(e) for e in edges)).collect()}
    # python BFS
    src = min(min(e) for e in edges)
    nodes = {v for e in edges for v in e}
    adj: dict[int, set[int]] = {v: set() for v in nodes}
    for s, d in edges:
        adj[s].add(d)
    dist = {src: 0.0}
    frontier = [src]
    while frontier:
        nxt = []
        for u in frontier:
            for v in adj[u]:
                if v not in dist:
                    dist[v] = dist[u] + 1.0
                    nxt.append(v)
        frontier = nxt
    want = {v: dist.get(v) for v in nodes}
    assert got == want


@settings(max_examples=5, deadline=None)
@given(edge_sets)
def test_sssp_triangle_inequality(edges):
    g = _graph(edges)
    src = min(min(e) for e in edges)
    d = {r.id: r.dist for r in sssp(g, source=src).collect()}
    for s, t in edges:
        if d.get(s) is not None:
            assert d.get(t) is not None and d[t] <= d[s] + 1.0


@settings(max_examples=5, deadline=None)
@given(edge_sets)
def test_triangle_count_equals_bruteforce(edges):
    g = _graph(edges)
    got = triangle_count(g).first().tri_cnt
    und = {frozenset(e) for e in edges}
    nodes = sorted({v for e in edges for v in e})
    want = sum(
        1 for a, b, c in combinations(nodes, 3)
        if {frozenset((a, b)), frozenset((b, c)), frozenset((a, c))} <= und
    )
    assert got == want


@settings(max_examples=5, deadline=None)
@given(edge_sets)
def test_triangle_closure_strategies_agree(edges):
    """Both closing-edge probe shapes of closed_triangles (broadcast long
    encoding vs shuffle_hash fallback) count identically on random
    digraphs — the strategy gate must be semantically invisible."""
    g = _graph(edges)
    via_bcast = triangle_count(
        g, closure_broadcast_max_edges=10**9).first().tri_cnt
    via_shuffle = triangle_count(
        g, closure_broadcast_max_edges=0).first().tri_cnt
    assert via_bcast == via_shuffle


@settings(max_examples=5, deadline=None)
@given(edge_sets)
def test_cc_matches_union_find(edges):
    g = _graph(edges)
    got = {r.id: r.component for r in connected_components(g).collect()}
    nodes = {v for e in edges for v in e}
    parent = {v: v for v in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        parent[find(s)] = find(d)
    roots = {v: find(v) for v in nodes}
    want = {v: min(u for u in nodes if roots[u] == roots[v]) for v in nodes}
    assert got == want


@settings(max_examples=5, deadline=None)
@given(edge_sets)
def test_reference_tc_semantics_equals_join_formulation(edges):
    from gmr_spark.algorithms.triangles import triangle_count_reference_semantics

    g = _graph(edges)
    join_based = triangle_count(g).first().tri_cnt
    faithful = triangle_count_reference_semantics(g).first().tri_cnt or 0
    # the reference counts a triangle only when each of its edges exists in
    # BOTH directions (algorithms.h:156); on symmetric inputs the two agree
    sym = {(s, d) for s, d in edges} | {(d, s) for s, d in edges}
    g_sym = _graph(sym)
    assert (triangle_count_reference_semantics(g_sym).first().tri_cnt or 0) == \
        triangle_count(g_sym).first().tri_cnt
    # on arbitrary directed inputs the faithful count is a lower bound
    assert faithful <= join_based


@settings(max_examples=5, deadline=None)
@given(edge_sets)
def test_scc_matches_tarjan(edges):
    from gmr_spark.algorithms import strongly_connected_components

    g = _graph(edges)
    got = {r.id: r.scc for r in strongly_connected_components(g).collect()}

    nodes = sorted({v for e in edges for v in e})
    adj = {v: [] for v in nodes}
    for s, d in edges:
        adj[s].append(d)
    # iterative tarjan
    index = {}
    low = {}
    on_stack = set()
    stack = []
    sccs = []
    counter = [0]
    for root in nodes:
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                sccs.append(comp)
            work.pop()
            if work:
                u, _ = work[-1]
                low[u] = min(low[u], low[v])
    want = {}
    for comp in sccs:
        m = min(comp)
        for v in comp:
            want[v] = m
    assert got == want


weighted_edge_sets = st.sets(
    st.tuples(st.integers(1, 8), st.integers(1, 8)).filter(lambda e: e[0] != e[1]),
    min_size=1, max_size=16,
).map(lambda es: {(s, d, float(1 + (s * 3 + d * 5) % 7)) for s, d in es})


@settings(max_examples=5, deadline=None)
@given(weighted_edge_sets)
def test_boruvka_msf_matches_kruskal(edges):
    """Under the strict edge order (w, a, b) the MSF is unique, so Borůvka
    (engine) must equal Kruskal (pure-Python union-find)."""
    from gmr_spark.algorithms import minimum_spanning_forest

    spark = _get_spark()
    df = spark.createDataFrame(sorted(edges), "src long, dst long, weight double")
    g = PropertyGraph.from_edges(df)
    got = sorted(
        (r.src, r.dst, r.weight) for r in minimum_spanning_forest(g).collect()
    )

    canon: dict[tuple[int, int], float] = {}
    for s, d, w in edges:
        a, b = min(s, d), max(s, d)
        canon[(a, b)] = min(w, canon.get((a, b), float("inf")))
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    want = []
    for (a, b), w in sorted(canon.items(), key=lambda kv: (kv[1], kv[0])):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            want.append((a, b, w))
    assert got == sorted(want)


def test_bucket_cap_bounds_adversarial_bucket():
    """Adversarial all-same-sign corpus: every vector lands in ONE sign-LSH
    bucket. With the cap, candidate groups are bounded by ~cap: the split
    into ceil(n/cap) sub-buckets means no (bucket, sub) group exceeds
    ceil(n / n_sub) rows, so the candidate join can never go quadratic."""
    from gmr_spark.operators.similarity import split_oversized_buckets

    spark = _get_spark()
    n, cap = 100, 8
    vecs = spark.range(n).select(
        F.col("id"), F.lit(7).cast("bigint").alias("bucket")
    )
    sub = split_oversized_buckets(vecs, cap=cap)
    group_sizes = [
        r.c for r in sub.groupBy("bucket", "sub").agg(
            F.count(F.lit(1)).alias("c")).collect()
    ]
    n_sub = -(-n // cap)  # ceil
    assert len(group_sizes) == n_sub
    # id % n_sub spreads evenly: every group within ceil(n/n_sub)
    assert max(group_sizes) <= -(-n // n_sub)
    # candidate pairs are bounded by n_sub * max_group^2, far under n^2
    assert sum(c * c for c in group_sizes) <= n_sub * (-(-n // n_sub)) ** 2 < n * n

    # and a corpus under the cap is passed through in one group, unsplit
    small = split_oversized_buckets(
        spark.range(cap).select("id", F.lit(3).cast("bigint").alias("bucket")),
        cap=cap,
    )
    assert small.select("sub").distinct().count() == 1


def test_cc_path_graph_converges_in_log_rounds():
    """Round-3 verdict item 4: pointer jumping makes CC O(log n) rounds, not
    O(diameter). A 10k-vertex PATH is the adversarial case — plain min-label
    propagation needs ~9,999 supersteps; with per-round pointer doubling the
    loop must close in a handful of propagation rounds plus ~log2(n) jump
    joins."""
    from gmr_spark.algorithms.cc import min_label_fixpoint

    spark = _get_spark()
    n = 10_000
    edges = spark.range(n - 1).selectExpr(
        "id AS src", "id + 1 AS dst", "CAST(1.0 AS DOUBLE) AS weight"
    )
    vertices = spark.range(n).select("id")
    g = PropertyGraph(vertices=vertices, edges=edges).undirected()

    labels, stats = min_label_fixpoint(g.vertices, g.edges, max_iter=40)
    assert stats["converged"], stats
    assert labels.filter(F.col("label") != 0).count() == 0
    # ceil(log2(10000)) = 14; allow slack but stay firmly sub-linear
    assert stats["rounds"] <= 16, stats
    assert stats["jump_joins"] <= 64, stats


@settings(max_examples=5, deadline=None)
@given(edge_sets)
def test_kcore_matches_bruteforce_peel(edges):
    from gmr_spark.algorithms import k_core

    g = _graph(edges)
    got = {(r.id, r.core_degree) for r in k_core(g, k=2, max_iter=20).collect()}
    # brute-force peel on the canonical undirected graph
    und = {frozenset(e) for e in edges}
    alive = {v for e in und for v in e}
    while True:
        deg = {v: sum(1 for e in und if v in e and e <= alive) for v in alive}
        nxt = {v for v in alive if deg[v] >= 2}
        if nxt == alive:
            break
        alive = nxt
    want = {(v, sum(1 for e in und if v in e and e <= alive)) for v in alive}
    assert got == want


@settings(max_examples=5, deadline=None)
@given(edge_sets)
def test_local_clustering_matches_bruteforce(edges):
    from gmr_spark.algorithms import local_clustering

    g = _graph(edges)
    got = {r.id: (r.degree, r.tri_cnt, r.lcc) for r in local_clustering(g).collect()}
    und = {frozenset(e) for e in edges}
    nodes = {v for e in und for v in e}
    nbrs = {v: {u for e in und if v in e for u in e if u != v} for v in nodes}
    for v in nodes:
        d = len(nbrs[v])
        t = sum(1 for a, b in combinations(sorted(nbrs[v]), 2)
                if frozenset((a, b)) in und)
        lcc = _r6(2.0 * t / (d * (d - 1))) if d >= 2 else 0.0
        assert got[v] == (d, t, lcc), (v, got[v], (d, t, lcc))
    assert set(got) == nodes


@settings(max_examples=5, deadline=None)
@given(edge_sets)
def test_ktruss_matches_bruteforce_peel(edges):
    from gmr_spark.algorithms import k_truss

    g = _graph(edges)
    got = {(r.a, r.b, r.support) for r in k_truss(g, k=3, max_iter=20).collect()}
    # brute-force truss peel on canonical undirected edges
    und = {(min(e), max(e)) for e in edges}

    def supports(es):
        sup = {e: 0 for e in es}
        for a, b in es:
            for c in {v for e2 in es for v in e2}:
                if c > b and (b, c) in es and (a, c) in es:
                    for e in ((a, b), (b, c), (a, c)):
                        sup[e] += 1
        return sup

    cur = set(und)
    while True:
        sup = supports(cur)
        nxt = {e for e in cur if sup[e] >= 1}
        if nxt == cur:
            break
        cur = nxt
    want = {(a, b, supports(cur)[(a, b)]) for a, b in cur}
    assert got == want


@settings(max_examples=4, deadline=None)
@given(edge_sets)
def test_multi_landmark_equals_per_landmark_bfs(edges):
    """shortest_paths (single Pregel pass, per-landmark state columns) must
    agree slot-by-slot with a pure-Python BFS from each landmark — including
    NULL for unreachable — on random digraphs."""
    from collections import deque

    from gmr_spark.algorithms.sssp import shortest_paths

    g = _graph(edges)
    nodes = sorted({v for e in edges for v in e})
    landmarks = nodes[:3]
    got = {
        r.id: tuple(r[f"dist_l{i}"] for i in range(len(landmarks)))
        for r in shortest_paths(g, landmarks).collect()
    }
    adj: dict[int, set[int]] = {v: set() for v in nodes}
    for s, d in edges:
        adj[s].add(d)
    for i, src in enumerate(landmarks):
        dist = {src: 0.0}
        q = deque([src])
        while q:
            u = q.popleft()
            for w in adj[u]:
                if w not in dist:
                    dist[w] = dist[u] + 1.0
                    q.append(w)
        for v in nodes:
            assert got[v][i] == dist.get(v), (v, i, landmarks, sorted(edges))


# random tiny corpora over a 4-word vocabulary: dense window collisions,
# exercising short docs (< window), whole-doc duplicates, and partial overlap
word = st.sampled_from(["aa", "bb", "cc", "dd"])
corpora = st.lists(
    st.lists(word, min_size=0, max_size=7).map(" ".join),
    min_size=1, max_size=6,
)


@settings(max_examples=5, deadline=None)
@given(corpora)
def test_dedup_substring_matches_bruteforce(texts):
    """ExactSubstr over random corpora equals the brute-force definition:
    a window position is duplicated iff its exact W-word string occurs in
    >= 2 distinct documents (window W=3 to get collisions at this size)."""
    from collections import Counter

    from gmr_spark.operators.dedup import dedup_substring_frame

    W = 3
    spark = _get_spark()
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")
    got = {r.doc_id: r for r in dedup_substring_frame(docs, window=W).collect()}

    toks = [t.split() for t in texts]
    wins = [[" ".join(ts[i:i + W]) for i in range(len(ts) - W + 1)]
            for ts in toks]
    docs_per_key = Counter()
    for ws in wins:
        for k in set(ws):
            docs_per_key[k] += 1
    assert len(got) == len(texts)
    for d, ws in enumerate(wins):
        dup = [w for w in ws if docs_per_key[w] >= 2]
        assert got[d].n_windows == len(ws)
        assert got[d].n_dup_windows == len(dup)
        assert got[d].max_docs_sharing == max(
            (docs_per_key[w] for w in dup), default=0)
        assert got[d].keep == (not dup)
        want_frac = _r6(len(dup) / len(ws)) if ws else 0.0
        assert abs(got[d].dup_frac - want_frac) < 1e-9


# random (lang, text) corpora: a 3-word target vocabulary and a partially
# overlapping 3-word background vocabulary, docs 0-5 words long — exercising
# empty target slices, <2-token docs (no bigrams), and shared buckets
_dsir_word = st.sampled_from(["aa", "bb", "cc", "dd", "ee"])
_dsir_corpora = st.lists(
    st.tuples(st.sampled_from(["en", "xx"]),
              st.lists(_dsir_word, min_size=0, max_size=5).map(" ".join)),
    min_size=1, max_size=8,
)


@settings(max_examples=5, deadline=None)
@given(_dsir_corpora)
def test_dsir_matches_bruteforce(rows):
    """dsir_frame over random corpora equals the brute-force definition:
    bucket = int(md5(bigram)[:2], 16); smoothed rational ratio
    ((ct+1)/(cr+1)) * ((Tr+B)/(Tt+B)); doc score = count-weighted mean of
    its buckets' ratios, ROUND 6; top-k by (score desc, doc_id)."""
    import hashlib
    from collections import Counter

    from gmr_spark.operators.text_analysis import dsir_frame

    B = 256
    spark = _get_spark()
    docs = spark.createDataFrame(
        [(i, lang, text) for i, (lang, text) in enumerate(rows)],
        "doc_id long, lang string, text string")
    got = {r.doc_id: r for r in dsir_frame(docs, k=16).collect()}

    def buckets(text):
        toks = [t for t in text.split(" ") if t]
        return [int(hashlib.md5(f"{a} {b}".encode()).hexdigest()[:2], 16)
                for a, b in zip(toks, toks[1:])]

    cr, ct = Counter(), Counter()
    tr = tt = 0.0
    per_doc = {}
    for i, (lang, text) in enumerate(rows):
        bs = buckets(text)
        per_doc[i] = Counter(bs)
        cr.update(bs)
        tr += len(bs)
        if lang == "en":
            ct.update(bs)
            tt += len(bs)
    want = []
    for i, cnts in per_doc.items():
        if not cnts:
            continue  # <2 tokens: no features, excluded from the ranking
        num = sum(c * (((ct[b] + 1.0) / (cr[b] + 1.0))
                       * ((tr + B) / (tt + B))) for b, c in cnts.items())
        n = sum(cnts.values())
        want.append((_r6(num / n), i, n))
    want.sort(key=lambda x: (-x[0], x[1]))
    want = want[:16]
    assert set(got) == {i for _, i, _ in want}
    for rnk, (score, i, n) in enumerate(want, start=1):
        assert got[i].rnk == rnk, (i, got[i], want)
        assert got[i].n_feats == n
        assert abs(got[i].score - score) < 1e-9, (i, got[i].score, score)


@given(st.lists(st.integers(-50, 50), min_size=1, max_size=40),
       st.integers(1, 6))
@settings(max_examples=8, deadline=None)
def test_global_rank_matches_bruteforce_total_order(values, n_parts):
    """global_rank (the sample-sort core) on random value lists with
    duplicates, across arbitrary partition counts: rank must equal the
    1-based position in the fully-sorted (value, id) order — including
    n_parts > n_rows (empty range partitions must not break the offset
    chain)."""
    from gmr_spark.operators.relational import global_rank

    spark = _get_spark()
    rows = [(i, v) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "id long, value long")
    got = {r.id: r.rnk for r in global_rank(df, n_parts, "value", "id").collect()}
    want = {i: pos + 1 for pos, (v, i) in
            enumerate(sorted((v, i) for i, v in rows))}
    assert got == want


def test_global_rank_rejects_reserved_column_names():
    """Round-9 ADVICE item 4: global_rank adds-then-drops _pid/_rn/_offset
    and writes rnk, so an input already carrying any of those names would
    be silently corrupted — the shared public helper must reject it."""
    import pytest

    from gmr_spark.operators.relational import global_rank

    spark = _get_spark()
    for bad in ("_pid", "_rn", "_offset", "rnk"):
        df = spark.createDataFrame([(1, 2)], f"value long, {bad} long")
        with pytest.raises(ValueError, match="reserved"):
            global_rank(df, 2, "value")
    # round-10 ADVICE item 2: Spark resolves columns case-insensitively by
    # default, so the guard must cover the same namespace — 'Rnk'/'_PID'
    # used to bypass it and still be clobbered by withColumn
    for bad in ("Rnk", "_PID", "_Offset"):
        df = spark.createDataFrame([(1, 2)], f"value long, `{bad}` long")
        with pytest.raises(ValueError, match="reserved"):
            global_rank(df, 2, "value")
    # under spark.sql.caseSensitive=true, 'Rnk' IS a distinct name and
    # must pass (the guard tracks the engine's resolution mode)
    spark.conf.set("spark.sql.caseSensitive", "true")
    try:
        df = spark.createDataFrame([(1, 2)], "value long, `Rnk` long")
        out = global_rank(df, 2, "value")
        assert set(out.columns) == {"value", "Rnk", "rnk"}
        assert out.count() == 1
    finally:
        spark.conf.unset("spark.sql.caseSensitive")
