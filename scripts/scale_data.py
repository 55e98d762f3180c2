"""Deterministic generators for the scale families in ``scripts/scale.py``.

Every generator is a function of its arguments alone: none reads an
outside setting or keeps state between calls, so a test builds the same
data at toy size that a full-size row builds at scale. Graphs come from
``spark.range`` arithmetic; corpora, events and TPC-H tables are written
as parquet under a directory the caller names.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from contextlib import contextmanager

from pyspark.sql import functions as F

from gmr_spark.graph import PropertyGraph

G2_VERTICES = 4_800_000  # soc-LiveJournal1's size class (BASELINE.md G2)


def log(msg: str) -> None:
    """Progress line on stderr; stdout carries only the JSON row."""
    print(msg, file=sys.stderr)


@contextmanager
def timed(timings: dict, name: str):
    """Record the block's wall time in ``timings[name]`` (seconds, 0.1)."""
    t0 = time.perf_counter()
    yield
    timings[name] = round(time.perf_counter() - t0, 1)


def fresh_dir(path: str) -> str:
    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path)
    return path


# ---- graphs ---------------------------------------------------------------


def ring_chords(spark, n: int, *, block: int | None = None, offsets=None,
                first_id: int = 0):
    """Edges (src, dst, off) of n // block disjoint rings of ``block``
    vertices (default: one ring of n) with a chord at every offset:
    dst = ring start + (id - ring start + off) mod block.

    The default offsets are every power of two below the ring size. Any
    forward distance then has a binary decomposition into them, so the
    diameter is at most about log2(block); a truncated ladder degrades to
    block / 2^max linear hops. ``first_id`` shifts every id (1 for the
    graph-file writer's 1-based contract)."""
    block = block or n
    if offsets is None:
        offsets = [2 ** j for j in range(max(1, (block - 1).bit_length()))]
    start = F.col("id") - F.pmod(F.col("id"), F.lit(block))
    dst = start + F.pmod(F.col("id") - start + F.col("off"), F.lit(block))
    return (
        spark.range(n)
        .select("id", F.explode(F.array(*[F.lit(int(o)) for o in offsets]))
                .alias("off"))
        .select((F.col("id") + first_id).alias("src"),
                (dst + first_id).alias("dst"), "off")
    )


def as_graph(spark, edges, vertices) -> PropertyGraph:
    """A PropertyGraph over ``edges`` (src, dst[, weight]; weight 1.0 when
    absent), hash-partitioned on src and checkpointed once so the timed
    call reads a leaf. ``vertices`` is a count (ids 0..n-1, known by
    construction: no distinct over 2|E| endpoints) or a frame with ``id``."""
    if "weight" not in edges.columns:
        edges = edges.withColumn("weight", F.lit(1.0))
    n_parts = spark.sparkContext.defaultParallelism * 2
    edges = (edges.select("src", "dst", "weight")
             .repartition(n_parts, "src").localCheckpoint(eager=True))
    if isinstance(vertices, int):
        vertices = spark.range(vertices)
    return PropertyGraph(
        vertices=vertices.select("id").localCheckpoint(eager=True),
        edges=edges)


def hub_spokes(spark, n: int):
    """The hub_tri-shaped k-truss graph: spokes 1000..1000+n-1 on a ring
    with +1 and +2 chords, each spoke also tied to one of hubs 0-5 (half
    to hub 0, a quarter to hub 1, ...). Its 3-truss is exactly the ring,
    the +2 chords and hub 0's edges (2.5n edges): hub 1-5 edges sit only
    in open wedges and peel in round one."""
    rid = F.col("id")
    hub = (F.when(rid % 2 == 0, 0).when(rid % 4 == 1, 1).when(rid % 8 == 3, 2)
           .when(rid % 16 == 7, 3).when(rid % 32 == 15, 4).otherwise(5))
    spoke = F.lit(1000) + rid
    edges = (spark.range(n).select(spoke.alias("src"),
                                   hub.cast("bigint").alias("dst"))
             .unionAll(spark.range(n).select(
                 spoke.alias("src"), (F.lit(1000) + (rid + 1) % n).alias("dst")))
             .unionAll(spark.range(n).select(
                 spoke.alias("src"), (F.lit(1000) + (rid + 2) % n).alias("dst"))))
    # the exact endpoint set: hubs 0-5 and the spokes, no phantom ids
    vertices = spark.range(6).unionAll(spark.range(1000, 1000 + n))
    return edges, vertices


def hub_ring_edges(spark, hubs: int, leaves: int):
    """Canonical (a < b) edges of the ktruss_skew graph: every hub joined to
    every leaf, plus a path through the leaves. Hubs get the LOWEST ids
    (0..hubs-1), so a hub edge (hub, leaf) has a=hub and e2.a = hub carries
    deg(hub) rows into one hash partition of the wedge join."""
    hub_edges = (
        spark.range(leaves)
        .select(F.explode(F.array(*[F.lit(h) for h in range(hubs)]))
                .alias("a"), (F.col("id") + hubs).alias("b"))
    )
    ring_edges = (
        spark.range(leaves - 1)
        .select((F.col("id") + hubs).alias("a"), (F.col("id") + hubs + 1).alias("b"))
    )
    return hub_edges.unionByName(ring_edges)


def hub_ring_triangles(hubs: int, leaves: int) -> int:
    """Triangles of :func:`hub_ring_edges`: each path edge (leaf i, leaf
    i+1) closes one with every hub. There are no hub–hub edges, so a hub
    pair sharing a leaf is an open wedge, not a triangle."""
    return hubs * (leaves - 1)


def manyscc_edges(spark, v: int, count: int, levels: int):
    """``count`` SCCs of v / count vertices in ``levels`` condensation
    levels. Each SCC is a circulant with 23 chords (the power-of-two ladder
    plus 3·2^j fillers: the G2 per-vertex edge budget without raising the
    diameter; small SCCs get fewer fillers). SCC s of every level but the
    last bridges to SCCs s + per_level and its rotated neighbor in the
    next level: a DAG cone whose ids increase along the condensation
    order, the layout that degenerates raw min-id coloring to one peel per
    phase."""
    b, per_level = v // count, count // levels
    assert v % count == 0 and count % levels == 0
    ladder = [2 ** j for j in range((b - 1).bit_length())]
    fillers = [3 * 2 ** j for j in range(max(0, 23 - len(ladder)))]
    offs = sorted({o for o in ladder + fillers if o < b})
    assert len(offs) >= (b - 1).bit_length()
    intra = ring_chords(spark, v, block=b, offsets=offs).select("src", "dst")
    s = F.col("s")
    sccs = spark.range(count - per_level).select(F.col("id").alias("s"))
    nxt = (s - F.pmod(s, F.lit(per_level)) + per_level
           + F.pmod(F.pmod(s, F.lit(per_level)) + 1, F.lit(per_level)))
    return (intra
            .unionByName(sccs.select((s * b).alias("src"),
                                     ((s + per_level) * b).alias("dst")))
            .unionByName(sccs.select((s * b).alias("src"),
                                     (nxt * b).alias("dst"))))


# ---- the heavy-tail hub graph ------------------------------------------------
#
# Background: a circulant with chord offsets S (every vertex out-degree
# |S|, no dangling vertex), weight 1.0. Hubs 0..99 receive designed
# in-edge sets A_h (weight 2.0): at 4.8M vertices hub 0 gets ~1M in-edges,
# hubs 1-9 ~500k, hubs 10-99 ~100k, scaled by v / 4.8M below that.


def s_offsets(v: int) -> list[int]:
    """S: values ≡ 1 (mod 4) plus three sums ≡ 2 (mod 4) (101+105,
    101+305, 305+1001). Each sum closes triangles with its two addends, so
    the triangle assertion is non-vacuous. The geometric tail stops where
    3·max(S) would reach v."""
    ones = [101, 105, 305, 1001, 2005, 3001, 5005, 7001, 10001, 20005,
            30001, 40001]
    x = 50_001  # 50000·2^j + 1 ≡ 1 (mod 4): 50000 ≡ 0 (mod 16)
    while len(ones) < 17 and 3 * x < v:
        ones.append(x)
        x = (x - 1) * 2 + 1
    return ones + [206, 406, 1306]


def check_s(v: int) -> int:
    """Validate S for v vertices and return T2, the background triangles
    per vertex: #{(a, b) in S², a < b, b - a in S}."""
    s = s_offsets(v)
    assert len(set(s)) == len(s) >= 10
    assert min(s) >= 101, "hub pairs must be non-adjacent"
    assert all(x % 4 != 0 for x in s), "A_h strides are 4"
    assert 3 * max(s) < v, "wrap-around triple guard"
    sset = set(s)
    t2 = sum(1 for i, a in enumerate(s) for b in s[i + 1:]
             if abs(b - a) in sset)
    # no wrap-around triangles: a+b+c == v over all (multi)triples
    assert not any(a + b + c == v for a in s for b in s for c in s)
    return t2


def hub_edges(v: int):
    """numpy (hub_src, hub_dst) with the D2 exclusions applied.

    Triangle cases this construction forecloses (hub edge = undirected pair
    {u, h}, u in A_h):
      {u,u',h}, u,u' in A_h ........ |u-u'| ≡ 0 (mod 4), never in S;
      {u,h,h'} (shared source) ..... needs edge (h,h'): hub ids differ <=99
                                     < min(S), and hubs are never sources;
      {u,h,w}, w = h±s background .. needs |u-w| in S, i.e. u-h in ±s±s' =
                                     D2 — excluded per hub;
      duplicate {u,h} also in the background circulant adds no NEW pair, so
      the undirected triangle census is v·T2 regardless.
    """
    import numpy as np

    s = s_offsets(v)
    d2 = np.asarray(sorted({ds * a + dp * b for a in s for b in s
                            for ds in (1, -1) for dp in (1, -1)}),
                    dtype=np.int64)
    plan = ([(0, 1_000_000)] + [(h, 500_000) for h in range(1, 10)]
            + [(h, 100_000) for h in range(10, 100)])
    # first candidate source id: clear of the hubs, and scaled so the widest
    # A_h's 4-strided span stays inside the id space on small graphs
    source_zone = max(200, v // 24)
    srcs, dsts = [], []
    for h, deg in plan:
        deg = max(1, int(deg * v / G2_VERTICES))
        cand = source_zone + h % 4 + 4 * np.arange(deg, dtype=np.int64)
        assert int(cand[-1]) < v, "source zone overflows the id space"
        keep = cand[~np.isin(cand, (d2 + h) % v)]
        srcs.append(keep)
        dsts.append(np.full(len(keep), h, dtype=np.int64))
    return np.concatenate(srcs), np.concatenate(dsts)


def skew_graph(spark, v: int, scratch: str):
    """(graph, hub_src, hub_dst): the background circulant plus the hub
    edges, shipped to Spark through parquet so the engine reads exactly the
    arrays the numpy oracle uses."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    hub_src, hub_dst = hub_edges(v)
    path = os.path.join(fresh_dir(scratch), "hub_edges.parquet")
    pq.write_table(pa.table({"src": hub_src, "dst": hub_dst}), path)
    bg = ring_chords(spark, v, offsets=s_offsets(v)).select("src", "dst")
    edges = (bg.withColumn("weight", F.lit(1.0))
             .unionByName(spark.read.parquet(path)
                          .select("src", "dst", F.lit(2.0).alias("weight"))))
    return as_graph(spark, edges, v), hub_src, hub_dst


def numpy_pagerank(v: int, hub_src, hub_dst, k: int = 10, d: float = 0.5):
    """Independent oracle with the engine's exact semantics (pagerank.py:
    init 1.0, msg rank/outdeg per DIRECTED edge incl. parallel edges,
    update d*sum + (1-d)/N; every vertex has >= |S| in-edges so the
    keep-prior-value branch never fires)."""
    import numpy as np

    s = s_offsets(v)
    outdeg = np.full(v, len(s), dtype=np.float64)
    outdeg += np.bincount(hub_src, minlength=v)
    rank = np.ones(v, dtype=np.float64)
    for _ in range(k):
        contrib = rank / outdeg
        incoming = np.zeros(v, dtype=np.float64)
        for off in s:
            incoming += np.roll(contrib, off)  # u -> (u+off) % v
        incoming += np.bincount(hub_dst, weights=contrib[hub_src],
                                minlength=v)
        rank = d * incoming + (1.0 - d) / v
    return rank


def rating_edges(spark, users: int, items: int, per_user: int):
    """SVD++ ratings (u, i, r): each user rates ``per_user`` items
    (u*31 + j*1009) mod items, distinct while 1009 * per_user < items, so
    no dedup pass runs; r = (u*7 + i*13) % 5 + 1."""
    assert 1009 * per_user < items, "shrink per_user or grow items"
    return (
        spark.range(users)
        .select(F.col("id").alias("u"),
                F.explode(F.sequence(F.lit(0), F.lit(per_user - 1))).alias("j"))
        .select("u", ((F.col("u") * 31 + F.col("j") * 1009) % items).alias("i"))
        .withColumn("r", ((F.col("u") * 7 + F.col("i") * 13) % 5 + 1)
                    .cast("double"))
    )


def edge_checksum(edges) -> int:
    """Order-invariant content check: sum of xxhash64(src, dst) — identical
    iff the directed edge multiset is identical. Summed in decimal(38,0):
    110M signed-long terms overflow an int64 accumulator (ANSI mode
    rejects), but stay far inside 38 digits."""
    return int(edges.select(
        F.sum(F.xxhash64(F.col("src"), F.col("dst")).cast("decimal(38,0)"))
        .alias("cs")
    ).first().cs)


# ---- corpora, events, tables -------------------------------------------------


def build_corpus(spark, n: int, scratch: str, base_sf: str,
                 noise_milli: int = 5) -> str:
    """An sf_dir at ``scratch`` whose documents and embeddings tables are a
    synthetic n-row corpus; every other table is a symlink into ``base_sf``,
    so the real operators run unchanged by the sf_dir contract.

    Documents: 30-60 words from a 997-word vocabulary by hash arithmetic.
    Every 25th doc-id pair (2k, 2k+1) shares a generator seed and differs
    only in its final word: planted near-duplicates at Jaccard ≈ 0.93-0.97
    that the MinHash-LSH chain must find, invisible to exact dedup.
    Embeddings: the same pairs share a 64-dim base vector; the odd member
    gets ±noise_milli/1000 on every dim (default ±0.005, cosine ≈ 0.9999)."""
    fresh_dir(scratch)
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events"):
        os.symlink(f"{base_sf}/{t}.parquet", f"{scratch}/{t}.parquet")

    pair = F.expr("id DIV 2")
    seed = F.when(pair % 25 == 0, pair * 2).otherwise(F.col("id"))
    n_words = (F.lit(30) + F.pmod(seed, F.lit(30))).cast("int")
    # per-word murmur3 of (seed, j): decorrelated across seeds — a linear
    # congruential index collapses to seed mod 997, making every same-residue
    # doc pair a near-duplicate (measured: ~100-doc accidental clusters ->
    # millions of LSH candidate pairs)
    words = F.transform(
        F.sequence(F.lit(1), n_words),
        lambda j: F.concat(
            F.lit("w"), F.pmod(F.hash(seed, j), F.lit(997)).cast("string")),
    )
    tail = F.when(F.col("id") % 2 == 0, F.lit("alpha")).otherwise(F.lit("beta"))
    # distinct seeds can still emit identical word lists (measured: 100k
    # docs -> 32k distinct texts, giant exact-dup groups -> quadratic LSH
    # buckets); a seed token makes every non-planted doc unique while a
    # planted pair (shared seed) still differs only in its alpha/beta tail
    uniq = F.concat(F.lit("s"), seed.cast("string"))
    text = F.concat_ws(" ", F.concat_ws(" ", words), uniq, tail)
    langs = F.element_at(
        F.array(F.lit("en"), F.lit("en"), F.lit("en"), F.lit("de"),
                F.lit("es"), F.lit("fr")), (F.pmod(F.col("id"), F.lit(6)) + 1).cast("int"))
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        text.alias("text"),
        langs.alias("lang"),
        F.concat(F.lit("src"), F.pmod(F.col("id"), F.lit(20)).cast("string")).alias("source"),
        F.length(text).alias("n_chars"),
    )
    docs.write.mode("overwrite").parquet(f"{scratch}/documents.parquet")

    # At the default noise a sign bit flips only where the base coordinate
    # is within 0.005 of zero (p ≈ 0.5%/dim), so a 16-bit sign-LSH bucket
    # join expects ~(1-0.005)^16 ≈ 92% recall; noise_milli=50 (cosine ≈
    # 0.9988) is where a 16-entry seeded PQ codebook's error starts to show
    dim = F.sequence(F.lit(1), F.lit(64))
    a = int(noise_milli)
    base_coord = lambda d: (F.pmod(F.hash(seed, d), F.lit(2001)) - 1000) / 1000.0  # noqa: E731
    noise = lambda d: F.when(  # noqa: E731
        (pair % 25 == 0) & (F.col("id") % 2 == 1),
        (F.pmod(F.hash(F.col("id"), d, F.lit(7)), F.lit(2 * a + 1)) - a) / 1000.0,
    ).otherwise(F.lit(0.0))
    vec = F.transform(dim, lambda d: (base_coord(d) + noise(d)).cast("float"))
    spark.range(n).select(
        F.col("id").alias("vec_id"), vec.alias("embedding")
    ).write.mode("overwrite").parquet(f"{scratch}/embeddings.parquet")
    return scratch


def build_events(spark, n: int, scratch: str) -> str:
    """n events matching EVENTS_STREAM_SCHEMA over 7 days, range-partitioned
    by ts into 64 parquet files (each a ~2.6 h slice), so the file source's
    batch order roughly follows event time and the watermark advances per
    batch."""
    fresh_dir(scratch)
    span_s = 7 * 86400
    ts = F.expr(
        f"timestampadd(SECOND, CAST(id % {span_s} AS INT), "
        "TIMESTAMP_NTZ '2024-01-01 00:00:00')")
    etype = F.element_at(
        F.array(F.lit("view"), F.lit("view"), F.lit("view"),
                F.lit("click"), F.lit("purchase")),
        (F.pmod(F.col("id"), F.lit(5)) + 1).cast("int"))
    ev = spark.range(n).select(
        F.col("id").alias("event_id"),
        ts.alias("ts"),
        F.pmod(F.col("id"), F.lit(200_000)).alias("user_id"),
        etype.alias("event_type"),
        (F.pmod(F.col("id"), F.lit(1000)) / 10.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    ev.repartitionByRange(64, "ts").write.parquet(f"{scratch}/events.parquet")
    return scratch


def drain(q) -> tuple[float, int, int]:
    """-> (wall_s, total_input_rows, n_batches). processAllAvailable blocks
    until the file source is exhausted."""
    t0 = time.perf_counter()
    q.processAllAvailable()
    wall = time.perf_counter() - t0
    rows = sum(int(p["numInputRows"]) for p in q.recentProgress)
    batches = sum(1 for p in q.recentProgress if int(p["numInputRows"]) > 0)
    q.stop()
    return round(wall, 1), rows, batches


def _h(seed, *cols):
    """Deterministic uniform pseudo-random in [0, 2^63): xxhash64 over the
    row id (plus any extra columns) with a per-column seed literal."""
    return F.abs(F.xxhash64(*cols, F.lit(seed)))


def build_tpch(spark, n_orders: int, scratch: str) -> str:
    """All ten driver tables at ``scratch`` with the driver's schema and
    value domains (columns, types, date ranges, flag/priority/segment/
    brand/type alphabets), from xxhash64-seeded pseudo-randoms: the build
    is deterministic and shuffle-free. customer = orders/10, part =
    orders·2/15, supplier = orders/150. Lineitem fans out 1-7 lines per
    order (avg 4) as the testdata does, so q18's total_qty > 250 HAVING
    keeps its rare-tail selectivity and q21's countDistinct(l_suppkey) > 1
    stays multi-valued."""
    fresh_dir(scratch)

    n_cust = n_orders // 10
    n_part = max(1, n_orders * 2 // 15)
    n_supp = max(1, n_orders // 150)
    pm = lambda seed, n, *cols: F.pmod(_h(seed, *(cols or (F.col("id"),))), F.lit(n))  # noqa: E731
    pick = lambda seed, *vals: F.element_at(  # noqa: E731
        F.array(*[F.lit(v) for v in vals]), (pm(seed, len(vals)) + 1).cast("int"))
    day0 = F.lit("1995-01-01 00:00:00").cast("timestamp")

    def write(df, name, parts):
        df.repartition(parts).write.mode("overwrite").parquet(
            f"{scratch}/{name}.parquet")

    write(spark.range(5).select(
        F.col("id").cast("int").alias("r_regionkey"),
        F.element_at(
            F.array(F.lit("AFRICA"), F.lit("AMERICA"), F.lit("ASIA"),
                    F.lit("EUROPE"), F.lit("MIDDLE EAST")),
            (F.col("id") + 1).cast("int")).alias("r_name")), "region", 1)

    write(spark.range(25).select(
        F.col("id").cast("int").alias("n_nationkey"),
        F.concat(F.lit("NATION_"), F.col("id")).alias("n_name"),
        F.pmod(F.col("id"), F.lit(5)).cast("int").alias("n_regionkey")),
        "nation", 1)

    write(spark.range(n_cust).select(
        F.col("id").alias("c_custkey"),
        F.concat(F.lit("Customer#"), F.lpad(F.col("id").cast("string"), 9, "0")).alias("c_name"),
        pm(11, 25).cast("int").alias("c_nationkey"),
        F.round(pm(12, 1_100_000) / 100.0 - 1000.0, 2).alias("c_acctbal"),
        pick(13, "AUTOMOBILE", "BUILDING", "FURNITURE",
             "HOUSEHOLD", "MACHINERY").alias("c_mktsegment")),
        "customer", 16)

    write(spark.range(n_supp).select(
        F.col("id").alias("s_suppkey"),
        F.concat(F.lit("Supplier#"), F.lpad(F.col("id").cast("string"), 9, "0")).alias("s_name"),
        pm(21, 25).cast("int").alias("s_nationkey"),
        F.round(pm(22, 1_000_000) / 100.0, 2).alias("s_acctbal")),
        "supplier", 4)

    write(spark.range(n_part).select(
        F.col("id").alias("p_partkey"),
        F.concat(
            pick(31, "large", "hot", "blue", "old", "cold",
                 "small", "dark", "pale"),
            F.lit(" "),
            pick(32, "ring", "bolt", "plate", "screw", "washer",
                 "nut", "gear", "axle", "pin", "rod")).alias("p_name"),
        F.concat(F.lit("Brand#"), (pm(33, 25) + 1).cast("string")).alias("p_brand"),
        pick(34, "LARGE", "ECONOMY", "SMALL", "STANDARD",
             "MEDIUM", "PROMO").alias("p_type"),
        (pm(35, 50) + 1).cast("int").alias("p_size"),
        F.round(F.lit(900.0) + pm(36, 10_000_000) / 100.0, 2).alias("p_retailprice")),
        "part", 16)

    write(spark.range(n_orders).select(
        F.col("id").alias("o_orderkey"),
        pm(41, n_cust).alias("o_custkey"),
        pick(42, "F", "O", "P").alias("o_orderstatus"),
        F.round(F.lit(1000.0) + pm(43, 49_900_000) / 100.0, 2).alias("o_totalprice"),
        F.timestamp_add("DAY", pm(44, 2400).cast("int"), day0).alias("o_orderdate"),
        pick(45, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
             "5-LOW").alias("o_orderpriority")),
        "orders", 32)

    ln = F.col("ln")
    li = (
        spark.range(n_orders)
        .select(F.col("id"),
                F.explode(F.sequence(F.lit(1), (pm(51, 7) + 1).cast("int"))).alias("ln"))
        .select(
            F.col("id").alias("l_orderkey"),
            F.pmod(_h(52, F.col("id"), ln), F.lit(n_part)).alias("l_partkey"),
            F.pmod(_h(53, F.col("id"), ln), F.lit(n_supp)).alias("l_suppkey"),
            ln.cast("int").alias("l_linenumber"),
            (F.pmod(_h(54, F.col("id"), ln), F.lit(50)) + 1).cast("double").alias("l_quantity"),
            F.round(F.lit(900.0) + F.pmod(_h(55, F.col("id"), ln), F.lit(10_410_000)) / 100.0, 2).alias("l_extendedprice"),
            (F.pmod(_h(56, F.col("id"), ln), F.lit(11)) / 100.0).alias("l_discount"),
            (F.pmod(_h(57, F.col("id"), ln), F.lit(9)) / 100.0).alias("l_tax"),
            F.element_at(F.array(F.lit("A"), F.lit("N"), F.lit("R")),
                         (F.pmod(_h(58, F.col("id"), ln), F.lit(3)) + 1).cast("int")).alias("l_returnflag"),
            F.element_at(F.array(F.lit("F"), F.lit("O")),
                         (F.pmod(_h(59, F.col("id"), ln), F.lit(2)) + 1).cast("int")).alias("l_linestatus"),
            F.timestamp_add("DAY", (F.pmod(_h(60, F.col("id"), ln), F.lit(2500))).cast("int"),
                            F.lit("1995-01-02 00:00:00").cast("timestamp")).alias("l_shipdate"),
        )
    )
    write(li, "lineitem", 64)

    # tiny non-relational tables so load_tables' full-catalog callers work
    write(spark.range(100).select(
        F.col("id").alias("event_id"),
        F.timestamp_add("SECOND", F.col("id").cast("int"), day0).alias("ts"),
        pm(71, 10).alias("user_id"),
        pick(72, "view", "click", "purchase").alias("event_type"),
        (pm(73, 1000) / 10.0).alias("value"),
        F.lit("{}").alias("props")), "events", 1)
    write(spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.lit("tiny placeholder corpus").alias("text"),
        F.lit("en").alias("lang"), F.lit("src0").alias("source"),
        F.lit(23).cast("long").alias("n_chars")), "documents", 1)
    write(spark.range(10).select(
        F.col("id").alias("doc_id"),
        F.array(*[F.lit(0.1)] * 8).alias("embedding")), "embeddings", 1)
    return scratch
