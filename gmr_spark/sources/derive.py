"""Deterministic graph derivations from the driver's relational tables.

The reference ships graphs as text files (partition.h:183-273); the driver
harness ships TPC-H-ish parquet. To give DuckDB (the correctness oracle) and
Spark byte-identical graph inputs, every derived graph is defined ONCE as an
ANSI-SQL string in the dialect intersection of Spark SQL and DuckDB, and both
engines execute it verbatim (FIXTURES.md §4).

Graphs:
- ``geo``   undirected hierarchy: customer→nation, supplier→nation,
            nation→region (+ reverses). 5 connected components (one per
            region); region ids 0-4 are each component's min id.
- ``cs``    directed bipartite purchase graph customer→supplier from
            orders ⋈ lineitem (FIXTURES.md §4).
- ``ring``  undirected customer ring with +1/+2 chords (every consecutive
            triple is a triangle → exactly |C| triangles). Deterministic
            fixture for triangle counting at any scale factor.
- ``nation_ring`` directed cycle over the nations of each region → one SCC
            per region; also the COO matrix for matmul tests.
- ``nation_mesh`` complete graph over the 25 nations with deterministic
            integer-valued weights 1..10 — a cyclic weighted fixture for the
            minimum-spanning-forest oracle (fixed size at every sf).
- ``linked_lineitems`` one vertex per lineitem row (ring + doubling chord →
            O(log n) diameter): the 100k-1M-vertex class fixture comparable
            to the reference's G1=mdual benchmark graph (BASELINE.md).
- ``hub``   power-law-shaped skew fixture: one spoke vertex per lineitem row
            on a ring, each spoke pointing at one of 6 hub vertices with a
            geometric distribution (hub 0 receives ~50% of all spoke edges,
            hub 1 ~25%, …) and each hub fanning back out to ~n/97 spokes.
            Hub 0's in-degree is ~|lineitem|/2 — the adversarial hot key for
            message aggregation shuffles.

Id spaces are kept disjoint by offsets: region=+0, nation=+100,
supplier=+1_000_000, customer=+2_000_000 (geo) / raw custkey (cs, ring).
"""

from __future__ import annotations

import threading

from pyspark.sql import SparkSession, functions as F

from gmr_spark.graph import PropertyGraph
from gmr_spark.sources.tables import register_views, sf_token as _sf_token

GRAPH_SQL: dict[str, str] = {
    "geo": """
        WITH base AS (
            SELECT CAST(n_nationkey + 100 AS BIGINT) AS src,
                   CAST(n_regionkey AS BIGINT)       AS dst
            FROM nation
            UNION ALL
            SELECT CAST(1000000 + s_suppkey AS BIGINT),
                   CAST(s_nationkey + 100 AS BIGINT)
            FROM supplier
            UNION ALL
            SELECT CAST(2000000 + c_custkey AS BIGINT),
                   CAST(c_nationkey + 100 AS BIGINT)
            FROM customer
        )
        SELECT src, dst, CAST(1.0 AS DOUBLE) AS weight FROM base
        UNION ALL
        SELECT dst AS src, src AS dst, CAST(1.0 AS DOUBLE) AS weight FROM base
    """,
    "cs": """
        SELECT DISTINCT CAST(o.o_custkey AS BIGINT)      AS src,
                        CAST(1000000 + l.l_suppkey AS BIGINT) AS dst,
                        CAST(1.0 AS DOUBLE)              AS weight
        FROM orders o
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    """,
    "ring": """
        WITH c AS (
            SELECT CAST(c_custkey AS BIGINT) AS id,
                   ROW_NUMBER() OVER (ORDER BY c_custkey) - 1 AS pos,
                   COUNT(*) OVER () AS n
            FROM customer
        ), fwd AS (
            SELECT a.id AS src, b.id AS dst
            FROM c a JOIN c b ON b.pos = (a.pos + 1) % a.n
            UNION ALL
            SELECT a.id AS src, b.id AS dst
            FROM c a JOIN c b ON b.pos = (a.pos + 2) % a.n
        )
        SELECT src, dst, CAST(1.0 AS DOUBLE) AS weight FROM fwd
        UNION ALL
        SELECT dst AS src, src AS dst, CAST(1.0 AS DOUBLE) AS weight FROM fwd
    """,
    "cs_weighted": """
        SELECT CAST(o.o_custkey AS BIGINT)            AS src,
               CAST(1000000 + l.l_suppkey AS BIGINT)  AS dst,
               CAST(1 + COUNT(*) % 5 AS DOUBLE)       AS weight
        FROM orders o
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY o.o_custkey, l.l_suppkey
    """,
    "linked_lineitems": """
        WITH base AS (
            SELECT ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS rid,
                   COUNT(*) OVER () AS n
            FROM lineitem
        )
        SELECT CAST(rid AS BIGINT) AS src,
               CAST((rid + 1) % n AS BIGINT) AS dst,
               CAST(1.0 AS DOUBLE) AS weight
        FROM base
        UNION ALL
        SELECT CAST(rid AS BIGINT),
               CAST((2 * rid + 1) % n AS BIGINT),
               CAST(1.0 AS DOUBLE)
        FROM base
    """,
    "hub": """
        WITH base AS (
            SELECT ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS rid,
                   COUNT(*) OVER () AS n
            FROM lineitem
        ), spokes AS (
            SELECT rid, n,
                   CASE WHEN rid % 2 = 0 THEN 0
                        WHEN rid % 4 = 1 THEN 1
                        WHEN rid % 8 = 3 THEN 2
                        WHEN rid % 16 = 7 THEN 3
                        WHEN rid % 32 = 15 THEN 4
                        ELSE 5 END AS hub
            FROM base
        )
        SELECT CAST(1000 + rid AS BIGINT) AS src,
               CAST(hub AS BIGINT)        AS dst,
               CAST(1.0 AS DOUBLE)        AS weight
        FROM spokes
        UNION ALL
        SELECT CAST(1000 + rid AS BIGINT),
               CAST(1000 + (rid + 1) % n AS BIGINT),
               CAST(1.0 AS DOUBLE)
        FROM spokes
        UNION ALL
        SELECT CAST(hub AS BIGINT),
               CAST(1000 + rid AS BIGINT),
               CAST(1.0 AS DOUBLE)
        FROM spokes
        WHERE rid % 97 = hub
    """,
    "hub_tri": """
        WITH base AS (
            SELECT ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS rid,
                   COUNT(*) OVER () AS n
            FROM lineitem
        ), spokes AS (
            SELECT rid, n,
                   CASE WHEN rid % 2 = 0 THEN 0
                        WHEN rid % 4 = 1 THEN 1
                        WHEN rid % 8 = 3 THEN 2
                        WHEN rid % 16 = 7 THEN 3
                        WHEN rid % 32 = 15 THEN 4
                        ELSE 5 END AS hub
            FROM base
        )
        SELECT CAST(1000 + rid AS BIGINT) AS src,
               CAST(hub AS BIGINT)        AS dst,
               CAST(1.0 AS DOUBLE)        AS weight
        FROM spokes
        UNION ALL
        SELECT CAST(1000 + rid AS BIGINT),
               CAST(1000 + (rid + 1) % n AS BIGINT),
               CAST(1.0 AS DOUBLE)
        FROM spokes
        UNION ALL
        SELECT CAST(1000 + rid AS BIGINT),
               CAST(1000 + (rid + 2) % n AS BIGINT),
               CAST(1.0 AS DOUBLE)
        FROM spokes
        UNION ALL
        SELECT CAST(hub AS BIGINT),
               CAST(1000 + rid AS BIGINT),
               CAST(1.0 AS DOUBLE)
        FROM spokes
        WHERE rid % 97 = hub
    """,
    "nation_mesh": """
        SELECT CAST(a.n_nationkey AS BIGINT) AS src,
               CAST(b.n_nationkey AS BIGINT) AS dst,
               CAST(1 + (a.n_nationkey * 7 + b.n_nationkey * 13) % 10 AS DOUBLE) AS weight
        FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
    """,
    "nation_ring": """
        WITH n AS (
            SELECT CAST(n_nationkey AS BIGINT) AS id,
                   CAST(n_regionkey AS BIGINT) AS r,
                   ROW_NUMBER() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) - 1 AS pos,
                   COUNT(*) OVER (PARTITION BY n_regionkey) AS cnt
            FROM nation
        )
        SELECT a.id AS src, b.id AS dst, CAST(1.0 AS DOUBLE) AS weight
        FROM n a JOIN n b ON a.r = b.r AND b.pos = (a.pos + 1) % a.cnt
        WHERE a.id <> b.id
    """,
}

# (rid, n) ranked-lineitem frames memoized per application + registered
# dataset (round-14 optimization): three derived graphs (linked_lineitems,
# hub, hub_tri) each consumed their own range-shuffle + checkpoint of the
# full lineitem table — identical computations, and bench's derive_graphs
# row paid all three (plus left three superseded checkpoints to the async
# ContextCleaner). The memo shares ONE checkpointed ranking; entries are
# keyed by the registration generation (register_views' (sf_dir, token)),
# so a rewritten dataset rebuilds, and clear_graph_memo() releases the
# blocks under the same invalidation contract as _GRAPH_MEMO.
_LINEITEM_BASE_MEMO: dict[tuple, tuple] = {}  # key -> (frame, local_ckpt)
_LINEITEM_BASE_LOCK = threading.Lock()


def _lineitem_base(spark: SparkSession):
    """Distributed twin of the shared-SQL ``base`` CTE: (rid, n) where rid is
    ROW_NUMBER() OVER (ORDER BY l_orderkey, l_linenumber) - 1 and n the table
    count. The SQL form runs verbatim in DuckDB (single node — fine) but in
    Spark an unpartitioned window funnels the whole table through ONE
    partition (the r1 scale-killer pattern; WindowExec warns). This builds
    the identical rid via the sample-sort shape ``global_sort_rank`` uses:
    range-shuffle on the (unique) sort key, rank within each range partition
    in parallel, add per-partition offsets (one row per partition). Same
    total order, fully parallel at any scale.

    The ranked rows are materialized (localCheckpoint) before the offsets
    aggregate derives from them: both subtrees otherwise contain their own
    copy of the repartitionByRange exchange, and range boundaries come from
    SEEDED SAMPLING — correctness would silently ride on ReuseExchange
    deduplicating the two instances. With the checkpoint there is exactly
    one evaluation of the range shuffle by construction, not by optimizer
    grace."""
    from gmr_spark.sources.tables import _LAST_REGISTERED

    app = spark.sparkContext.applicationId
    memo_key = (app, _LAST_REGISTERED.get(app))
    with _LINEITEM_BASE_LOCK:
        hit = _LINEITEM_BASE_MEMO.get(memo_key)
    if hit is not None:
        return hit[0]
    frame, local = _build_lineitem_base(spark)
    with _LINEITEM_BASE_LOCK:
        # superseded registration generations: release their checkpoints
        # (no live consumers by the derive-memo invalidation contract)
        stale = [k for k in _LINEITEM_BASE_MEMO
                 if k[0] == app and k != memo_key]
        doomed = [_LINEITEM_BASE_MEMO.pop(k) for k in stale]
        winner = _LINEITEM_BASE_MEMO.setdefault(memo_key, (frame, local))
    from gmr_spark.plans.loop import _drop_checkpoint_blocks

    for _, old_local in doomed:
        _drop_checkpoint_blocks(old_local)
    if winner[0] is not frame:
        # lost a concurrent build race: keep theirs, release ours
        _drop_checkpoint_blocks(local)
    return winner[0]


def _build_lineitem_base(spark: SparkSession):
    from pyspark.sql import Window as W

    li = spark.table("lineitem").select("l_orderkey", "l_linenumber")
    n_parts = spark.sparkContext.defaultParallelism
    tagged = li.repartitionByRange(n_parts, "l_orderkey", "l_linenumber") \
        .withColumn("_pid", F.spark_partition_id())
    w_local = W.partitionBy("_pid").orderBy("l_orderkey", "l_linenumber")
    local = tagged.withColumn("_rn", F.row_number().over(w_local)) \
        .localCheckpoint(eager=True)
    offsets = (
        local.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt"))
        .withColumn(
            "_offset",
            F.coalesce(
                F.sum("_cnt").over(
                    W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .withColumn("_n", F.sum("_cnt").over(
            W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)))
        .select("_pid", "_offset", "_n")
    )
    frame = local.join(F.broadcast(offsets), "_pid").select(
        (F.col("_rn") + F.col("_offset") - 1).cast("bigint").alias("rid"),
        F.col("_n").cast("bigint").alias("n"),
    )
    return frame, local


def _build_linked_lineitems(spark: SparkSession):
    base = _lineitem_base(spark)
    w = F.lit(1.0).cast("double").alias("weight")
    ring = base.select(F.col("rid").alias("src"),
                       ((F.col("rid") + 1) % F.col("n")).alias("dst"), w)
    chord = base.select(F.col("rid").alias("src"),
                        ((F.lit(2) * F.col("rid") + 1) % F.col("n")).alias("dst"), w)
    return ring.unionAll(chord)


def _build_hub(spark: SparkSession):
    base = _lineitem_base(spark)
    hub = (
        F.when(F.col("rid") % 2 == 0, 0)
        .when(F.col("rid") % 4 == 1, 1)
        .when(F.col("rid") % 8 == 3, 2)
        .when(F.col("rid") % 16 == 7, 3)
        .when(F.col("rid") % 32 == 15, 4)
        .otherwise(5)
    )
    spokes = base.select("rid", "n", hub.alias("hub"))
    w = F.lit(1.0).cast("double").alias("weight")
    to_hub = spokes.select((F.lit(1000) + F.col("rid")).alias("src"),
                           F.col("hub").cast("bigint").alias("dst"), w)
    ring = spokes.select((F.lit(1000) + F.col("rid")).alias("src"),
                         (F.lit(1000) + (F.col("rid") + 1) % F.col("n")).alias("dst"), w)
    fan_out = (
        spokes.filter(F.col("rid") % 97 == F.col("hub"))
        .select(F.col("hub").cast("bigint").alias("src"),
                (F.lit(1000) + F.col("rid")).alias("dst"), w)
    )
    return to_hub.unionAll(ring).unionAll(fan_out)


def _build_hub_tri(spark: SparkSession):
    """hub + a +2 spoke chord: consecutive-triple triangles on the spoke
    ring, and hub 0 closes a triangle with every adjacent even-spoke pair —
    the fixture where local clustering coefficients are non-degenerate
    (hub has none of that structure: all its wedges are open)."""
    base = _lineitem_base(spark)
    hub = (
        F.when(F.col("rid") % 2 == 0, 0)
        .when(F.col("rid") % 4 == 1, 1)
        .when(F.col("rid") % 8 == 3, 2)
        .when(F.col("rid") % 16 == 7, 3)
        .when(F.col("rid") % 32 == 15, 4)
        .otherwise(5)
    )
    spokes = base.select("rid", "n", hub.alias("hub"))
    w = F.lit(1.0).cast("double").alias("weight")
    to_hub = spokes.select((F.lit(1000) + F.col("rid")).alias("src"),
                           F.col("hub").cast("bigint").alias("dst"), w)
    ring = spokes.select((F.lit(1000) + F.col("rid")).alias("src"),
                         (F.lit(1000) + (F.col("rid") + 1) % F.col("n")).alias("dst"), w)
    chord = spokes.select((F.lit(1000) + F.col("rid")).alias("src"),
                          (F.lit(1000) + (F.col("rid") + 2) % F.col("n")).alias("dst"), w)
    fan_out = (
        spokes.filter(F.col("rid") % 97 == F.col("hub"))
        .select(F.col("hub").cast("bigint").alias("src"),
                (F.lit(1000) + F.col("rid")).alias("dst"), w)
    )
    return to_hub.unionAll(ring).unionAll(chord).unionAll(fan_out)


# Spark-side builders for derivations whose shared SQL contains an
# unpartitioned global window. DuckDB still runs GRAPH_SQL verbatim — the
# oracle-parity gate proves these produce identical graphs.
_SPARK_BUILDERS = {
    "linked_lineitems": _build_linked_lineitems,
    "hub": _build_hub,
    "hub_tri": _build_hub_tri,
}

# auto-sizing target for derived graphs (see derive_graph)
_EDGES_PER_PARTITION = 25_000

# Materialized derived graphs memoized per application (same design as
# operators.dedup._CKPT_MEMO, round-5): a bench/correctness session derives
# e.g. the geo graph for five different queries, and each derivation is a
# multi-join SQL + checkpoint costing seconds at sf0.1 — 16 derivations
# ≈ 20% of the whole bench. The reference's own timing excludes graph
# load/partition (parse is a separate log line), so memoized derivation
# also makes per-algorithm rows comparable. Keyed by applicationId + the
# sf_dir's parquet fingerprint so a restarted context or rewritten dataset
# can never be served stale frames; release with clear_graph_memo().
# All memo access sits behind _GRAPH_MEMO_LOCK (round-5 ADVICE: bench
# derives from 3 driver threads — the old check-then-act was safe only
# because the names happened to be distinct); derivation itself runs
# outside the lock, with a double-check on insert so a lost race releases
# the loser's blocks instead of leaking them.
_GRAPH_MEMO: dict[tuple, PropertyGraph] = {}
_GRAPH_MEMO_LOCK = threading.Lock()


def clear_graph_memo() -> None:
    """Release every memoized derived graph's checkpoint blocks (explicit
    unpersist — ContextCleaner would leave them resident for several more
    jobs). Pipelines done with graph queries call this; bench keeps the
    memo alive by design and bills derivation to its own row.

    INVALIDATION CONTRACT (shared with derive_graph's generation eviction):
    released checkpoints have NO lineage to rebuild from — any caller still
    holding a PropertyGraph handed out before the clear/evict gets
    unrecoverable block-missing failures. Call only at pipeline boundaries
    where no prior graph handle is live."""
    from gmr_spark.plans.loop import _drop_checkpoint_blocks

    with _GRAPH_MEMO_LOCK:
        doomed = list(_GRAPH_MEMO.values())
        _GRAPH_MEMO.clear()
    for g in doomed:
        _drop_checkpoint_blocks(g.edges)
        _drop_checkpoint_blocks(g.vertices)
    with _LINEITEM_BASE_LOCK:
        doomed_base = list(_LINEITEM_BASE_MEMO.values())
        _LINEITEM_BASE_MEMO.clear()
    for _, local in doomed_base:
        _drop_checkpoint_blocks(local)
    import gc

    gc.collect()


def derive_graph(spark: SparkSession, sf_dir: str, name: str,
                 num_partitions: int | None = None,
                 materialize: bool = False) -> PropertyGraph:
    """Run the shared derivation SQL in Spark → PropertyGraph.

    ``materialize=True`` localCheckpoints the edge set — worth it whenever
    the caller reads edges more than once outside a Pregel loop (the loop
    checkpoints on its own).

    Edges are always hash-partitioned by ``src`` (defaultParallelism unless
    overridden). Derivations whose shared SQL contains an unpartitioned
    global window (linked_lineitems, hub) use a distributed Spark-side
    builder instead of running the SQL verbatim (see ``_lineitem_base``);
    the oracle still runs GRAPH_SQL in DuckDB and the parity gate proves the
    graphs identical.

    The default-config materialized path (``materialize=True``,
    ``num_partitions=None``) is memoized per application + dataset
    fingerprint (``_GRAPH_MEMO``) — derivation is deterministic, so the
    cache is semantically invisible; explicit ``num_partitions`` callers
    always get a fresh build.

    INVALIDATION: when the dataset fingerprint changes, the superseded
    generation's checkpoint blocks are released IMMEDIATELY (they have no
    lineage to rebuild from) — any PropertyGraph handle obtained for the
    old generation is dead after that point. Holding a derived graph
    across a rewrite of its source parquet is out of contract; so is
    holding one across ``clear_graph_memo()``."""
    memo_key = None
    if materialize and num_partitions is None:
        from gmr_spark.plans.loop import _drop_checkpoint_blocks

        memo_key = (spark.sparkContext.applicationId, sf_dir, name,
                    _sf_token(sf_dir))
        with _GRAPH_MEMO_LOCK:
            cached = _GRAPH_MEMO.get(memo_key)
            # rewritten-dataset generations of this entry: evict + release
            # (same hygiene as operators.dedup._memo)
            stale = [] if cached is not None else [
                _GRAPH_MEMO.pop(k) for k in list(_GRAPH_MEMO)
                if k[:3] == memo_key[:3] and k != memo_key]
        if cached is not None:
            return cached
        for old in stale:
            _drop_checkpoint_blocks(old.edges)
            _drop_checkpoint_blocks(old.vertices)
    register_views(spark, sf_dir)
    builder = _SPARK_BUILDERS.get(name)
    edges = builder(spark) if builder else spark.sql(GRAPH_SQL[name])
    auto_size = num_partitions is None and materialize
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    g = PropertyGraph.from_edges(edges, num_partitions=num_partitions)
    if materialize:
        from pyspark.sql import Observation

        # the |E| sizing census rides the checkpoint's materializing job as
        # an Observation (run_pregel's O15 discipline, applied r14): the
        # separate count() was one extra job per derived graph, and bench's
        # derive_graphs row materializes eight of them
        e_obs = Observation()
        edges = (g.edges.observe(e_obs, F.count(F.lit(1)).alias("n"))
                 .localCheckpoint(eager=True))
        if auto_size:
            # partitions ∝ |E|, not a fixed core count: a 32k-edge fixture
            # on 32 partitions pays ~2x wall-clock in task-launch overhead
            # per superstep (measured: geo PageRank 6.4s @32 parts vs 2.8s
            # @4); a big graph keeps ≥1 task per core. Only downsize when
            # clearly oversharded — the re-checkpoint moves a small edge
            # set once. The row-count proxy stands in for the bytes-based
            # sizing a cluster gets from AQE advisory sizes.
            n_edges = int(e_obs.get["n"] or 0)
            target = max(4, min(2 * spark.sparkContext.defaultParallelism,
                                -(-n_edges // _EDGES_PER_PARTITION)))
            if target < num_partitions // 2:
                from gmr_spark.plans.loop import _drop_checkpoint_blocks

                old = edges
                edges = edges.repartition(target, "src").localCheckpoint(eager=True)
                _drop_checkpoint_blocks(old)
        # |V| rides the vertex checkpoint the same way and is cached on the
        # PropertyGraph, so consumers that need it (pagerank's global-N
        # denominator) skip their own count job on every memo hit
        v_obs = Observation()
        vertices = (
            edges.select(F.col("src").alias("id"))
            .union(edges.select(F.col("dst").alias("id")))
            .distinct()
            .observe(v_obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        g = PropertyGraph(vertices=vertices, edges=edges,
                          n_vertices=int(v_obs.get["n"] or 0),
                          n_edges=int(e_obs.get["n"] or 0))
    if memo_key is not None:
        # double-check insert: if a concurrent thread derived the same graph
        # first, keep THEIRS (callers may already hold it) and release ours
        with _GRAPH_MEMO_LOCK:
            winner = _GRAPH_MEMO.setdefault(memo_key, g)
        if winner is not g and materialize:
            from gmr_spark.plans.loop import _drop_checkpoint_blocks

            _drop_checkpoint_blocks(g.edges)
            _drop_checkpoint_blocks(g.vertices)
            return winner
    return g
