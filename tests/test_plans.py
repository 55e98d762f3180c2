"""Physical-plan shape assertions — the scale contract, enforced.

Correctness is the oracle gate's job; these tests pin the *plans*: predicate
pushdown reaching the parquet scan, column pruning, broadcast joins on dim
tables, and single-shuffle aggregations. A regression here is invisible at
sf0.01 and catastrophic at 100 TB.
"""

from __future__ import annotations

import re

import pytest

from gmr_spark.queries import all_queries

SF = "/root/testdata/sf0.001"


def n_exchanges(plan: str) -> int:
    # formatted explain names each node twice (tree + details); count details
    return len(re.findall(r"\(\d+\) Exchange", plan))


def plan_of(spark, name: str) -> str:
    df = all_queries()[name](spark, SF)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def final_plan_of(spark, name: str) -> str:
    """The EXECUTED adaptive plan (isFinalPlan=true): the module broadcast
    policy leaves SF-scaling join sides unhinted, so the broadcasts those
    joins are expected to get at small SF exist only after AQE's runtime
    conversion — the static explain shows SortMergeJoin placeholders."""
    df = all_queries()[name](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan[:300]
    return plan


def test_q6_pushdown_and_pruning(spark):
    p = plan_of(spark, "q6_forecast_revenue")
    pushed = re.search(r"PushedFilters: \[(.*?)\]", p).group(1)
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    schema = re.search(r"ReadSchema: struct<(.*?)>", p).group(1)
    cols = [c.split(":")[0] for c in schema.split(",")]
    assert sorted(cols) == ["l_discount", "l_extendedprice", "l_quantity", "l_shipdate"]


def test_filter_scan_pushdown(spark):
    p = plan_of(spark, "filter_scan")
    assert "PushedFilters" in p and "o_totalprice" in p.split("PushedFilters")[1].split("]")[0]
    schema = re.search(r"ReadSchema: struct<(.*?)>", p).group(1)
    # pruned to the 3 projected columns + o_orderstatus (residual filter re-check)
    assert len(schema.split(",")) == 4


def test_q5_broadcasts_dims(spark):
    """supplier/customer are unhinted (they scale with SF — module broadcast
    policy); at sf0.001 AQE must still converge every dim join to a runtime
    broadcast, so the policy costs nothing at bench scale."""
    p = final_plan_of(spark, "q5_nation_revenue")
    assert p.count("BroadcastHashJoin") >= 3  # supplier, customer, nation
    assert "SortMergeJoin" not in p


def test_q1_single_shuffle(spark):
    p = plan_of(spark, "q1_pricing_summary")
    # one exchange: partial agg -> shuffle on (returnflag, linestatus) -> final
    assert n_exchanges(p) == 1
    assert "HashAggregate" in p


def test_dedup_exact_single_shuffle(spark):
    p = plan_of(spark, "dedup_exact")
    assert n_exchanges(p) == 1  # shuffle on md5(text) only


def test_q18_broadcasts_having_result(spark):
    # the HAVING tail is SF-linear so it carries no forced hint; AQE must
    # still broadcast it to orders at runtime (thin output at small SF)
    p = final_plan_of(spark, "q18_large_orders")
    assert "BroadcastHashJoin" in p


def test_global_sort_rank_no_single_partition_window(spark):
    """The r01 scale-killer: row_number over an unpartitioned window funnels
    the table through ONE partition. The rewrite must keep every Window
    partitioned (per range-partition ranks) except the O(#partitions)-row
    offset window, and must carry a range exchange (the sample-sort analog)."""
    p = plan_of(spark, "global_sort_rank")
    assert "rangepartitioning" in p.lower()  # O18 sample-sort exchange
    # Per-Window partitioning: a partitioned Window's Arguments line carries
    # THREE bracket groups (exprs, partition spec, order spec); an
    # unpartitioned one only two. Every full-data Window must be partitioned
    # by _pid; the single unpartitioned Window allowed is the running-sum
    # offset over the O(#partitions)-row counts table.
    unpartitioned = 0
    for block in p.split("\n\n"):
        if not re.match(r"\(\d+\) Window", block):
            continue
        args = next(l for l in block.splitlines() if l.startswith("Arguments:"))
        groups = re.findall(r"\[[^\[\]]*\]", args)
        if len(groups) >= 3:
            assert "_pid" in groups[-2], f"full-data Window not partitioned by _pid: {args}"
        else:
            unpartitioned += 1
            assert "_cnt" in block, f"unpartitioned Window over non-counts input: {block}"
    assert unpartitioned <= 1, f"{unpartitioned} unpartitioned Windows, expected <=1"
    singles = len(re.findall(r"\(\d+\) Exchange SinglePartition", p))
    assert singles <= 1, f"expected at most the offset-table exchange, got {singles}"
    # and the offset side must reach the probe as a broadcast, not a shuffle
    assert "BroadcastHashJoin" in p


def test_q10_top20_is_take_ordered(spark):
    """Top-20 must plan as TakeOrderedAndProject (per-partition local top-k,
    only 20 rows per partition reach the final stage) — never a row_number
    over an unpartitioned Window, which funnels the whole per-customer
    aggregate through one task."""
    p = plan_of(spark, "q10_returned_items")
    assert "TakeOrderedAndProject" in p
    assert not re.search(r"\(\d+\) Window", p)


def test_pagerank_hub_skew_agg_is_partial_final(spark):
    """The hub fixture's hot key (hub 0, in-degree ~|lineitem|/2) must never
    cross a shuffle as raw messages: the dense superstep's aggregation has
    to be a two-phase HashAggregate on id, so each map task pre-combines to
    one row per destination and the hot key arrives as ≤ #partitions
    partial rows. (The final result DF is a checkpointed LogicalRDD, so
    this pins the in-loop superstep plan instead.)"""
    from gmr_spark.algorithms.pagerank import _PageRankProgram, _degree_graph
    from gmr_spark.plans.pregel import dense_superstep, dense_table
    from gmr_spark.sources.derive import derive_graph

    g = _degree_graph(derive_graph(spark, SF, "hub"))
    prog = _PageRankProgram(n_vertices=6, damping=0.5)
    step = dense_superstep(dense_table(g.vertices, g.edges),
                           prog.init(g.vertices), prog)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    p = step._jdf.queryExecution().explainString(mode)
    assert "partial_sum(msg" in p, p
    aggs = len(re.findall(r"\(\d+\) HashAggregate", p))
    assert aggs >= 2, f"expected partial+final aggregate on id, got {aggs}"


@pytest.mark.parametrize("big", [False, True], ids=["below_gate", "above_gate"])
def test_dense_superstep_pair_reads_state_once(spark, monkeypatch, big):
    """The job that materializes a pair of PageRank supersteps scans the
    previous state checkpoint once, shuffles only at the two aggregations
    and broadcasts nothing: the join of the self-edge table with the state
    is co-partitioned on src. Above the size gate too, where the session's
    AQE would leave the checkpoints without a partitioning."""
    from gmr_spark.algorithms import pagerank
    from gmr_spark.plans import loop as runtime
    from gmr_spark.sources.derive import derive_graph

    g = derive_graph(spark, SF, "geo", materialize=True)
    if big:
        monkeypatch.setattr(runtime, "BIG_GRAPH_ROWS", 0)
    DataFrame = type(g.edges)
    real = DataFrame.localCheckpoint
    plans = []

    def record(self, eager=True):
        out = real(self, eager=eager)
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(DataFrame, "localCheckpoint", record)
    pagerank(g, k=2).collect()
    assert len(plans) == 3, plans  # edge table + initial state, then the pair
    pair = plans[-1]
    assert len(re.findall(r"Scan ExistingRDD\[id#\d+L,value#\d+\]", pair)) == 1, pair
    assert len(re.findall(r"Scan ExistingRDD\[src#", pair)) == 2, pair
    assert pair.count("ShuffledHashJoin") == 2, pair
    assert len(re.findall(r"Exchange hashpartitioning", pair)) == 2, pair
    assert "BroadcastExchange" not in pair, pair


def test_scc_backward_one_job_per_superstep(spark):
    """run_pregel's census must ride the eager localCheckpoint's job as an
    Observation — not run a second limit(1).count() action — so a
    k-superstep run costs k+1 jobs (init checkpoint + one per superstep),
    not 2k+1, even with a census per superstep (``collect_metrics``).
    Pinned on SCC's backward membership program, fed the way SCC feeds it:
    leaf edges with a known |E|, so no edge snapshot or count job runs."""
    from gmr_spark.algorithms.scc import _MemberProgram
    from gmr_spark.graph import PropertyGraph
    from gmr_spark.plans.loop import _drop_checkpoint_blocks
    from gmr_spark.plans.pregel import run_pregel

    # directed 3-ring: root 1, backward walk reaches 3 then 2, then one
    # final no-progress superstep -> 3 supersteps + init = 4 jobs max.
    # AQE is disabled for the measurement: its per-query-stage
    # materialization spawns bookkeeping jobs (22 observed for a 4-action
    # run) that would swamp the action count being pinned.
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src bigint, dst bigint") \
        .localCheckpoint(eager=True)
    colors = spark.createDataFrame([(1, 1), (2, 1), (3, 1)], "id bigint, color bigint")
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc.setJobGroup("scc_census_test", "run_pregel job-count pin")
        res = run_pregel(PropertyGraph(vertices=colors, edges=edges, n_edges=3),
                         _MemberProgram(), max_iter=10, collect_metrics=True)
        sc.setJobGroup(None, None)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("scc_census_test"))
        assert res.converged and res.iterations == 3, res
        assert n_jobs <= res.iterations + 1, \
            f"expected <= {res.iterations + 1} jobs (init + 1 per superstep), got {n_jobs}"
        assert res.vertices.filter("member").count() == 3
        _drop_checkpoint_blocks(res.vertices)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        _drop_checkpoint_blocks(edges)


def test_asof_join_uses_partial_agg_not_window(spark):
    """max_by aggregation replaces the per-event row_number window: the plan
    must contain a two-phase HashAggregate (partial + final) on event_id and
    no Window at all — the partial agg caps per-event candidate fan-out
    map-side before the shuffle."""
    p = plan_of(spark, "asof_join_orders")
    assert not re.search(r"\(\d+\) Window", p), "asof should not sort per event"
    # struct-ordered max_by uses SortAggregate (complex buffer type); the
    # contract is two phases — a map-side partial plus the post-shuffle final
    aggs = len(re.findall(r"\(\d+\) (?:Hash|Sort|ObjectHash)Aggregate", p))
    assert aggs >= 2, f"expected partial+final aggregate, got {aggs}"


def test_pregel_big_graph_joins_never_broadcast(spark):
    """G2-scale regression pin: a checkpointed LogicalRDD inherits its
    ORIGIN plan's size estimate, and a generator-derived origin
    (range → explode) undercounts by the fanout — at 4.8M V / 110M E the
    static planner estimated the edge table broadcastable and OOM'd the
    driver building a 5+ GB hash relation. run_pregel defeats this with
    shuffle_hash hints on the frontier/agg sides once the counted edge or
    vertex cardinality exceeds the broadcast-plausible bound. This pins the
    mechanism: the hinted message join must plan as ShuffledHashJoin (build
    side = frontier), never BroadcastHashJoin of either side."""
    n = 2_000_000  # > run_pregel's _BIG_ROWS bound
    edges = (
        spark.range(n)
        .selectExpr("id AS src", f"(id + 1) % {n} AS dst", "1.0 AS weight")
        .localCheckpoint(eager=True)
    )
    frontier = (
        spark.range(n)
        .selectExpr("id", "CAST(0.0 AS DOUBLE) AS value", "true AS active")
        .localCheckpoint(eager=True)
        .filter("active")
    )
    f = frontier.selectExpr("id AS fid", "value AS fdist")
    hinted = edges.join(f.hint("shuffle_hash"), edges["src"] == f["fid"])
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = hinted._jdf.queryExecution().explainString(mode)
    assert "BroadcastHashJoin" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan


def test_big_graph_derivations_have_no_global_window(spark):
    """The linked_lineitems/hub fixtures assign a global contiguous rid.
    The shared-SQL form (ROW_NUMBER over the whole table, fine in
    single-node DuckDB) would funnel all of lineitem through ONE Spark
    partition; derive_graph substitutes the distributed two-phase rank
    (_lineitem_base: range-shuffle + per-partition row_number + offset
    join, the global_sort_rank shape). Pin: every full-data Window node
    carries a partitionBy; only the O(#partitions) offset table may use an
    unpartitioned window."""
    from gmr_spark.sources.derive import _SPARK_BUILDERS
    from gmr_spark.sources.tables import register_views

    register_views(spark, SF)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted")
    for name, builder in _SPARK_BUILDERS.items():
        p = builder(spark)._jdf.queryExecution().explainString(mode)
        # formatted explain details: "Arguments: [row_number() ... ], [l_orderkey ASC" etc.
        for m in re.finditer(r"\(\d+\) Window\n", p):
            detail = p[m.end():m.end() + 400]
            # the offset-table windows aggregate one row per partition and
            # may be global; the full-data row_number window must lead its
            # windowspecdefinition with the _pid partition column
            assert re.search(r"windowspecdefinition\(_pid#\d+,", detail) or \
                "row_number" not in detail, \
                f"{name}: unpartitioned full-data window:\n{detail}"


def test_q2_q20_rollup_min_is_windowed_not_self_joined(spark):
    """q2/q20 pin: the per-part best/total over the (partkey, suppkey)
    rollup must be a partkey-partitioned Window, not a rollup⋈rollup
    SortMergeJoin — the self-join formulation cost 3-4 extra exchanges.
    Also pins zero SortMergeJoins in the EXECUTED plan (the part/supplier/
    dominant sides are unhinted per the module broadcast policy, so the
    static plan now legitimately carries SMJ placeholders that AQE must
    convert to broadcasts at this SF)."""
    for name, max_exchanges in (("q2_min_cost_supplier", 3),
                                ("q20_bulk_suppliers", 4)):
        p = plan_of(spark, name)
        assert re.search(r"windowspecdefinition\(l_partkey#\d+", p), \
            f"{name}: expected partkey-partitioned window"
        assert n_exchanges(p) <= max_exchanges, \
            f"{name}: {n_exchanges(p)} exchanges"
        fp = final_plan_of(spark, name)
        assert "SortMergeJoin" not in fp, f"{name}:\n{fp[:800]}"


def test_q3_top10_is_take_ordered(spark):
    """Same pin as q10: the global top-10 must plan as
    TakeOrderedAndProject, never an unpartitioned row_number Window."""
    p = plan_of(spark, "q3_top_orders")
    assert "TakeOrderedAndProject" in p
    assert not re.search(r"\(\d+\) Window", p)


@pytest.mark.parametrize("algo", ["bfs", "connected_components",
                                  "minimum_spanning_forest", "k_core", "scc",
                                  "pagerank", "label_propagation"])
def test_pregel_big_graph_gating_end_to_end(spark, monkeypatch, algo):
    """Executes each gated loop's shuffle_hash branch (not just the hint
    semantics the test above pins): with BIG_GRAPH_ROWS forced to 0 in the
    loop runtime, the one module that owns it, every graph takes the
    big-graph path — run_pregel's for bfs, the label kernel's for
    connected components, the MST phase joins, the k-core peel, SCC's
    trim and membership joins, and PageRank's pinned degree join and
    session-sized partitions in run_dense (PageRank and LPA) — and results
    must be identical to the ungated run: the hints may only change
    physical join strategy. PageRank is compared at 9 decimals: the
    partition count, and so the order of its partial sums, differs between
    the two runs."""
    from pyspark.sql import functions as F

    from gmr_spark import algorithms as A
    from gmr_spark.algorithms.sssp import bfs
    from gmr_spark.plans import loop as runtime
    from gmr_spark.sources.derive import derive_graph

    graph_name, run = {
        "bfs": ("geo", lambda g: bfs(g, source=0, max_iter=8)),
        "connected_components": ("geo", A.connected_components),
        "minimum_spanning_forest": ("geo", A.minimum_spanning_forest),
        "k_core": ("cs", lambda g: A.k_core(g, k=3)),
        # SCC on geo runs for ~14 s; the nation ring has a non-trivial SCC
        "scc": ("nation_ring", A.strongly_connected_components),
        "pagerank": ("geo", lambda g: A.pagerank(g, k=4).select(
            "id", F.round("rank", 9))),
        "label_propagation": ("geo", lambda g: A.label_propagation(g, k=4)),
    }[algo]
    g = derive_graph(spark, SF, graph_name, materialize=True)
    want = {tuple(r) for r in run(g).collect()}
    monkeypatch.setattr(runtime, "BIG_GRAPH_ROWS", 0)
    got = {tuple(r) for r in run(g).collect()}
    assert got == want and len(want) > 0


def test_zscore_window_twin_is_pure_jvm(spark):
    """zscore_events_window is the headline z-score (round-3 verdict item 5):
    the whole normalization must stay in whole-stage codegen — no Arrow/
    Python eval node anywhere in the plan (the applyInPandas variant
    zscore_events is the declared custom-Python surface, benched separately),
    and the window must be keyed (no global partition)."""
    p = plan_of(spark, "zscore_events_window")
    for node in ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
                 "MapInPandas"):
        assert node not in p, node
    assert "Window" in p
    # the Window's partition spec carries event_type (not an empty spec)
    win_detail = p.split("Window")[1]
    assert "event_type" in win_detail


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Bucketed tables co-locate the join: writing both sides bucketed on
    the join key (bucketBy + sortBy) lets SortMergeJoin read the buckets
    directly — ZERO Exchange nodes in the joined plan. This is the 100 TB
    fact⋈fact strategy (pre-shuffle once at write time, join free forever);
    external-path tables keep the warehouse out of the repo."""
    from pyspark.sql import functions as F

    from gmr_spark.sources.tables import load_tables

    t = load_tables(spark, SF)
    # force the SMJ path: at sf0.001 either side fits a broadcast, which
    # would bypass the bucket co-location this test exists to pin
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        for name, df, cols in [
            ("b_orders", t["orders"], ["o_orderkey", "o_custkey", "o_totalprice"]),
            ("b_lineitem", t["lineitem"], ["l_orderkey", "l_quantity"]),
        ]:
            key = cols[0]
            (df.select(*cols).write.bucketBy(8, key).sortBy(key)
             .option("path", str(tmp_path / name))
             .mode("overwrite").saveAsTable(name))
        joined = (
            spark.table("b_orders")
            .join(spark.table("b_lineitem"),
                  F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("o_orderkey")
            .agg(F.sum("l_quantity").alias("qty"))
        )
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        plan = joined._jdf.queryExecution().explainString(mode)
        assert "SortMergeJoin" in plan
        assert n_exchanges(plan) == 0, plan
        # the bucket layout also covers the groupBy on the same key
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_scd2_single_keyed_shuffle(spark):
    """SCD2 history: ONE hash exchange on the dimension key, and both window
    functions (row_number + lead) ride the same keyed Window — no
    SinglePartition anywhere (the r01 full-data-window killer)."""
    p = plan_of(spark, "scd2_order_history")
    assert n_exchanges(p) == 1, p
    assert "SinglePartition" not in p
    for block in p.split("\n\n"):
        if not re.match(r"\(\d+\) Window", block):
            continue
        args = next(l for l in block.splitlines() if l.startswith("Arguments:"))
        groups = re.findall(r"\[[^\[\]]*\]", args)
        assert len(groups) >= 3 and "o_custkey" in groups[-2], args


def test_triangle_closure_paths(spark):
    """Both closing-edge probe strategies (closed_triangles, round 5):

    - under the cap, the probe is a broadcast LEFT SEMI on the exact long
      encoding (the wedge stream never shuffles) while the wedge join
      itself stays ShuffledHashJoin;
    - cap=0 forces the >cap fallback — the shape used at 100 TB edge scale
      — which must keep the G2 estimate-trap guard: every join
      ShuffledHashJoin, no broadcast anywhere (Catalyst cannot size the
      distinct-over-checkpoint edge set and once chose to broadcast
      10.6 GiB of it, aborting the round-4 G2 TC run)."""
    p = plan_of(spark, "triangles_ring")
    assert "ShuffledHashJoin" in p, p
    assert re.search(r"BroadcastHashJoin .*LeftSemi", p), p

    from gmr_spark.algorithms.triangles import triangle_count
    from gmr_spark.sources.derive import derive_graph

    # materialize so the derivation's own joins don't pollute the TC plan
    g = derive_graph(spark, SF, "ring", materialize=True)
    df = triangle_count(g, closure_broadcast_max_edges=0)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    p2 = df._jdf.queryExecution().explainString(mode)
    assert p2.count("ShuffledHashJoin") >= 2, p2
    assert "BroadcastHashJoin" not in p2


def test_minhash_verify_semi_filters_shingles(spark):
    """The 2M-doc scale fix's regression guard: the exact-Jaccard verify
    stage must reach the shingle table through a broadcast LEFT-SEMI on the
    candidate-doc id list (a map-side filter), never by reshuffling the
    full corpus shingle set for a small candidate pair set."""
    from gmr_spark.operators import dedup as D

    # the memoized result is an eager checkpoint (LogicalRDD) — pin the
    # LAZY build plan the checkpoint materializes from
    df = D._verified_pairs_plan(spark, SF)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    p = df._jdf.queryExecution().explainString(mode)
    assert re.search(r"BroadcastHashJoin .*LeftSemi", p), p


def test_pregel_adaptive_broadcast_end_to_end(spark, monkeypatch):
    """The exact-census adaptive branch: with BIG_GRAPH_ROWS=0, run_pregel
    picks ci=1 on its own, and small frontiers take the hinted-broadcast
    message join — a checkpoint's executed plan broadcasts the frontier —
    with results identical to the small-graph path (ci=2, where the census
    goes stale between checkpoints and the branch stays closed)."""
    from gmr_spark.algorithms.sssp import _SSSPProgram, bfs
    from gmr_spark.plans import loop as runtime
    from gmr_spark.plans.pregel import run_pregel
    from gmr_spark.sources.derive import derive_graph

    g = derive_graph(spark, SF, "geo", materialize=True)
    want = {(r.id, r.level) for r in bfs(g, source=0, max_iter=8).collect()}
    monkeypatch.setattr(runtime, "BIG_GRAPH_ROWS", 0)
    plans: list = []
    _record_checkpoints(monkeypatch, plans)
    res = run_pregel(g, _SSSPProgram(0, weighted=False), max_iter=8)
    got = {(r.id, r.level)
           for r in res.vertices.select(
               "id", res.vertices.value.alias("level")).collect()}
    assert got == want and len(want) > 0
    frontier_broadcast = re.compile(r"BroadcastExchange[^\n]*\n(?:[^\n]*\n)*?"
                                    r"[^\n]*Filter[^\n]*active")
    assert any(frontier_broadcast.search(p) for p in plans), plans


def test_small_loop_conf_contract(spark):
    """LoopScope.rows, the loop-scoped physical conf (plans/loop.py):
    below BIG_GRAPH_ROWS the scope coalesces shuffle partitions to ~n/75k
    (floored at 4, never above the session setting) and turns AQE off;
    above it, or for an unknown size, it leaves the conf alone; the saved
    conf is restored on clean exit, on exception, after repeated calls,
    and correctly under nesting (inner scope saves the outer's values, not
    the session's)."""
    from gmr_spark.plans.loop import (
        BIG_GRAPH_ROWS, LOOP_EDGES_PER_SHUFFLE_PARTITION, LoopScope)

    part_key, aqe_key = "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled"

    def conf() -> tuple:
        return spark.conf.get(part_key), spark.conf.get(aqe_key)

    base = conf()
    assert base[1] == "true"  # the session default the gate must restore

    # small: coalesced + AQE off, restored on clean exit — also after a
    # second rows() call inside the same scope
    with LoopScope(spark) as loop:
        loop.rows(300_000)
        want = max(4, -(-300_000 // LOOP_EDGES_PER_SHUFFLE_PARTITION))
        assert int(spark.conf.get(part_key)) == min(want, int(base[0]))
        assert spark.conf.get(aqe_key) == "false"
        loop.rows(100_000)
    assert conf() == base

    # big or unknown: strict no-op (AQE's runtime re-planning earns its
    # keep there)
    with LoopScope(spark) as loop:
        loop.rows(BIG_GRAPH_ROWS + 1)
        assert conf() == base
        loop.rows(None)
        assert conf() == base

    # exception path restores
    with pytest.raises(RuntimeError, match="boom"):
        with LoopScope(spark) as loop:
            loop.rows(100_000)
            raise RuntimeError("boom")
    assert conf() == base

    # nesting: inner saves the OUTER scope's values and restores to them
    with LoopScope(spark) as outer:
        outer.rows(1_000_000)
        outer_conf = conf()
        with LoopScope(spark) as inner:
            inner.rows(100_000)
            assert spark.conf.get(aqe_key) == "false"
        assert conf() == outer_conf
    assert conf() == base


def test_multimodal_audio_is_narrow_and_prunes(spark):
    """The audio decode chain must stay shuffle-free (two partition-
    preserving MapInPandas stages) and read ONLY doc_id from the corpus —
    at 100 TB any exchange or full-width scan here is pure waste."""
    p = plan_of(spark, "multimodal_audio")
    assert n_exchanges(p) == 0
    assert p.count("MapInPandas") >= 2  # synth stage + decode stage
    assert "struct<doc_id:bigint>" in p  # text column pruned from the scan


def test_dedup_substring_broadcasts_shared_keys_no_cartesian(spark):
    """ExactSubstr's annotate join must equi-join on the window hash with
    the (tiny) shared-key set on the build side — never a cartesian — and
    the whole chain stays within 3 exchanges (count-distinct pair on the
    key census, per-doc dup agg); the window stream itself is reused via
    the eager checkpoint, not recomputed per consumer."""
    p = plan_of(spark, "dedup_substring")
    assert "CartesianProduct" not in p and "NestedLoop" not in p
    assert "BroadcastHashJoin" in p
    assert n_exchanges(p) <= 3


def test_dsir_select_broadcasts_ratio_and_takes_ordered(spark):
    """DSIR's per-bucket ratio table is <= 256 rows — it must reach the
    per-doc scoring join as a broadcast (never a shuffled join of the
    feature stream against it), and the final top-k must be
    TakeOrderedAndProject, not a global Sort of 2M+ scored docs."""
    p = plan_of(spark, "dsir_select")
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_unigram_lm_score_explodes_corpus_twice_not_thrice(spark):
    """The corpus-LM score needs the token stream for (doc,term) counts and
    for the vocabulary census — exactly TWO Generate (explode) subtrees.
    The corpus-total T must come from a narrow array-size scan (no third
    explode replay: the regression this pins scanned the corpus 3x). The
    only cross join is the broadcast of the 1-row total."""
    p = plan_of(spark, "unigram_lm_score")
    assert len(re.findall(r"\(\d+\) Generate", p)) == 2
    assert n_exchanges(p) <= 4
    assert "CartesianProduct" not in p


def test_curation_pipeline_plan_is_jvm_semi_joins(spark):
    """Plan pin for the declared `curation` query (promoted round 13):
    the composed pipeline must stay what the module docstring promises —
    narrow-id SEMI-joins against the corpus scan, 1-row BROADCAST cross
    joins for the LM statistics (BroadcastNestedLoopJoin over a 1-row
    aggregate — never an unbounded CartesianProduct), per-lang keyed
    windows only (packing + the chain's cluster-size window — no global
    single-partition window), and pure JVM expressions end-to-end (no
    row-at-a-time Python; the dedup chain's kernels are already
    checkpoint leaves by the time the pipeline composes them)."""
    from gmr_spark.operators.dedup import clear_dedup_memo

    try:
        p = plan_of(spark, "curation")
    finally:
        clear_dedup_memo()
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p
    assert p.count("LeftSemi") >= 4  # keepers/survivors/good/calm stages
    # every window is keyed (partition spec non-empty): a global window
    # over per-doc rows would single-partition an SF-linear frame at
    # 100 TB. Window Arguments are [functions], [partition], [order] —
    # an empty middle list is the single-partition smell.
    win_args = re.findall(r"\(\d+\) Window[\s\S]*?Arguments: (.*)", p)
    assert win_args  # packing + the chain's windows are in this plan
    for args in win_args:
        assert "], [], [" not in args, args


def test_reset_plan_stats_releafs_checkpoints_zero_copy(spark):
    """Spark 4's localCheckpoint propagates the origin plan's ESTIMATED
    stats onto the LogicalRDD leaf, and the size-only estimator models a
    join as the product of its children's sizeInBytes — so an iterative
    self-join loop squares the BigInt per iteration and, past ~15 rounds,
    the driver stalls in million-digit BigInteger multiplies inside the
    next checkpoint's stats rewrite (measured: the Borůvka pointer-jump
    fixpoint at G2 size pinned one driver thread 20+ minutes while zero
    tasks ran). reset_plan_stats must (a) preserve rows/schema over the
    SAME persisted blocks, (b) reset sizeInBytes to the default, (c) keep
    a 20-round self-join checkpoint loop wall-bounded."""
    import time

    from pyspark.sql import functions as F

    from gmr_spark.plans.loop import _drop_checkpoint_blocks, reset_plan_stats

    def size_of(df) -> int:
        return int(str(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))

    base = spark.range(500).select("id", (F.col("id") * 2).alias("v")) \
        .localCheckpoint(eager=True)
    joined = base.join(base.selectExpr("id", "v as v2"), "id") \
        .localCheckpoint(eager=True)
    assert size_of(joined) < 2 ** 63  # propagated product estimate, finite
    reset = reset_plan_stats(joined)
    assert reset.schema == joined.schema
    assert reset.count() == 500
    assert size_of(reset) == 2 ** 63 - 1  # spark.sql.defaultSizeInBytes
    # the result must actually BE a fresh LogicalRDD leaf over the same
    # blocks — not the silent-fallback input (round-7 verdict item 3: on a
    # PySpark upgrade that breaks the private API this line fails loudly)
    assert reset._jdf.queryExecution().analyzed() \
        .getClass().getSimpleName() == "LogicalRDD"
    assert reset is not joined

    cur, owned = base, [base, joined]
    t0 = time.perf_counter()
    for _ in range(20):
        nxt = reset_plan_stats(
            cur.alias("a")
            .join(cur.alias("b").selectExpr("id", "v as v2"), "id")
            .select("id", "v").localCheckpoint(eager=True))
        owned.append(nxt)
        cur = nxt
    wall = time.perf_counter() - t0
    # without the reset the 20th checkpoint alone multiplies ~10M-digit
    # BigIntegers for minutes; with it the whole loop is seconds
    assert wall < 60, f"stats squaring not cut: {wall:.1f}s for 20 rounds"
    assert cur.count() == 500
    assert size_of(cur) == 2 ** 63 - 1
    for df in owned:
        _drop_checkpoint_blocks(df)


def test_private_api_fallback_warns_loudly(spark, monkeypatch):
    """When the private JVM API behind reset_plan_stats is unavailable, the
    fallback must WARN (once per process), never pass silently — a silent
    fallback reinstates the exact G2-scale pathologies (BigInteger stats
    stall, retained checkpoint blocks) with no signal (round-7 verdict
    item 3). Simulated by feeding a non-checkpointed frame, whose analyzed
    plan has no ``rdd()`` — the same failure shape as a broken API."""
    import warnings

    import gmr_spark.plans.loop as P

    monkeypatch.setattr(P, "_WARNED_FALLBACKS", set())
    plain = spark.range(10)  # Range leaf, not LogicalRDD: rdd() raises
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = P.reset_plan_stats(plain)
    assert out is plain  # documented fallback: input unchanged
    msgs = [str(w.message) for w in caught
            if issubclass(w.category, RuntimeWarning)]
    assert any("reset_plan_stats" in m and "private Spark JVM API" in m
               for m in msgs), msgs
    # and exactly once per process per helper — loops must not drown logs
    with warnings.catch_warnings(record=True) as again:
        warnings.simplefilter("always")
        P.reset_plan_stats(plain)
    assert not [w for w in again if issubclass(w.category, RuntimeWarning)]

    # _drop_checkpoint_blocks on a non-LogicalRDD frame is a LEGITIMATE
    # no-op (loop state variables start as LocalRelations) — never a warn
    monkeypatch.setattr(P, "_WARNED_FALLBACKS", set())
    with warnings.catch_warnings(record=True) as quiet:
        warnings.simplefilter("always")
        P._drop_checkpoint_blocks(spark.range(5))
        P._drop_checkpoint_blocks(
            spark.createDataFrame([], "id bigint"))
    assert not [w for w in quiet if issubclass(w.category, RuntimeWarning)]

    # is_checkpoint without the API answers False (callers then snapshot
    # or size from conf) and warns, instead of raising into every caller
    import types

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert P.is_checkpoint(types.SimpleNamespace(_jdf=None)) is False
    assert any("is_checkpoint" in str(w.message) for w in caught), caught


def _persistent_ids(spark) -> set:
    # id SET, not size: the async ContextCleaner may reclaim OTHER tests'
    # stale entries mid-test, so counts drift — new ids don't
    return {int(i) for i in
            spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def _unpersist_ids(spark, ids: set) -> None:
    for entry in spark.sparkContext._jsc.getPersistentRDDs().entrySet().toArray():
        if int(entry.getKey()) in ids:
            entry.getValue().unpersist(False)


def test_run_pregel_edge_checkpoint_ownership(spark):
    """run_pregel's edge snapshot, pinned two ways.

    (a) default path: the internal O(|E|) edge snapshot is released before
        return — the only persistent RDD a clean call may add is the
        returned state checkpoint;
    (b) edges that already are a checkpoint leaf: no second edge snapshot
        is landed AND the caller's blocks survive the call (the peel-loop
        contract).
    Failure paths are covered for every loop by
    test_loop_checkpoint_failure_releases_blocks_and_restores_conf."""
    from gmr_spark.algorithms.sssp import _SSSPProgram
    from gmr_spark.graph import PropertyGraph
    from gmr_spark.plans.loop import _drop_checkpoint_blocks
    from gmr_spark.plans.pregel import run_pregel

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "src bigint, dst bigint")
    vertices = spark.createDataFrame(
        [(i,) for i in range(65)], "id bigint")

    # (a) owned edges: exactly the returned state outlives the call
    before = _persistent_ids(spark)
    res = run_pregel(PropertyGraph(vertices=vertices, edges=edges),
                     _SSSPProgram(0, weighted=False), max_iter=4)
    assert len(_persistent_ids(spark) - before) == 1, \
        "clean run_pregel must only leave its returned state resident"
    _drop_checkpoint_blocks(res.vertices)
    assert not (_persistent_ids(spark) - before)

    # (b) caller-owned edges: not copied, not released
    edges_ckpt = edges.localCheckpoint(eager=True)
    before = _persistent_ids(spark)
    res = run_pregel(PropertyGraph(vertices=vertices, edges=edges_ckpt),
                     _SSSPProgram(0, weighted=False), max_iter=4)
    assert len(_persistent_ids(spark) - before) == 1, \
        "a leaf-edge call must not land a second edge snapshot"
    assert edges_ckpt.count() == 64  # caller's blocks untouched
    _drop_checkpoint_blocks(res.vertices)
    _drop_checkpoint_blocks(edges_ckpt)


def _record_checkpoints(monkeypatch, plans: list | None = None) -> list:
    """Patch ``LoopScope.checkpoint`` to append every frame it lands, in
    order, to the returned list, and the executed plan each frame was
    materialized from to ``plans`` if given."""
    from gmr_spark.plans import loop as runtime

    landed = []
    real, real_eager = runtime.LoopScope.checkpoint, runtime._checkpoint_eager

    def eager(frames):
        out = real_eager(frames)
        if plans is not None:
            plans.extend(df._jdf.queryExecution().executedPlan().toString()
                         for df in frames)
        return out

    def recording(self, *frames, **kwargs):
        out = real(self, *frames, **kwargs)
        for res in (out if len(frames) > 1 else (out,)):
            landed.append(res[0] if isinstance(res, tuple) else res)
        return out

    monkeypatch.setattr(runtime, "_checkpoint_eager", eager)
    monkeypatch.setattr(runtime.LoopScope, "checkpoint", recording)
    return landed


def _estimate_bits(frames) -> list[int]:
    """Bit length of each frame's plan size estimate (``sizeInBytes``)."""
    import sys

    # py4j hands the Scala BigInt over as decimal text, which Python will
    # not parse past 4,300 digits by default
    digit_limit = sys.get_int_max_str_digits()
    sys.set_int_max_str_digits(0)
    try:
        return [int(df._jdf.queryExecution().optimizedPlan().stats()
                    .sizeInBytes()).bit_length() for df in frames]
    finally:
        sys.set_int_max_str_digits(digit_limit)


def test_cc_label_loop_releases_superseded_checkpoints(spark, monkeypatch):
    """A clean connected_components run leaves exactly the returned label
    table resident: every superseded per-round label checkpoint and the
    edge snapshot are released as the loop goes (a long run would
    otherwise strand O(rounds + jump_joins) |V|-row block sets on the
    async ContextCleaner). Every checkpoint the loop lands keeps a plan
    size estimate that fits a signed 64-bit value: the jumps self-join
    the previous checkpoint, so without a re-leaf the propagated estimate
    grows by orders of magnitude per round."""
    from pyspark.sql import functions as F

    from gmr_spark.algorithms.cc import connected_components
    from gmr_spark.graph import PropertyGraph

    landed = _record_checkpoints(monkeypatch)

    # a path graph forces several propagate+jump rounds; built from
    # spark.range so its leaves carry real size estimates (a Python-list
    # frame is an RDD leaf estimated at Long.MaxValue before any loop runs)
    edges = spark.range(200).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst"),
        F.lit(1.0).alias("weight"))
    vertices = spark.range(201)

    before = _persistent_ids(spark)
    out = connected_components(
        PropertyGraph(vertices=vertices, edges=edges))
    assert out.groupBy("component").count().count() == 1  # one component
    leaked = _persistent_ids(spark) - before
    assert len(leaked) == 1, \
        f"cc must leave only the returned labels resident, found {leaked}"
    # the returned frame is a PROJECTION of the label checkpoint, so
    # _drop_checkpoint_blocks (LogicalRDD-root only) would silently no-op
    # on it — release the known id directly so the block store stays
    # clean for later tests
    _unpersist_ids(spark, leaked)
    assert not (_persistent_ids(spark) - before)
    bits = _estimate_bits(landed)
    assert len(bits) > 3, bits
    # every estimate < 2^63
    assert all(b <= 63 for b in bits), f"estimate bit lengths: {bits}"


@pytest.mark.parametrize("name", ["k_core", "scc_backward"])
def test_loop_estimates_without_releaf_grow_additively(
        spark, monkeypatch, name):
    """The loops that keep their checkpoints' stats (no re-leaf) are safe
    only because their size estimates grow at most additively: the bit
    length of checkpoint i stays within 16·i of the first. k_core's peel
    semi-joins keep the edge side's estimate; SCC's backward membership,
    run by run_pregel, joins the previous state once per superstep. A step
    that self-joins the previous checkpoint (the label kernel's pointer
    jumps) multiplies its estimate instead and breaks this bound by its
    fourth checkpoint."""
    from pyspark.sql import functions as F

    from gmr_spark.algorithms.kcore import k_core
    from gmr_spark.algorithms.scc import _MemberProgram
    from gmr_spark.graph import PropertyGraph
    from gmr_spark.plans.loop import _drop_checkpoint_blocks
    from gmr_spark.plans.pregel import run_pregel

    # both graphs are built from spark.range, so their leaves carry real
    # size estimates
    landed = _record_checkpoints(monkeypatch)
    if name == "k_core":
        # 24-vertex path at k=2: each peel drops the two end vertices
        edges = spark.range(23).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst"),
            F.lit(1.0).alias("weight"))
        out = k_core(PropertyGraph(vertices=spark.range(24), edges=edges), k=2)
        assert out.count() == 0
    else:
        # 30-ring, one color rooted at 0: the backward walk adds one
        # member per superstep. The edges are a checkpoint leaf, as SCC's
        # remainders are, so every landed frame is a membership state.
        n = 30
        edges = spark.range(n).select(
            F.col("id").alias("src"),
            ((F.col("id") + 1) % n).alias("dst")).localCheckpoint(eager=True)
        colors = spark.range(n).select("id", F.lit(0).cast("long").alias("color"))
        res = run_pregel(PropertyGraph(vertices=colors, edges=edges),
                         _MemberProgram(), max_iter=n + 2)
        out = res.vertices
        assert res.converged and out.filter("member").count() == n
        _drop_checkpoint_blocks(edges)
    bits = _estimate_bits(landed)
    _drop_checkpoint_blocks(out)
    assert len(bits) > 10, bits
    assert all(b <= bits[0] + 16 * i for i, b in enumerate(bits)), bits


def _complete_graph(spark, n: int = 40):
    """Complete digraph on ``n`` vertices; edges touching vertex 0 weigh 1,
    the rest 2. Every vertex reaches every other in one hop and the
    spanning tree is the star at 0, so each loop runs its set-up, one or
    two iterations and its exit in a handful of checkpoints. Built from
    ``spark.range`` so that reading it starts no Python worker."""
    from pyspark.sql import functions as F

    from gmr_spark.graph import PropertyGraph

    edges = (
        spark.range(n)
        .select(F.col("id").alias("src"),
                F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst",
                F.when((F.col("src") == 0) | (F.col("dst") == 0), 1.0)
                .otherwise(2.0).alias("weight"))
    )
    return PropertyGraph(vertices=spark.range(n), edges=edges,
                         n_vertices=n, n_edges=n * (n - 1))


def _run_loop(name: str, spark, g):
    from pyspark.sql import functions as F

    from gmr_spark import algorithms as A
    from gmr_spark.algorithms.kmeans import kmeans
    from gmr_spark.algorithms.sssp import _SSSPProgram
    from gmr_spark.algorithms.svdpp import svdpp_train
    from gmr_spark.algorithms.triangles import k_truss
    from gmr_spark.plans.pregel import run_pregel

    if name in ("run_pregel", "run_pregel_leaf"):
        return run_pregel(g, _SSSPProgram(0, weighted=False))
    if name == "run_dense":
        return A.pagerank(g, k=3)
    if name == "cc":
        return A.connected_components(g)
    if name == "mst":
        return A.minimum_spanning_forest(g)
    if name == "scc":
        return A.strongly_connected_components(g)
    if name == "k_core":
        return A.k_core(g, k=2)
    if name == "k_truss":
        return k_truss(g, k=3)
    if name == "svdpp":
        return svdpp_train(spark, g.edges.select(
            F.col("src").alias("u"), F.col("dst").alias("i"),
            F.col("weight").alias("r")), rank=2, iters=1)
    assert name == "kmeans"
    return kmeans(g.vertices.select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("double"),
                (F.col("id") % 7).cast("double")).alias("embedding")),
        k=3, iters=1)


@pytest.mark.parametrize("name", ["run_pregel", "run_pregel_leaf", "run_dense",
                                  "cc", "mst", "scc", "k_core", "k_truss",
                                  "svdpp", "kmeans"])
def test_loop_checkpoint_failure_releases_blocks_and_restores_conf(
        spark, monkeypatch, name):
    """Every iterative loop, failed at each of its localCheckpoint calls in
    turn, leaves no new persistent RDD and the session's loop conf as it
    found it. A clean run first counts the calls. The injected failure is
    the worst shape: the checkpoint's job persisted its blocks and THEN
    the call raised, so nothing but the loop scope's own bookkeeping can
    release them. ``run_pregel_leaf`` hands run_pregel edges the test
    checkpointed itself: they are read in place, and no exit may release
    them."""
    import dataclasses
    import threading

    from gmr_spark.plans.loop import _drop_checkpoint_blocks

    g = _complete_graph(spark)
    if name == "run_pregel_leaf":
        g = dataclasses.replace(g, edges=g.edges.localCheckpoint(eager=True))
    # patch the CONCRETE class (pyspark.sql.classic.dataframe.DataFrame on
    # Spark 4) — the pyspark.sql.DataFrame parent's method is overridden
    DataFrame = type(g.edges)
    real = DataFrame.localCheckpoint
    lock = threading.Lock()
    calls = {"n": 0, "fail_at": 0}

    def persist_then_fail(self, eager=True):
        out = real(self, eager=eager)
        with lock:  # pair checkpoints call in from two pool threads
            calls["n"] += 1
            fail = calls["n"] == calls["fail_at"]
        if fail:
            raise RuntimeError("injected localCheckpoint failure")
        return out

    monkeypatch.setattr(DataFrame, "localCheckpoint", persist_then_fail)
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    base_conf = [spark.conf.get(k) for k in keys]

    before = _persistent_ids(spark)
    _run_loop(name, spark, g)
    n_calls = calls["n"]
    assert n_calls >= 1
    assert [spark.conf.get(k) for k in keys] == base_conf
    _unpersist_ids(spark, _persistent_ids(spark) - before)  # the output

    problems = []
    for fail_at in range(1, n_calls + 1):
        calls.update(n=0, fail_at=fail_at)
        before = _persistent_ids(spark)
        with pytest.raises(RuntimeError, match="injected localCheckpoint"):
            _run_loop(name, spark, g)
        leaked = _persistent_ids(spark) - before
        if leaked:
            problems.append(f"call {fail_at} stranded RDDs {sorted(leaked)}")
        if [spark.conf.get(k) for k in keys] != base_conf:
            problems.append(f"call {fail_at} left the loop conf applied")
        if name == "run_pregel_leaf" and g.edges.count() != g.n_edges:
            problems.append(f"call {fail_at} released the caller's edges")
    assert not problems, f"{name}, {n_calls} calls: " + "; ".join(problems)
    if name == "run_pregel_leaf":
        _drop_checkpoint_blocks(g.edges)


def test_checkpoint_eager_rejects_concurrent_entry(spark):
    """LoopScope.checkpoint's single-driver-thread contract is cheaply
    ENFORCED — a second driver thread entering while a call is in flight
    (simulated by holding the module's checkpoint lock) raises
    RuntimeError up front instead of silently racing the RDD-id snapshot
    and risking a live checkpoint's blocks. The lock is released on every
    exit path, so a clean call afterwards still works."""
    from gmr_spark.plans import loop as runtime

    df = spark.range(3)
    with runtime.LoopScope(spark) as loop:
        assert runtime._CHECKPOINT_LOCK.acquire(blocking=False)
        try:
            with pytest.raises(RuntimeError, match="concurrent entry"):
                loop.checkpoint(df)
        finally:
            runtime._CHECKPOINT_LOCK.release()
        out = loop.checkpoint(df)
        assert out.count() == 3
        assert not runtime._CHECKPOINT_LOCK.locked()  # released on success


def test_checkpoint_eager_pair_concurrent_and_clean(spark, monkeypatch):
    """LoopScope.checkpoint with several frames materializes their eager
    localCheckpoints as concurrent jobs under one lock acquisition. Pins:
    (a) both jobs are in flight at once; (b) both results are
    block-backed LogicalRDD leaves with the right values and their census
    comes back; (c) the lock is released afterwards and concurrent entry
    is rejected; (d) a failure inside either materialization releases
    EVERY id the call persisted; (e) the scope releases its frames on
    exit."""
    import threading

    from pyspark.sql import functions as F

    from gmr_spark.plans import loop as runtime

    a = spark.range(5).select(F.col("id").alias("x"))
    b = spark.range(7).select((F.col("id") * 2).alias("y"))
    DataFrame = type(a)
    real = DataFrame.localCheckpoint
    # each call waits for the other at a barrier: run one after the other,
    # the first would time out and break it
    barrier = threading.Barrier(2, timeout=30)

    def rendezvous(self, eager=True):
        barrier.wait()
        return real(self, eager=eager)

    before = _persistent_ids(spark)
    monkeypatch.setattr(DataFrame, "localCheckpoint", rendezvous)
    with runtime.LoopScope(spark) as loop:
        ra, (rb, census) = loop.checkpoint(a, (b, {"n": F.count(F.lit(1))}))
        monkeypatch.setattr(DataFrame, "localCheckpoint", real)
        for r in (ra, rb):
            assert (r._jdf.queryExecution().analyzed().getClass().getSimpleName()
                    == "LogicalRDD")
        assert ra.count() == 5 and rb.count() == 7 and census == {"n": 7}
        assert not runtime._CHECKPOINT_LOCK.locked()  # released on success
        assert runtime._CHECKPOINT_LOCK.acquire(blocking=False)
        try:
            with pytest.raises(RuntimeError, match="concurrent entry"):
                loop.checkpoint(a, b)
        finally:
            runtime._CHECKPOINT_LOCK.release()
    assert not (_persistent_ids(spark) - before), "scope exit leaked"

    # failure path: one side's materializing job fails -> nothing persisted
    # by the call survives (the snapshot-diff release covers BOTH sides)
    @F.udf("long")
    def _boom(v):
        raise ValueError("forced pair failure")

    bad = spark.range(4).select(_boom(F.col("id")).alias("z"))
    for pair in ((spark.range(3), bad), (bad, spark.range(3))):
        before = _persistent_ids(spark)
        with runtime.LoopScope(spark) as loop:
            with pytest.raises(Exception, match="forced pair failure"):
                loop.checkpoint(*pair)
            assert not (_persistent_ids(spark) - before), \
                "failed pair checkpoint leaked persisted RDDs"
        assert not runtime._CHECKPOINT_LOCK.locked()


def test_loop_checkpoint_fallback_without_persistent_rdd_api(
        spark, monkeypatch):
    """If the private ``getPersistentRDDs`` API is unavailable, the scope's
    checkpoint still returns block-backed frames with the right values
    (only the failure-path release is lost) and WARNS once per process,
    not once per call."""
    import warnings

    from pyspark.sql import functions as F

    from gmr_spark.plans import loop as runtime

    class _NoPersistentRDDs:
        def __init__(self, jsc):
            self._jsc = jsc

        def getPersistentRDDs(self):
            raise RuntimeError("private API unavailable")

        def __getattr__(self, name):
            return getattr(self._jsc, name)

    sc = spark.sparkContext
    monkeypatch.setattr(runtime, "_WARNED_FALLBACKS", set())
    monkeypatch.setattr(sc, "_jsc", _NoPersistentRDDs(sc._jsc))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        with runtime.LoopScope(spark) as loop:
            (a, census), b = loop.checkpoint(
                (spark.range(5).select((F.col("id") * 3).alias("x")),
                 {"n": F.count(F.lit(1))}),
                spark.range(4))
            c = loop.checkpoint(spark.range(2))
            for r in (a, b, c):
                assert (r._jdf.queryExecution().analyzed().getClass()
                        .getSimpleName() == "LogicalRDD")
            assert sorted(r.x for r in a.collect()) == [0, 3, 6, 9, 12]
            assert census == {"n": 5}
            assert b.count() == 4 and c.count() == 2
    msgs = [str(w.message) for w in caught
            if issubclass(w.category, RuntimeWarning)]
    assert len(msgs) == 1, msgs
    assert "LoopScope.checkpoint" in msgs[0] and "private Spark JVM API" in msgs[0]


def test_python_worker_prewarm_runs_clean(spark):
    """r15: the session-start Python-worker pre-warm (§4.5 — absorbs the
    ~1.8 s/worker Arrow cold-start otherwise billed to the first ANN /
    multimodal query) must actually RUN. It is wrapped in a
    warn-and-continue except, so a silently broken warm-up (e.g. the
    string-annotation pandas_udf signature this test was written against)
    still passes every functional test — pin that it executes without
    falling into the warning path, and that repeat calls are memoized."""
    import warnings

    from gmr_spark import session as S

    app_id = spark.sparkContext.applicationId
    S._PREWARMED_APPS.discard(app_id)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        S._prewarm_python_workers(spark)
    assert not [w for w in caught if "pre-warm failed" in str(w.message)], \
        "python worker pre-warm fell into its failure path"
    assert app_id in S._PREWARMED_APPS
    # memoized: a second call is a no-op (no second noop-write job)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        S._prewarm_python_workers(spark)
    assert not caught
