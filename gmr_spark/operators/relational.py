"""Relational pass-through surface (SURVEY §2.2 / M4).

The reference has no relational operators (its only filter is the active-
vertex frontier, partition.h:516-534; its only "joins" are the vertex-id
sorted merges, gmr.h:128-167). The new engine exposes the full Spark
relational algebra as declared, oracle-checked operators over the driver
tables: scan/filter/project, multi-way joins, aggregation, rollup, windows,
set ops, top-k, sessionization, as-of join, global sort.

Determinism contract with DuckDB (the driver hash-compares values):
- every non-associative double SUM is computed on DECIMAL-cast inputs
  (lossless: the synthetic data is ≤4 dp), ROUNDed so the scaled integer
  stays below 2^53 (DuckDB's wide-decimal→double cast is int128-lossy
  above that), and cast back to DOUBLE;
- every window/top-k ORDER BY ends with a unique key as tiebreak;
- averages are exact-decimal sums divided by counts, in double, identically
  on both engines.

Scale notes are per-operator docstrings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from gmr_spark.sources.tables import load_tables


def _dec(col: str, scale: int = 4, precision: int = 18) -> F.Column:
    return F.col(col).cast(f"decimal({precision},{scale})")


# Broadcast-hint policy (round 6): F.broadcast FORCES a broadcast regardless
# of runtime size, so explicit hints are reserved for sides bounded by
# CONSTRUCTION — nation/region (25/5 rows forever) and 1-row/O(#partitions)
# aggregates. Sides that scale with SF (customer/supplier/part and their
# filtered slices, HAVING tails, distinct-key sets) are left UNHINTED: AQE
# broadcasts them at runtime while they fit the threshold and degrades to a
# shuffle join — not a forced driver collect and OOM — at the 100 TB tail
# (same contract as unigram_lm_score's vocabulary join and the pregel
# adaptive-frontier gate's G2 broadcast-abort lesson). Measured at 120M
# lineitem rows (SCALE.md): the then-forced 3M-row customer broadcast in q5
# was the fragile outlier (25.5 s / 55.2 s across runs); at bench SF the
# unhinted plans converge to the same broadcasts via AQE, pinned in
# tests/test_plans.py on EXECUTED (isFinalPlan) plans.


# Narrow decimals on purpose: Spark's decimal multiply adds precisions
# (p1+p2+1) and silently ROUNDS once the result exceeds 38
# (allowPrecisionLoss), while DuckDB keeps full scale — a cross-engine
# divergence. (12,2)*(7,4)*(7,4) tops out at precision 28 → exact on both.
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan + filter + groupBy + 6 aggregates.
    Plan: single parquet scan with shipdate filter + projected columns pushed
    down; partial+final hash aggregate; no shuffle beyond the 2-key groupBy."""
    li = load_tables(spark, sf_dir)["lineitem"]
    one = F.lit(1).cast("decimal(6,4)")
    disc_price = _dec("l_extendedprice", 2, 12) * (one - _dec("l_discount", 4, 6))
    charge = disc_price * (one + _dec("l_tax", 4, 6))
    qty_sum = F.sum(_dec("l_quantity", 2, 12))
    return (
        # cast the literal to the column's own type: parquet nanos read as
        # TIMESTAMP_NTZ, and an NTZ comparison is session-TZ-independent (the
        # driver's bare session does not pin UTC; a plain timestamp cast
        # would shift the cutoff)
        li.filter(F.col("l_shipdate")
                  <= F.lit("1998-09-02 00:00:00").cast(li.schema["l_shipdate"].dataType))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            qty_sum.cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice", 2)).cast("double").alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(charge), 2).cast("double").alias("sum_charge"),
            (qty_sum.cast("double") / F.count(F.lit(1)).cast("double")).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + agg + deterministic top-10. The BUILDING customer slice is
    AQE-broadcast while it fits (unhinted — module broadcast policy);
    lineitem⋈orders shuffles on orderkey."""
    t = load_tables(spark, sf_dir)
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    revenue = F.sum(_dec("l_extendedprice", 2, 12) * (F.lit(1).cast("decimal(6,4)") - _dec("l_discount", 4, 6)))
    joined = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(F.round(revenue, 2).cast("double").alias("revenue"))
    )
    # top-10 via orderBy+limit -> TakeOrderedAndProject (per-partition local
    # top-k, 10 rows per partition reach the driver-side merge) — not a
    # row_number over an unpartitioned window, which funnels every
    # per-order aggregate through one task (the q10/global_sort_rank
    # scale-killer, removed here too)
    return (
        joined.orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_orderpriority", "revenue")
    )


def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way join with local-supplier predicate (supplier nation = customer
    nation), revenue per nation. nation is hint-broadcast (bounded);
    supplier/customer are unhinted (module broadcast policy — AQE
    broadcasts while they fit); the fact join shuffles once."""
    t = load_tables(spark, sf_dir)
    revenue = F.sum(_dec("l_extendedprice", 2, 12) * (F.lit(1).cast("decimal(6,4)") - _dec("l_discount", 4, 6)))
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("s_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.round(revenue, 2).cast("double").alias("revenue"))
    )


def filter_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate-pushdown scan: both the status and price filters reach the
    parquet reader (PushedFilters), only 3 columns read (ReadSchema)."""
    orders = load_tables(spark, sf_dir)["orders"]
    return orders.filter(
        (F.col("o_orderstatus") == "O") & (F.col("o_totalprice") > 200000.0)
    ).select("o_orderkey", "o_custkey", "o_totalprice")


def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts per brand by retail price — Window + row_number, the
    standard per-key top-k that avoids a global sort."""
    part = load_tables(spark, sf_dir)["part"]
    w = W.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(), F.col("p_partkey"))
    return (
        part.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rn")
    )


def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT surface: customers with vs without orders."""
    t = load_tables(spark, sf_dir)
    cust = t["customer"].select(F.col("c_custkey").alias("key"))
    ordered = t["orders"].select(F.col("o_custkey").alias("key"))
    both = cust.intersect(ordered).select(F.lit("both").alias("tag"), "key")
    only = cust.subtract(ordered).select(F.lit("cust_only").alias("tag"), "key")
    return both.unionByName(only)


def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (region, nation) over order totals — grouping-sets surface."""
    t = load_tables(spark, sf_dir)
    joined = (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return joined.rollup("r_name", "n_name").agg(
        F.sum(_dec("o_totalprice", 2)).cast("double").alias("total_revenue"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running sum/sequence over the event stream (ordered window)."""
    ev = load_tables(spark, sf_dir)["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.row_number().over(w).alias("seq"),
        F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double").alias("running_value"),
    )


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min): lag + flag + running count.
    The batch twin of streaming session_window."""
    ev = load_tables(spark, sf_dir)["events"]
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag(F.col("ts").cast("long")).over(w)
    is_new = F.when(
        prev_ts.isNull() | ((F.col("ts").cast("long") - prev_ts) > 1800), 1
    ).otherwise(0)
    return ev.select(
        "event_id", "user_id", is_new.alias("is_new"), F.col("ts")
    ).select(
        "event_id",
        "user_id",
        F.sum("is_new").over(w).cast("int").alias("session_seq"),
    )


def asof_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each event, the user's most recent order at event time
    (latest o_orderdate ≤ ts; orderkey desc tiebreak). Expressed as
    join + per-event row_number — Spark lacks a native as-of join; at 100 TB
    the range key would be bucketed first (see pyspark guide 'as-of join')."""
    t = load_tables(spark, sf_dir)
    ev = t["events"].select("event_id", "user_id", "ts")
    orders = t["orders"].select("o_orderkey", "o_custkey", "o_orderdate")
    # max_by over a (date, key) struct replaces the r01 per-event window:
    # the aggregate is map-side partial (each shuffle partition keeps ONE
    # candidate per event before the exchange), so a hot user whose events
    # match millions of earlier orders never materializes the full
    # event×order pair list past the map side — the window version sorted
    # that whole pair list per event. (o_orderkey is unique, so the struct
    # order is strict and the pick deterministic.)
    matched = (
        ev.join(orders, (F.col("o_custkey") == F.col("user_id"))
                & (F.col("o_orderdate") <= F.col("ts")))
        .groupBy("event_id")
        .agg(F.max_by(
            "o_orderkey", F.struct("o_orderdate", "o_orderkey")
        ).alias("asof_orderkey"))
    )
    return ev.select("event_id").join(matched, "event_id", "left")


def global_rank(df: DataFrame, n_parts: int, *order_cols: str) -> DataFrame:
    """Distributed total-order rank — the sample-sort core shared by
    ``global_sort_rank`` (sf-dir query) and the G2-class scale probe
    (the ``sort`` family of scripts/scale.py). Range-shuffle on ``order_cols``
    (RangePartitioning = the sample-sort splitter exchange), tag each row
    with its range-partition id, rank within each partition in parallel,
    then add per-partition cumulative offsets. The offset table is one row
    per partition, so its window and the broadcast join are O(#parts) —
    every full-data operation stays parallel at any scale. ``order_cols``
    must form a strict total order for the rank to be deterministic.
    Returns the input columns + ``rnk`` (BIGINT, 1-based).

    RESERVED NAMES: the helper adds-then-drops ``_pid``/``_rn``/``_offset``
    and writes ``rnk`` — an input already carrying any of them would be
    silently corrupted, so it is rejected up front (round-9 ADVICE item 4;
    the helper is a shared public entry point since the r9 extraction).
    The comparison follows the SAME namespace the engine resolves in:
    case-insensitive unless ``spark.sql.caseSensitive`` is true (round-10
    ADVICE item 2 — an input column ``Rnk`` used to bypass the guard and
    still be clobbered by the case-insensitive ``withColumn``)."""
    reserved = {"_pid", "_rn", "_offset", "rnk"}
    case_sensitive = (
        df.sparkSession.conf.get("spark.sql.caseSensitive", "false").lower()
        == "true")
    if case_sensitive:
        clash = sorted(reserved.intersection(df.columns))
    else:
        clash = sorted(c for c in df.columns if c.lower() in reserved)
    if clash:
        raise ValueError(
            f"global_rank: input columns {clash} collide with the "
            "helper's reserved names (_pid, _rn, _offset, rnk) — rename "
            "them before ranking")
    tagged = df.repartitionByRange(n_parts, *order_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_local = W.partitionBy("_pid").orderBy(*order_cols)
    local = tagged.withColumn("_rn", F.row_number().over(w_local))
    # offsets: #parts rows — the tiny-side window is bounded by cluster size
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
        .select("_pid", "_offset")
    )
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn("rnk", F.col("_rn") + F.col("_offset"))
        .drop("_pid", "_rn", "_offset")
    )


def global_sort_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global total-order rank over events — the engine expression of the
    reference's MPI sample sort (samplesort.cpp:21-191, O18); the rank core
    lives in ``global_rank``. (event_id is unique, so (value, event_id) is
    a strict total order and the rank is deterministic regardless of where
    the range boundaries fall.)"""
    ev = load_tables(spark, sf_dir)["events"].select("event_id", "value")
    n_parts = ev.sparkSession.sparkContext.defaultParallelism
    return global_rank(ev, n_parts, "value", "event_id").select(
        "event_id", F.col("rnk").cast("int").alias("rnk")
    )


def distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) per group (expand + two-phase agg under the hood)."""
    ev = load_tables(spark, sf_dir)["events"]
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event_type → per-user count columns."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .count()
        .na.fill(0, list(EVENT_TYPES))
    )


def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE (status, priority): all 4 grouping-set combinations."""
    orders = load_tables(spark, sf_dir)["orders"]
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_dec("o_totalprice", 2)).cast("double").alias("total_price"),
    )


def exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median/p90 of event value per type (linear interpolation —
    identical formula to DuckDB's quantile_cont; rounded 6dp). The
    approx_percentile variant exists for 100 TB inputs but is engine-specific
    and therefore not oracle-declared."""
    ev = load_tables(spark, sf_dir)["events"]
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.min("value"), 6).alias("vmin"),
        F.round(F.max("value"), 6).alias("vmax"),
    )


def distinct_agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics as distinct_agg, via the two-stage salted plan
    (gmr_spark.functions.skew) — the skew-proof physical strategy, verified
    against the identical oracle."""
    from gmr_spark.functions.skew import salted_count_distinct

    ev = load_tables(spark, sf_dir)["events"]
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    distincts = salted_count_distinct(ev, "event_type", "user_id",
                                      out_col="n_users")
    return distincts.join(counts, "event_type").select(
        "event_type", "n_users", "n_events"
    )


def approx_sketch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based aggregates — the 100 TB path where exact
    COUNT(DISTINCT)/percentile would shuffle everything: HyperLogLog++
    (approx_count_distinct) and t-digest-style approx_percentile. Declared
    WITHOUT an oracle twin (sketch outputs are engine-specific); the driver
    records a rows-only check, and the exact twins (distinct_agg,
    exact_percentiles) bound the truth."""
    ev = load_tables(spark, sf_dir)["events"]
    # scalar columns only: the driver's rows-only canonicalizer cannot hash
    # ARRAY cells (CORRECTNESS_r01 TypeError), so each quantile is its own
    # approx_percentile call — Spark's planner collapses them into one
    # ApproximatePercentile pass per group either way.
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.expr("approx_percentile(value, 0.5)").alias("approx_p50"),
        F.expr("approx_percentile(value, 0.9)").alias("approx_p90"),
        F.expr("approx_percentile(value, 0.99)").alias("approx_p99"),
    )


def approx_sketch_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bound-check oracle for the sketch surface (round-3 verdict item 2):
    sketch OUTPUTS are engine-specific (HLL++ registers, sketch internals),
    so the cross-engine-checkable claim is the sketch's accuracy CONTRACT —
    computed Spark-side against the exact aggregates in the same pass, with
    the DuckDB twin asserting every bound holds (literal TRUEs per group).
    Both sketches are deterministic for a fixed dataset, so the booleans are
    stable rows, not flaky assertions:

    - HLL++ at the default rsd=0.05: relative error of approx_count_distinct
      vs exact COUNT(DISTINCT) within 10% (2·rsd headroom);
    - approx_percentile at the default accuracy 10000 guarantees rank error
      ≤ 1e-4·n, so each approx quantile must land inside a generous exact
      rank band (±0.05 of the target quantile; p99's upper band is max).

    The raw-value twin ``approx_sketch_stats`` stays bench-only (HEADLINE)
    as the 100 TB performance path."""
    ev = load_tables(spark, sf_dir)["events"]
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("au"),
        F.countDistinct("user_id").alias("eu"),
        F.expr("approx_percentile(value, 0.5)").alias("ap50"),
        F.expr("approx_percentile(value, 0.9)").alias("ap90"),
        F.expr("approx_percentile(value, 0.99)").alias("ap99"),
        F.expr("percentile(value, 0.45)").alias("lo50"),
        F.expr("percentile(value, 0.55)").alias("hi50"),
        F.expr("percentile(value, 0.85)").alias("lo90"),
        F.expr("percentile(value, 0.95)").alias("hi90"),
        F.expr("percentile(value, 0.94)").alias("lo99"),
        F.max("value").alias("hi99"),
    )
    return agg.select(
        "event_type",
        # eu = 0 (all-NULL user_ids in a group) divides by zero -> NULL,
        # which would mismatch the oracle's literal TRUE; the sketch of an
        # empty set is vacuously in bounds
        F.when(F.col("eu") == 0, F.lit(True))
        .otherwise(F.abs(F.col("au") - F.col("eu")) / F.col("eu") <= 0.10)
        .alias("users_within_10pct"),
        F.col("ap50").between(F.col("lo50"), F.col("hi50")).alias("p50_in_band"),
        F.col("ap90").between(F.col("lo90"), F.col("hi90")).alias("p90_in_band"),
        F.col("ap99").between(F.col("lo99"), F.col("hi99")).alias("p99_in_band"),
    )


def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-expression surface: regexp extraction from the JSON props
    column, string + conditional functions — all JVM-codegen'd."""
    ev = load_tables(spark, sf_dir)["events"]
    return ev.select(
        "event_id",
        F.regexp_extract("props", r'"k": ([0-9]+)', 1).cast("int").alias("prop_k"),
        F.upper("event_type").alias("type_upper"),
        F.length("event_type").alias("type_len"),
        F.when(F.col("value") >= 50.0, "high").otherwise("low").alias("value_band"),
    )


def semi_join_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped EXISTS: orders with at least one returned lineitem,
    counted per priority. ``left_semi`` keeps the probe side unduplicated (no
    distinct needed) and never materializes lineitem columns — at scale the
    build side stays a bare orderkey stream."""
    t = load_tables(spark, sf_dir)
    returned = (
        t["lineitem"].filter(F.col("l_returnflag") == "R").select("l_orderkey")
    )
    orders = t["orders"]
    return (
        orders.join(returned, orders["o_orderkey"] == returned["l_orderkey"],
                    "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def anti_join_quiet_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS via ``left_anti``: customers with no order over 300k."""
    t = load_tables(spark, sf_dir)
    big = (
        t["orders"].filter(F.col("o_totalprice") > 300000.0).select("o_custkey")
    )
    cust = t["customer"]
    return (
        cust.join(big, cust["c_custkey"] == big["o_custkey"], "left_anti")
        .select("c_custkey", "c_mktsegment",
                F.col("c_acctbal").cast("double").alias("acctbal"))
    )


def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval self-join: for each event, how many events of the same user
    follow within 1 hour. The equi-key (user_id) keeps this a hash join with
    a range residual — the scalable shape; a pure range theta-join would be
    a nested-loop cross product."""
    ev = load_tables(spark, sf_dir)["events"].select("event_id", "user_id", "ts")
    e1 = ev.select(F.col("event_id").alias("eid"), F.col("user_id").alias("uid"),
                   F.col("ts").alias("t1"))
    e2 = ev.select(F.col("user_id").alias("uid"), F.col("ts").alias("t2"))
    joined = e1.join(
        e2,
        (e1["uid"] == e2["uid"])
        & (F.col("t2") > F.col("t1"))
        & (F.col("t2") <= F.col("t1") + F.expr("INTERVAL 1 HOUR")),
        "left",
    )
    return joined.groupBy(F.col("eid").alias("event_id")).agg(
        F.count("t2").alias("n_follow")
    )


def make_zscore_fn():
    """Grouped-map normalization for applyInPandas — nested closure so
    cloudpickle ships it by value (workers can't import this package)."""

    def zscore(pdf):
        import pandas as pd

        m = pdf["value"].mean()
        s = pdf["value"].std(ddof=1)
        out = pdf[["event_id", "event_type"]].copy()
        if pd.isna(s):  # 1-row group: stddev_samp is NULL in SQL, NaN here
            out["z"] = None
        else:
            out["z"] = ((pdf["value"] - m) / s).round(6)
        return out

    return zscore


def zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score via ``applyInPandas`` — the declared Arrow
    grouped-map surface (the batch sibling of streaming's
    applyInPandasWithState), proving the custom-Python path against the same
    SQL oracle. The JVM twin ``zscore_events_window`` is the headline/
    production variant (round-3 verdict item 5): at 100× this one pays Arrow
    serialization of the full events table that the window twin doesn't."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.select("event_id", "event_type", "value")
        .groupBy("event_type")
        .applyInPandas(make_zscore_fn(),
                       schema="event_id bigint, event_type string, z double")
    )


def zscore_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score entirely in whole-stage codegen: one
    ``Window.partitionBy(event_type)`` computes the group mean and sample
    stddev next to each row — no Python, no Arrow transfer, one shuffle on
    the group key. Same oracle SQL as ``zscore_events`` (the applyInPandas
    declared-surface twin); a plan pin asserts no Python eval node."""
    ev = load_tables(spark, sf_dir)["events"]
    w = W.partitionBy("event_type")
    return (
        ev.select("event_id", "event_type", "value")
        .withColumn("_m", F.avg("value").over(w))
        .withColumn("_s", F.stddev_samp("value").over(w))
        .select(
            "event_id", "event_type",
            F.round((F.col("value") - F.col("_m")) / F.col("_s"), 6).alias("z"),
        )
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate — every predicate reaches
    the parquet reader (PushedFilters), zero shuffles before the single
    global agg. The canary query for pushdown regressions."""
    li = load_tables(spark, sf_dir)["lineitem"]
    ts_t = li.schema["l_shipdate"].dataType
    rev = F.sum(_dec("l_extendedprice", 2, 12) * _dec("l_discount", 4, 6))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast(ts_t))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast(ts_t))
            & (F.col("l_discount") >= 0.02) & (F.col("l_discount") <= 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(rev, 2).cast("double").alias("revenue"))
    )


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: a HAVING subquery on the fact table feeding a
    customer join. The quantity rollup shuffles once on orderkey; the
    surviving order set is a thin (but SF-linear) tail, so AQE broadcasts
    it at runtime in both follow-up joins (unhinted — module policy)."""
    t = load_tables(spark, sf_dir)
    big = (
        t["lineitem"].groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity", 2, 12)).alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        t["orders"].join(big,
                         F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_totalprice",
                F.col("total_qty").cast("double").alias("total_qty"))
    )


def q7_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: trade volume between the nation pair (0, 1) in both
    directions, by ship year. Both dim sides are pre-filtered to the two
    nations BEFORE the fact join (the nationkey predicate reaches the
    supplier/customer parquet scans), so the fact rows that survive the two
    filtered-dim joins (unhinted, AQE-broadcast while they fit) are already
    pair-only; one shuffle for the final group."""
    t = load_tables(spark, sf_dir)
    rev = F.sum(
        _dec("l_extendedprice", 2, 12)
        * (F.lit(1).cast("decimal(6,4)") - _dec("l_discount", 4, 6))
    )
    supp = t["supplier"].filter(F.col("s_nationkey").isin(0, 1)).select(
        "s_suppkey", "s_nationkey"
    )
    cust = t["customer"].filter(F.col("c_nationkey").isin(0, 1)).select(
        "c_custkey", "c_nationkey"
    )
    n1 = t["nation"].select(F.col("n_nationkey").alias("s_nk"),
                            F.col("n_name").alias("supp_nation"))
    n2 = t["nation"].select(F.col("n_nationkey").alias("c_nk"),
                            F.col("n_name").alias("cust_nation"))
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").alias("l_year"))
        .agg(F.round(rev, 2).cast("double").alias("revenue"))
    )


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: nation 0's market share, per order year, of STANDARD
    parts bought by customers in region 0. Share = conditional-sum /
    total-sum, both rounded to cents then divided as doubles (the Q14
    pattern — decimal widths differ across engines above ROUND(·, 2)).
    nation/region hint-broadcast; part/customer/supplier slices unhinted
    (module broadcast policy); single fact shuffle on the year group."""
    t = load_tables(spark, sf_dir)
    vol = (
        _dec("l_extendedprice", 2, 12)
        * (F.lit(1).cast("decimal(6,4)") - _dec("l_discount", 4, 6))
    )
    parts = t["part"].filter(F.col("p_type") == "STANDARD").select("p_partkey")
    region0_nations = t["nation"].filter(F.col("n_regionkey") == 0).select(
        F.col("n_nationkey").alias("cust_nk")
    )
    cust = t["customer"].select("c_custkey", "c_nationkey")
    supp = t["supplier"].select("s_suppkey", "s_nationkey")
    df = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(parts, F.col("l_partkey") == F.col("p_partkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(region0_nations),
              F.col("c_nationkey") == F.col("cust_nk"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            vol.alias("volume"),
            (F.col("s_nationkey") == 0).alias("is_target"),
        )
    )
    zero = F.lit(0).cast("decimal(22,6)")
    return df.groupBy("o_year").agg(
        (
            F.round(F.sum(F.when(F.col("is_target"), F.col("volume"))
                          .otherwise(zero)), 2).cast("double")
            / F.round(F.sum("volume"), 2).cast("double")
        ).alias("mkt_share")
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum revenue over a
    3-month ship window. The per-supplier rollup shuffles once; the scalar
    max is a 1-row broadcast back onto it (no global sort, ties kept).
    The equality compare happens on DECIMAL, never double."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"]
    ts_t = li.schema["l_shipdate"].dataType
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast(ts_t))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast(ts_t))
        )
        .groupBy("l_suppkey")
        .agg(F.round(F.sum(
            _dec("l_extendedprice", 2, 12)
            * (F.lit(1).cast("decimal(6,4)") - _dec("l_discount", 4, 6))
        ), 2).alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_mx"))
        .join(t["supplier"].select("s_suppkey", "s_name"),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name",
                F.col("total_revenue").cast("double").alias("total_revenue"))
    )


def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: average yearly revenue lost if Brand#1 orders below
    20% of the part's average quantity were no longer taken. The threshold
    compare is exact decimal cross-multiplication (qty*5*cnt < sum_qty) —
    never a float average, whose distributed fold order could flip boundary
    rows vs the single-threaded oracle. The brand part slice and the
    per-part stats table are AQE-broadcast while they fit (unhinted —
    module broadcast policy)."""
    t = load_tables(spark, sf_dir)
    b1 = t["part"].filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    li = (
        t["lineitem"].select("l_partkey", "l_quantity", "l_extendedprice")
        .join(b1, F.col("l_partkey") == F.col("p_partkey"))
    )
    # widths chosen so qty(8,2) * 5(2,0) * cnt(10,0) = decimal(22,2) stays
    # far under the 38-precision cap (Spark silently ROUNDS past it)
    stats = li.groupBy(F.col("l_partkey").alias("sp")).agg(
        F.sum(_dec("l_quantity", 2, 8)).alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    )
    small = (
        li.join(stats, F.col("l_partkey") == F.col("sp"))
        .filter(
            _dec("l_quantity", 2, 8) * F.lit(5).cast("decimal(2,0)")
            * F.col("cnt").cast("decimal(10,0)")
            < F.col("sum_qty")
        )
    )
    return small.agg(
        F.round(
            F.round(F.sum(_dec("l_extendedprice", 2, 12)), 2).cast("double")
            / F.lit(7.0),
            2,
        ).alias("avg_yearly")
    )


def q4_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape adapted to the reduced schema (no l_commitdate /
    l_receiptdate): orders with at least one lineitem shipped more than 60
    days after the order date, counted per priority. EXISTS via left_semi
    with an interval-arithmetic residual on the equi-join — stays a hash
    join; the probe side never duplicates."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].select("l_orderkey", "l_shipdate")
    orders = t["orders"]
    return (
        orders.join(
            li,
            (orders["o_orderkey"] == li["l_orderkey"])
            & (li["l_shipdate"]
               > orders["o_orderdate"] + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned items per customer, top 20.
    Fact-fact join shuffles once on orderkey; nation is hint-broadcast,
    customer unhinted (module broadcast policy);
    deterministic top-k tiebroken by custkey."""
    t = load_tables(spark, sf_dir)
    revenue = F.sum(
        _dec("l_extendedprice", 2, 12)
        * (F.lit(1).cast("decimal(6,4)") - _dec("l_discount", 4, 6))
    )
    agg = (
        t["lineitem"].filter(F.col("l_returnflag") == "R")
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(revenue, 2).cast("double").alias("revenue"))
    )
    # Top-20 via orderBy+limit, planned as TakeOrderedAndProject: every
    # partition computes a local top-20 and only those rows reach the driver
    # stage — unlike a row_number over an unpartitioned window, which would
    # funnel the whole per-customer aggregate through one task.
    return (
        agg.orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", F.col("c_acctbal").cast("double").alias("acctbal"),
                "n_name", "revenue")
    )


def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape adapted (no l_shipmode column): late-shipped lines
    grouped by return flag, with conditional aggregation splitting
    high-priority (1-URGENT / 2-HIGH) from low-priority order counts. The
    CASE-inside-SUM stays whole-stage-codegen; one shuffle on the join key,
    one on the 1-byte group key."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"].select("l_orderkey", "l_shipdate", "l_returnflag")
    orders = t["orders"].select("o_orderkey", "o_orderdate", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count — a LEFT
    OUTER join (customers with zero orders must appear) feeding two stacked
    aggregations. Both aggs are partial+final; the second one's input is at
    most |distinct order counts| × #partitions rows."""
    t = load_tables(spark, sf_dir)
    cust = t["customer"].select("c_custkey")
    orders = t["orders"].select("o_orderkey", "o_custkey")
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share — conditional aggregate ratio
    over a part join within a ship-date month. part joins unhinted (module
    broadcast policy); the ratio
    is computed from two exact-decimal sums rounded identically on both
    engines before the (deterministic IEEE) double division."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"]
    ts_t = li.schema["l_shipdate"].dataType
    disc_price = _dec("l_extendedprice", 2, 12) * (
        F.lit(1).cast("decimal(6,4)") - _dec("l_discount", 4, 6)
    )
    promo = F.col("p_type") == "PROMO"
    joined = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast(ts_t))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast(ts_t))
        )
        .join(t["part"], F.col("l_partkey") == F.col("p_partkey"))
    )
    return joined.agg(
        (
            F.lit(100.0)
            * F.round(F.sum(F.when(promo, disc_price).otherwise(F.lit(0).cast("decimal(22,6)"))), 2).cast("double")
            / F.round(F.sum(disc_price), 2).cast("double")
        ).alias("promo_revenue_pct")
    )


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape adapted (no p_container / l_shipmode): revenue over an
    OR-of-ANDs predicate tying part attributes to lineitem quantities. The
    disjunction sits on the join output; the equi-key (partkey) keeps the
    join hash-based (part unhinted — module broadcast policy), and each
    disjunct's part-side conjuncts could prune the build side."""
    t = load_tables(spark, sf_dir)
    revenue = F.sum(
        _dec("l_extendedprice", 2, 12)
        * (F.lit(1).cast("decimal(6,4)") - _dec("l_discount", 4, 6))
    )
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size").between(1, 15))
         & (F.col("l_quantity").between(1, 20)))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size").between(10, 30))
           & (F.col("l_quantity").between(10, 35)))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size").between(20, 50))
           & (F.col("l_quantity").between(20, 50)))
    )
    return (
        t["lineitem"]
        .join(t["part"], F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(F.round(revenue, 2).cast("double").alias("revenue"))
    )


def q22_quiet_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape adapted (no c_phone → group by nation): customers with
    above-average positive balances and no order since 2000-01-01 (every
    synthetic customer has *some* order, so "lapsed" replaces "never
    ordered"). The global average is a 1-row broadcast (scalar-subquery
    analog); the NOT EXISTS is a left_anti join; both engines compute the
    average as exact-decimal sum / count so the filter threshold is
    bit-identical."""
    t = load_tables(spark, sf_dir)
    cust = t["customer"]
    pos = cust.filter(F.col("c_acctbal") > 0.0)
    avg_bal = pos.agg(
        (F.sum(_dec("c_acctbal", 2, 18)).cast("double")
         / F.count(F.lit(1)).cast("double")).alias("avg_bal")
    )
    rich = (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
    )
    orders = t["orders"]
    ts_t = orders.schema["o_orderdate"].dataType
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast(ts_t)
    ).select("o_custkey")
    quiet = rich.join(
        recent, rich["c_custkey"] == F.col("o_custkey"), "left_anti"
    )
    return quiet.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum(_dec("c_acctbal", 2, 18)).cast("double").alias("totacctbal"),
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape adapted (no partsupp table in the driver schema —
    lineitem is the part↔supplier bridge): for every SMALL large-size part,
    the supplier offering the minimum observed unit price, i.e. the
    correlated-scalar-subquery pattern ``cost = (SELECT MIN ...)``.

    Plan: one shuffle on (partkey, suppkey) for the offer rollup; the
    per-part minimum is a WINDOW over the rollup partitioned by partkey
    (one more shuffle, partition-bounded) and the winner agg reuses that
    partitioning — no rollup⋈rollup self-join (the first-cut plan paid a
    SortMergeJoin plus two extra exchanges for the same result). Dims
    (part/supplier unhinted per the module broadcast policy; nation
    hint-broadcast). Determinism: unit price is a double
    division, IEEE-identical on both engines, and MIN picks an exact value
    of it; ties on cost are broken by MIN(suppkey)."""
    t = load_tables(spark, sf_dir)
    parts = t["part"].filter((F.col("p_type") == "SMALL") & (F.col("p_size") >= 40))
    offers = (
        t["lineitem"]
        .join(parts.select("p_partkey"),
              F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    w_part = W.partitionBy("l_partkey")
    winner = (
        offers.withColumn("best_cost", F.min("unit_cost").over(w_part))
        .filter(F.col("unit_cost") == F.col("best_cost"))
        .groupBy("l_partkey")
        .agg(F.min("l_suppkey").alias("s_suppkey"), F.min("unit_cost").alias("best_cost"))
    )
    return (
        winner
        .join(parts.select("p_partkey", "p_brand"),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(t["supplier"], "s_suppkey")
        .join(F.broadcast(t["nation"]),
              F.col("s_nationkey") == F.col("n_nationkey"))
        .select(F.col("l_partkey").alias("p_partkey"), "p_brand", "s_name",
                "n_name", "best_cost")
    )


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape adapted (supply cost proxied as 10% of p_retailprice ×
    quantity — no partsupp): profit per supplier-nation per order year over
    the '%bolt%' part slice. Plan: lineitem⋈orders shuffles once on
    orderkey; nation hint-broadcast, part slice and supplier unhinted
    (module broadcast policy); two-key hash agg with map-side
    partials. Decimal-exact amounts, rounded once, cast to double."""
    t = load_tables(spark, sf_dir)
    parts = t["part"].filter(F.col("p_name").like("%bolt%"))
    one = F.lit(1).cast("decimal(6,4)")
    amount = (
        _dec("l_extendedprice", 2, 12) * (one - _dec("l_discount", 4, 6))
        - _dec("p_retailprice", 2, 12) * _dec("l_quantity", 2, 12)
        * F.lit("0.1").cast("decimal(2,1)")
    )
    return (
        t["lineitem"]
        .join(parts.select("p_partkey", "p_retailprice"),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(amount), 2).cast("double").alias("profit"))
    )


def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape adapted (stock value proxied from shipped volume —
    no partsupp): per-part value of lineitems from ASIA-region suppliers,
    keeping parts whose value exceeds 0.0001 of the regional total — the
    HAVING-over-global-scalar-subquery pattern. Plan: one shuffle on
    partkey; the global total re-aggregates the per-part rollup and comes
    back as a 1-row broadcast. The threshold compare happens in double on
    both engines (identical IEEE multiply)."""
    t = load_tables(spark, sf_dir)
    asia_supp = (
        t["supplier"]
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey")
    )
    per_part = (
        t["lineitem"]
        .join(asia_supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(_dec("l_extendedprice", 2, 12) * _dec("l_quantity", 2, 12))
             .alias("_value"))
    )
    total = per_part.agg(F.sum("_value").alias("_total"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("_value").cast("double")
                > F.col("_total").cast("double") * F.lit(0.0001))
        .select(F.col("l_partkey").alias("p_partkey"),
                F.round(F.col("_value"), 2).cast("double").alias("stock_value"))
    )


def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape adapted (supplier "complaints" proxied as negative
    account balance): distinct supplier count per (brand, type, size) for
    non-Brand#5, non-PROMO parts, excluding flagged suppliers via an
    anti-join. Plan: part + excluded-supplier sides AQE-broadcast while
    they fit (unhinted — module broadcast policy); one shuffle
    for the distinct-count agg (Spark expands COUNT(DISTINCT) into a
    two-phase exact agg)."""
    t = load_tables(spark, sf_dir)
    parts = t["part"].filter(
        (F.col("p_brand") != "Brand#5") & (F.col("p_type") != "PROMO")
    )
    flagged = t["supplier"].filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        t["lineitem"]
        .join(parts.select("p_partkey", "p_brand", "p_type", "p_size"),
              F.col("l_partkey") == F.col("p_partkey"))
        .join(flagged, F.col("l_suppkey") == F.col("s_suppkey"),
              "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q20_bulk_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape adapted (availqty threshold proxied as volume share):
    suppliers in EUROPE-region nations that shipped more than 15% of some
    '%red%' part's total volume — the nested correlated-threshold semi-join.
    Plan: one shuffle on (suppkey, partkey) for pair volumes; the per-part
    total is a WINDOW over the rollup partitioned by partkey (not a
    rollup⋈rollup self-join — saves a SortMergeJoin and two exchanges);
    the threshold compare is double-on-both-engines; the supplier
    projection is a semi-join."""
    t = load_tables(spark, sf_dir)
    parts = t["part"].filter(F.col("p_name").like("%red%")).select("p_partkey")
    pair_vol = (
        t["lineitem"]
        .join(parts, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(_dec("l_quantity", 2, 12)).alias("sq"))
    )
    dominant = (
        pair_vol
        .withColumn("tot", F.sum("sq").over(W.partitionBy("l_partkey")))
        .filter(F.col("sq").cast("double") > F.col("tot").cast("double") * F.lit(0.15))
        .select("l_suppkey")
        .distinct()
    )
    return (
        t["supplier"]
        # dominant is DISTINCT supplier keys — bounded by |supplier|, which
        # still SCALES with SF, so no forced hint (module broadcast policy):
        # static stats can't see through the distinct and plan a SortMerge-
        # Join, but AQE converts to broadcast at runtime while it fits
        # (pinned on the executed plan in test_plans), and degrades to the
        # shuffle join instead of a driver OOM at the 100 TB tail.
        .join(dominant, F.col("s_suppkey") == F.col("l_suppkey"),
              "left_semi")
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"].filter(F.col("r_name") == "EUROPE")),
              F.col("n_regionkey") == F.col("r_regionkey"), "left_semi")
        .select("s_suppkey", "s_name", "n_name")
    )


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape adapted (no commit/receipt dates — "kept waiting" is
    proxied by return flags): per supplier, count finished multi-supplier
    orders where it is the ONLY supplier with returned lines — the
    EXISTS + NOT EXISTS double correlation, expressed as aggregates +
    semi-joins (set-equivalent and shuffle-minimal: both correlations
    reduce over the same distinct (orderkey, suppkey) rollup). Top 20 via
    TakeOrderedAndProject."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"]
    finished = t["orders"].filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    ret = (
        li.filter(F.col("l_returnflag") == "R")
        .join(finished, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .select("l_orderkey", "l_suppkey").distinct()
    )
    multi = (
        li.groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").alias("_ns"))
        .filter(F.col("_ns") > 1)
        .select("l_orderkey")
    )
    sole = (
        ret.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("_nr"), F.min("l_suppkey").alias("l_suppkey"))
        .filter(F.col("_nr") == 1)
        .join(multi, "l_orderkey", "left_semi")
    )
    return (
        sole.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(t["supplier"],
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


KMV_K = 64
_KMV_NIBBLES = 13  # 16^13 = 2^52 < 2^53: every intermediate is double-exact


def kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(k, k_eff, est_distinct, exact_distinct, rel_err): K-Minimum-Values
    distinct-count sketch (Bar-Yossef et al. 2002, public) with a
    DETERMINISTIC cross-engine value — unlike HLL/t-digest
    (approx_sketch_stats, engine-specific internals), KMV is just "the k
    smallest md5 hashes", identical on any engine: est = (k-1)/h_(k),
    h_(k) = the k-th smallest hash mapped to (0,1].

    Exactness contract: only the first 13 hex nibbles feed the estimate —
    16^13 = 2^52 fits a double exactly, so Spark's conv(hex,16,10) and the
    oracle's nibble expansion (digit * 2^(4j), each term exact, disjoint
    binary ranges) produce bit-identical doubles.

    Scale: the bottom-k is TakeOrderedAndProject over the distinct-hash
    set — fully parallel, k rows cross the driver. exact_distinct is
    included as the accuracy witness (at 100 TB you'd drop that column and
    keep the sketch)."""
    ev = load_tables(spark, sf_dir)["events"]
    hashes = ev.select(F.md5(F.col("user_id").cast("string")).alias("h")).distinct()
    bottom = hashes.orderBy("h").limit(KMV_K)
    kth = bottom.agg(
        F.max("h").alias("hk"), F.count(F.lit(1)).alias("k_eff"))
    exact = hashes.agg(F.count(F.lit(1)).alias("exact_distinct"))
    frac = (
        F.conv(F.substring("hk", 1, _KMV_NIBBLES), 16, 10).cast("double")
        / F.lit(float(16 ** _KMV_NIBBLES))
    )
    est = F.round((F.col("k_eff") - 1).cast("double") / frac, 6)
    return (
        kth.crossJoin(F.broadcast(exact))
        .select(
            F.lit(KMV_K).cast("int").alias("k"),
            F.col("k_eff").cast("long").alias("k_eff"),
            est.alias("est_distinct"),
            F.col("exact_distinct").cast("long").alias("exact_distinct"),
            F.round(
                F.abs(est - F.col("exact_distinct"))
                / F.col("exact_distinct"), 6
            ).alias("rel_err"),
        )
    )


MERGE_PIVOT = "1998-05-01"  # late pivot: all three actions occur (U/I/K)


def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO / CDC-upsert semantics as a declared batch operator: the
    warehouse-maintenance primitive the reference (batch-only graph engine)
    has no counterpart for. Base snapshot = each customer's latest order
    strictly before MERGE_PIVOT; update batch = each customer's latest order
    on/after it. MERGE upserts the batch into the snapshot keyed on custkey:

        matched     -> replace with the update row  (action 'U')
        not matched -> insert the update row        (action 'I')
        untouched   -> keep the base row            (action 'K')

    -> (c_custkey, o_orderkey, o_totalprice, action) — the (unique)
    orderkey pins row identity, so the date column adds nothing to the
    cross-engine check and timestamp-vs-date comparison semantics stay out
    of the compare entirely.

    Scale shape: both "latest per key" reductions are max_by aggregations
    (partial+final, no window over the full table), and the merge itself is
    one full-outer shuffle join on the merge key — exactly the shape Delta/
    Iceberg MERGE compiles to, minus the file-level pruning a table format
    adds. No collect, no broadcast of the big side."""
    orders = load_tables(spark, sf_dir)["orders"]
    ts_t = orders.schema["o_orderdate"].dataType
    pivot = F.lit(f"{MERGE_PIVOT} 00:00:00").cast(ts_t)

    def latest(df: DataFrame) -> DataFrame:
        # max_by with the (unique) orderkey as tiebreak-free selector:
        # order dates repeat per customer, so select the lexicographically
        # greatest (date, orderkey) pair for determinism on both engines
        return df.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
            F.max(F.struct("o_orderdate", "o_orderkey", "o_totalprice")).alias("s")
        ).select(
            "c_custkey",
            F.col("s.o_orderkey").alias("o_orderkey"),
            F.col("s.o_orderdate").alias("o_orderdate"),
            F.col("s.o_totalprice").alias("o_totalprice"),
        )

    base = latest(orders.filter(F.col("o_orderdate") < pivot))
    updates = latest(orders.filter(F.col("o_orderdate") >= pivot))

    b = base.select(
        "c_custkey",
        F.col("o_orderkey").alias("b_orderkey"),
        F.col("o_totalprice").alias("b_totalprice"),
    )
    u = updates.select(
        "c_custkey",
        F.col("o_orderkey").alias("u_orderkey"),
        F.col("o_totalprice").alias("u_totalprice"),
    )
    merged = b.join(u, "c_custkey", "full_outer")
    return merged.select(
        "c_custkey",
        F.coalesce("u_orderkey", "b_orderkey").alias("o_orderkey"),
        F.coalesce("u_totalprice", "b_totalprice").alias("o_totalprice"),
        F.when(F.col("u_orderkey").isNull(), F.lit("K"))
        .when(F.col("b_orderkey").isNull(), F.lit("I"))
        .otherwise(F.lit("U"))
        .alias("action"),
    )


SCD2_OPEN_EPOCH = 253370764800  # 9999-01-01 00:00:00 UTC


def scd2_order_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension Type-2 build: each customer's order stream
    versioned into effective-dated rows — (c_custkey, version, o_orderkey,
    valid_from_epoch, valid_to_epoch, is_current), valid_to = next version's
    valid_from; the open (current) row carries the standard SCD2 high-date
    sentinel (9999-01-01 = epoch 253370764800) instead of NULL, which also
    keeps the column integral end-to-end (a NULL-bearing BIGINT round-trips
    through pandas as float64 and breaks the driver's type-class hash). The companion warehouse
    primitive to merge_upsert_orders: MERGE maintains the latest state,
    SCD2 keeps the full history queryable by time-travel predicates
    (valid_from <= t < valid_to).

    Scale shape: ONE window partitioned by the dimension key (never a
    full-data window — the r1 scale-killer pin applies), so it shuffles
    once on c_custkey and both row_number and lead ride the same sort."""
    o = load_tables(spark, sf_dir)["orders"].select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w).cast("long")
    return o.select(
        F.col("o_custkey").alias("c_custkey"),
        F.row_number().over(w).alias("version"),
        "o_orderkey",
        F.col("o_orderdate").cast("long").alias("valid_from_epoch"),
        F.coalesce(nxt, F.lit(SCD2_OPEN_EPOCH)).alias("valid_to_epoch"),
        nxt.isNull().alias("is_current"),
    )


def dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit — the pipeline-gate primitive (constraint checks a
    training-data ingest runs before accepting a drop): one row per declared
    check, (check_name, n_violations, passed). Checks: primary-key
    uniqueness, two referential-integrity directions, two domain checks, and
    completeness (orders with no lineitems — genuinely nonzero on the
    driver's synthetic data, so the audit surface is exercised on both
    outcomes).

    Scale shape: every check is one scan+aggregate or one anti-join+count —
    partial+final agg, no collect; the six single-row branches union for
    free. At 100 TB you'd run the checks off one cached scan per table;
    the per-check plans are unchanged."""
    t = load_tables(spark, sf_dir)
    o, li, c = t["orders"], t["lineitem"], t["customer"]

    def count_rows(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_violations")).select(
            F.lit(name).alias("check_name"), "n_violations"
        )

    checks = [
        count_rows(
            "orderkey_unique",
            o.groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 1),
        ),
        count_rows(
            "orders_custkey_fk",
            o.join(c, o["o_custkey"] == c["c_custkey"], "left_anti"),
        ),
        count_rows(
            "lineitem_orderkey_fk",
            li.join(o, li["l_orderkey"] == o["o_orderkey"], "left_anti"),
        ),
        count_rows("totalprice_positive", o.filter(F.col("o_totalprice") <= 0)),
        count_rows(
            "discount_domain",
            li.filter((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)),
        ),
        count_rows(
            "orders_have_lineitems",
            o.join(li.select("l_orderkey").distinct(),
                   o["o_orderkey"] == F.col("l_orderkey"), "left_anti"),
        ),
    ]
    out = checks[0]
    for c_df in checks[1:]:
        out = out.unionAll(c_df)
    return out.withColumn("passed", F.col("n_violations") == 0)
