#!/usr/bin/env python
"""Round-15 scale rows (VERDICT r14 "Next round" items 2/4/5/7).

The sf0.1 bench is driver/scheduler-bound (PERF_r14: the 8-core full bench
beat 32-core, every scaling ratio ~=1), so the round-15 fixpoint claims need
one row per changed family at a size where cores matter. This probe builds
G2-class synthetic graphs entirely from ``spark.range`` (deterministic, no
input files — the scale_g2.py shape) and runs the families this round (and
r14) restructured, recording wall, per-job counts, and stage shuffle totals
from the UI REST API.

Modes via R15_MODE (comma list, default "cc,mst"):
  cc          connected_components on ring+chords (N=R15_VERTICES, ~23|V|
              directed edges); the r15 fused propagate+double-jump loop.
  mst         minimum_spanning_forest on the same graph with deterministic
              pseudo-random weights; the r15 lazy-forest/paired-checkpoint
              Boruvka.
  scc         strongly_connected_components on R15_SCC_RINGS disjoint
              strongly-connected rings+chords (N=R15_SCC_VERTICES total).
  prbloom     item 4: measure the pagerank message-join shuffle with and
              without a frontier semi-join prefilter at scale. First
              principles say the filter is vacuous for fixed-k pagerank
              (every vertex is active every superstep, so frontier ⊇ every
              src and nothing is dropped); this records the measured bytes
              so the negative is documented, not asserted.
  ktruss_skew item 5: the wedge join (e1.b == e2.a) on a hub graph whose
              hot key is a hub vertex; reads the join stage's task-time /
              shuffle-read max-vs-median quantiles to check straggler
              behavior (AQE skew split only fires >256MB partitions; the
              question is whether the hub key even approaches that).

Env:
  SPARK_GRAFT_CPUS   cores (default 32) — run once at 32 and once at 8 for
                     the low/high-core ratio SCALE.md wants.
  R15_VERTICES       cc/mst graph size (default 4_800_000 — G2 class).
  R15_SCC_VERTICES   scc total vertices (default 1_200_000).
  R15_SCC_RINGS      disjoint rings (default 4).
  R15_CODEC          spark.io.compression.codec (default lz4 = session
                     default; set zstd for the item-7 A/B leg).
  R15_HUB_LEAVES     ktruss_skew leaves per hub (default 1_000_000).
  R15_HUBS           ktruss_skew hub count (default 4).

Prints ONE JSON line. Not part of the bench contract; local evidence only.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
N = int(os.environ.get("R15_VERTICES", 4_800_000))
N_SCC = int(os.environ.get("R15_SCC_VERTICES", 1_200_000))
SCC_RINGS = int(os.environ.get("R15_SCC_RINGS", 4))
CODEC = os.environ.get("R15_CODEC", "lz4")
MODES = [m.strip() for m in os.environ.get("R15_MODE", "cc,mst").split(",")
         if m.strip()]
HUB_LEAVES = int(os.environ.get("R15_HUB_LEAVES", 1_000_000))
HUBS = int(os.environ.get("R15_HUBS", 4))


def get_ui_session():
    """bench-identical session conf + UI on (REST metrics) + codec knob."""
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("gmr_scale_r15")
        .config("spark.sql.shuffle.partitions", CPUS)
        .config("spark.default.parallelism", CPUS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "true")
        # shuffle_since sums only the stages the UI still retains; keep
        # every stage and job of a G2-size run (the defaults are 1000)
        .config("spark.ui.retainedStages", "100000")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.maxResultSize", "8g")
        .config("spark.io.compression.codec", CODEC)
        .getOrCreate()
    )


def rest(spark, path: str):
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/{path}",
                                timeout=30) as r:
        return json.loads(r.read())


def job_window(spark) -> int:
    jobs = rest(spark, "jobs")
    return max((j["jobId"] for j in jobs), default=-1)


def jobs_since(spark, last_id: int) -> list[dict]:
    return [j for j in rest(spark, "jobs") if j["jobId"] > last_id]


def shuffle_since(spark, stage_floor: int) -> dict:
    """Shuffle totals over the completed stages after ``stage_floor`` that
    the UI still retains. ``stages_summed`` is recorded with them, so a sum
    cut short by ``spark.ui.retainedStages`` shows in the row."""
    tot_r = tot_w = n = 0
    for st in rest(spark, "stages?status=COMPLETE"):
        if st["stageId"] > stage_floor:
            tot_r += st.get("shuffleReadBytes", 0)
            tot_w += st.get("shuffleWriteBytes", 0)
            n += 1
    return {"shuffle_read_mb": round(tot_r / 1e6, 1),
            "shuffle_write_mb": round(tot_w / 1e6, 1),
            "stages_summed": n}


def max_stage(spark) -> int:
    return max((s["stageId"] for s in rest(spark, "stages")), default=-1)


def ring_chords(spark, n: int, *, weights: bool = False):
    """The scale_g2 graph: ring + power-of-two chords, ~log2(n) out-edges
    per vertex, diameter <= ~log2(n)."""
    from pyspark.sql import functions as F

    from gmr_spark.graph import PropertyGraph

    n_parts = spark.sparkContext.defaultParallelism * 2
    chords = max(1, (n - 1).bit_length())
    offsets = F.array(*[F.lit(2 ** j) for j in range(chords)])
    w = (F.pmod(F.xxhash64(F.col("src"), F.col("dst")), F.lit(1000))
         .cast("double") / 1000.0 if weights else F.lit(1.0))
    edges = (
        spark.range(n)
        .select(F.col("id"), F.explode(offsets).alias("off"))
        .select(F.col("id").alias("src"),
                F.pmod(F.col("id") + F.col("off"), F.lit(n)).alias("dst"))
        .select("src", "dst", w.alias("weight"))
        .repartition(n_parts, "src")
        .localCheckpoint(eager=True)
    )
    vertices = spark.range(n).select(F.col("id")).localCheckpoint(eager=True)
    n_edges = edges.count()
    return PropertyGraph(vertices=vertices, edges=edges,
                         n_vertices=n, n_edges=n_edges), n_edges


def run_cc(spark, out: dict) -> None:
    from gmr_spark.algorithms.cc import connected_components

    g, n_edges = ring_chords(spark, N)
    j0, s0 = job_window(spark), max_stage(spark)
    t0 = time.perf_counter()
    spark.sparkContext.setJobDescription("scale_r15: cc")
    res = connected_components(g)
    n_zero = res.filter("component != 0").count()
    wall = round(time.perf_counter() - t0, 1)
    spark.sparkContext.setJobDescription(None)
    assert n_zero == 0, f"cc wrong: {n_zero} vertices off-component"
    jobs = jobs_since(spark, j0)
    out["cc"] = {"vertices": N, "edges": n_edges, "wall_sec": wall,
                 "n_jobs": len(jobs), **shuffle_since(spark, s0)}


def run_mst(spark, out: dict) -> None:
    from gmr_spark.algorithms.mst import minimum_spanning_forest

    g, n_edges = ring_chords(spark, N, weights=True)
    j0, s0 = job_window(spark), max_stage(spark)
    t0 = time.perf_counter()
    spark.sparkContext.setJobDescription("scale_r15: mst")
    forest = minimum_spanning_forest(g)
    n_forest = forest.count()
    wall = round(time.perf_counter() - t0, 1)
    spark.sparkContext.setJobDescription(None)
    # connected graph, unique MST under the strict order -> exactly N-1 edges
    assert n_forest == N - 1, f"mst wrong: {n_forest} edges, want {N - 1}"
    jobs = jobs_since(spark, j0)
    out["mst"] = {"vertices": N, "edges": n_edges, "wall_sec": wall,
                  "forest_edges": n_forest, "n_jobs": len(jobs),
                  **shuffle_since(spark, s0)}


def run_scc(spark, out: dict) -> None:
    from pyspark.sql import functions as F

    from gmr_spark.algorithms.scc import strongly_connected_components
    from gmr_spark.graph import PropertyGraph

    n, rings = N_SCC, SCC_RINGS
    ring_sz = n // rings
    n = ring_sz * rings
    n_parts = spark.sparkContext.defaultParallelism * 2
    chords = max(1, (ring_sz - 1).bit_length())
    offsets = F.array(*[F.lit(2 ** j) for j in range(chords)])
    base = (F.col("id") - F.pmod(F.col("id"), F.lit(ring_sz)))
    edges = (
        spark.range(n)
        .select(F.col("id"), F.explode(offsets).alias("off"))
        .select(F.col("id").alias("src"),
                (base + F.pmod(F.pmod(F.col("id"), F.lit(ring_sz))
                               + F.col("off"), F.lit(ring_sz))).alias("dst"),
                F.lit(1.0).alias("weight"))
        .filter(F.col("src") != F.col("dst"))
        .repartition(n_parts, "src")
        .localCheckpoint(eager=True)
    )
    vertices = spark.range(n).select(F.col("id")).localCheckpoint(eager=True)
    n_edges = edges.count()
    g = PropertyGraph(vertices=vertices, edges=edges,
                      n_vertices=n, n_edges=n_edges)
    j0, s0 = job_window(spark), max_stage(spark)
    t0 = time.perf_counter()
    spark.sparkContext.setJobDescription("scale_r15: scc")
    res = strongly_connected_components(g)
    comp_sizes = (res.groupBy("component").count()
                  .agg(F.count(F.lit(1)).alias("n_comp"),
                       F.min("count").alias("lo"),
                       F.max("count").alias("hi")).first())
    wall = round(time.perf_counter() - t0, 1)
    spark.sparkContext.setJobDescription(None)
    assert (comp_sizes.n_comp, comp_sizes.lo, comp_sizes.hi) == \
        (rings, ring_sz, ring_sz), f"scc wrong: {comp_sizes}"
    jobs = jobs_since(spark, j0)
    out["scc"] = {"vertices": n, "edges": n_edges, "rings": rings,
                  "wall_sec": wall, "n_jobs": len(jobs),
                  **shuffle_since(spark, s0)}


def run_prbloom(spark, out: dict) -> None:
    """Item 4 (documented negative expected): one pagerank-superstep message
    aggregation, plain vs frontier-semi-prefiltered, at G2 scale. Fixed-k
    pagerank keeps every vertex active, so frontier ⊇ every src and the
    prefilter drops nothing — record the measured bytes + walls."""
    from pyspark.sql import functions as F

    g, n_edges = ring_chords(spark, N)
    state = g.vertices.select("id", F.lit(1.0).alias("value")) \
        .localCheckpoint(eager=True)
    legs = {}
    for leg in ("plain", "semi_prefilter", "plain2"):
        frontier = state
        edges = g.edges
        if leg == "semi_prefilter":
            edges = edges.join(frontier.select(F.col("id").alias("src")),
                               "src", "left_semi")
        s0 = max_stage(spark)
        t0 = time.perf_counter()
        spark.sparkContext.setJobDescription(f"scale_r15: prbloom {leg}")
        msgs = (
            edges.join(frontier.withColumnRenamed("id", "src")
                       .hint("shuffle_hash"), "src")
            .groupBy("dst").agg(F.sum("value").alias("msg"))
        )
        msgs.write.format("noop").mode("overwrite").save()
        legs[leg] = {"wall_sec": round(time.perf_counter() - t0, 1),
                     **shuffle_since(spark, s0)}
        spark.sparkContext.setJobDescription(None)
    out["prbloom"] = {"vertices": N, "edges": n_edges, **legs}


def hub_ring_edges(spark, hubs: int, leaves: int):
    """Canonical (a < b) edges of the ktruss_skew graph: every hub joined to
    every leaf, plus a path through the leaves. Hubs get the LOWEST ids
    (0..hubs-1), so a hub edge (hub, leaf) has a=hub and e2.a = hub carries
    deg(hub) rows into one hash partition of the wedge join."""
    from pyspark.sql import functions as F

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


def run_ktruss_skew(spark, out: dict) -> None:
    """Item 5: wedge-join task balance on a hub graph at scale. Hot key of
    the join (e1.b == e2.a) is each hub; reads per-task quantiles of the
    join stage."""
    from pyspark.sql import functions as F

    from gmr_spark.algorithms.triangles import closed_triangles

    leaves, hubs = HUB_LEAVES, HUBS
    n_parts = spark.sparkContext.defaultParallelism * 2
    und = (hub_ring_edges(spark, hubs, leaves)
           .repartition(n_parts, "a").localCheckpoint(eager=True))
    n_und = und.count()
    s0 = max_stage(spark)
    t0 = time.perf_counter()
    spark.sparkContext.setJobDescription("scale_r15: ktruss wedge join")
    tri = closed_triangles(und, closure_broadcast_max_edges=0) \
        .agg(F.count(F.lit(1)).alias("n")).first()
    wall = round(time.perf_counter() - t0, 1)
    spark.sparkContext.setJobDescription(None)
    want = hub_ring_triangles(hubs, leaves)
    # per-stage task skew: max/median task time + shuffle read of the
    # heaviest post-s0 stages
    stages = [s for s in rest(spark, "stages?status=COMPLETE")
              if s["stageId"] > s0]
    stages.sort(key=lambda s: -(s.get("executorRunTime", 0)))
    skew = []
    for st in stages[:3]:
        q = rest(spark, f"stages/{st['stageId']}/0/taskSummary"
                        "?quantiles=0.5,1.0")
        skew.append({
            "stage": st["stageId"],
            "n_tasks": st.get("numCompleteTasks"),
            "task_time_med_max_ms": q.get("executorRunTime"),
            "shuffle_read_med_max_mb": [
                round(b / 1e6, 1)
                for b in q.get("shuffleReadMetrics", {}).get("readBytes",
                                                             [0, 0])],
        })
    assert int(tri.n) == want, f"ktruss_skew wrong: {tri.n} vs {want}"
    out["ktruss_skew"] = {"und_edges": n_und, "hubs": hubs,
                          "leaves": leaves, "wall_sec": wall,
                          "triangles": int(tri.n), "stage_skew": skew,
                          **shuffle_since(spark, s0)}


def main() -> None:
    from gmr_spark.session import calibration_probe

    spark = get_ui_session()
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"metric": "r15_scale_rows", "cpus": int(CPUS),
                 "codec": CODEC, "modes": MODES}
    calibration_probe(spark)  # warm codegen
    out["calibration_sec"] = calibration_probe(spark)
    for mode in MODES:
        {"cc": run_cc, "mst": run_mst, "scc": run_scc,
         "prbloom": run_prbloom, "ktruss_skew": run_ktruss_skew}[mode](
             spark, out)
        print(f"done {mode}: {json.dumps(out[mode])[:400]}", file=sys.stderr)
    out["calibration_after_sec"] = calibration_probe(spark)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
