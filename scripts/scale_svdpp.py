#!/usr/bin/env python
"""SVD++ at G2-class scale, both join strategies (round-5 verdict item 1).

Builds a synthetic bipartite rating graph entirely from ``spark.range`` —
2M users x 500k items, 30 ratings per user = 60M rating edges (the same
size class as the G2 graph runs: ~0.9x G2's 69M edges, and each SVD++
iteration does strictly more per-edge work than a PageRank superstep:
three state joins + two grouped gradient aggregates) — and trains 2
deterministic batch-GD iterations TWICE:

  - broadcast run: user/item state (2M rows) is exactly at the designed
    ``_STATE_BROADCAST_CAP``, so every state-side join is hint-broadcast
    and the 60M-edge table never shuffles for them;
  - shuffle run: ``state_broadcast_cap=1`` forces the above-cap fallback —
    the plan shape web-scale user counts (state > executor memory) must
    use — whose branch no sf0.1 test can reach.

The proof asserts the two runs' predictions are IDENTICAL after the final
ROUND(.,6) on all 60M edges (join strategy changes summation order, not
arithmetic — the same float-tolerance contract the DuckDB oracle twin
relies on), then prints ONE JSON line with per-iteration walls for both.

Usage:  python scripts/scale_svdpp.py              # full size (~60M edges)
        SVDPP_USERS=200000 python scripts/scale_svdpp.py   # dry run
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

U = int(os.environ.get("SVDPP_USERS", 2_000_000))
I = int(os.environ.get("SVDPP_ITEMS", max(1, U // 4)))
RPU = int(os.environ.get("SVDPP_RPU", 30))  # ratings per user
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    from pyspark.sql import functions as F

    from gmr_spark.algorithms.svdpp import _STATE_BROADCAST_CAP, svdpp_train
    from gmr_spark.plans.loop import _drop_checkpoint_blocks
    from gmr_spark.session import calibration_probe, get_session

    spark = get_session("svdpp_scale", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    n_parts = spark.sparkContext.defaultParallelism * 2

    timings: dict[str, object] = {}
    extra: dict[str, object] = {}
    calibration_probe(spark)  # warm codegen so the probe measures the host
    extra["calibration_sec"] = calibration_probe(spark)

    # j*1009 mod I is injective for j < RPU (1009*RPU << I and gcd-free in
    # the range), so each user's RPU item draws are distinct — no
    # dedup-distinct pass needed on 60M rows.
    assert 1009 * RPU < I, "shrink RPU or grow I to keep draws collision-free"
    t0 = time.perf_counter()
    edges = (
        spark.range(U)
        .select(F.col("id").alias("u"),
                F.explode(F.sequence(F.lit(0), F.lit(RPU - 1))).alias("j"))
        .select(
            "u",
            ((F.col("u") * 31 + F.col("j") * 1009) % I).alias("i"),
        )
        .withColumn("r", ((F.col("u") * 7 + F.col("i") * 13) % 5 + 1)
                    .cast("double"))
        .repartition(n_parts, "u")
        .localCheckpoint(eager=True)
    )
    n_edges = edges.count()
    timings["build_edges"] = round(time.perf_counter() - t0, 1)
    print(f"ratings: {U} users x {RPU} -> {n_edges} edges "
          f"({timings['build_edges']}s)", file=sys.stderr)
    assert n_edges == U * RPU

    results = {}
    for label, cap in (("broadcast", _STATE_BROADCAST_CAP), ("shuffle", 1)):
        if label == "broadcast":
            assert U <= cap, (
                f"broadcast leg needs users ({U}) <= cap ({cap}) — the run "
                "must exercise the designed at-cap boundary, not a raised one")
        iter_times: list[float] = []
        t0 = time.perf_counter()
        pred = svdpp_train(spark, edges, iters=2, state_broadcast_cap=cap,
                           iter_times=iter_times).localCheckpoint(eager=True)
        n = pred.count()
        timings[f"svdpp_{label}"] = round(time.perf_counter() - t0, 1)
        timings[f"svdpp_{label}_iters"] = iter_times
        results[label] = pred
        print(f"svdpp[{label}] cap={cap}: {n} predictions "
              f"({timings[f'svdpp_{label}']}s, iters {iter_times})",
              file=sys.stderr)
        assert n == n_edges

    # strategy-independence proof: every ROUND(.,6) prediction identical
    t0 = time.perf_counter()
    a, b = results["broadcast"].alias("a"), results["shuffle"].alias("b")
    cmp = a.join(b, ["u", "i"], "full_outer").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("a.pred") != F.col("b.pred"), 1)
              .when(F.col("a.pred").isNull() | F.col("b.pred").isNull(), 1)
              .otherwise(0)).alias("mismatch"),
        F.max(F.abs(F.col("a.pred") - F.col("b.pred"))).alias("max_diff"),
    ).first()
    timings["compare"] = round(time.perf_counter() - t0, 1)
    extra["compare"] = {"rows": int(cmp.n), "mismatch": int(cmp.mismatch),
                        "max_abs_diff": float(cmp.max_diff or 0.0)}
    print(f"compare: {cmp.n} rows, {cmp.mismatch} mismatches "
          f"(max |diff| {cmp.max_diff})", file=sys.stderr)
    assert cmp.n == n_edges and cmp.mismatch == 0, extra["compare"]

    for df in results.values():
        _drop_checkpoint_blocks(df)
    _drop_checkpoint_blocks(edges)  # release before the post probe so it
    # measures the HOST, not this run's own resident-block memory pressure

    extra["calibration_post_sec"] = calibration_probe(spark)
    print(json.dumps({
        "metric": "svdpp_scale_proof",
        "users": U, "items": I, "edges": n_edges,
        "cpus": int(CPUS),
        "state_broadcast_cap": _STATE_BROADCAST_CAP,
        "timings_sec": timings,
        "unit": "sec",
        **extra,
    }))


if __name__ == "__main__":
    main()
