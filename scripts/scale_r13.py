#!/usr/bin/env python
"""Round-13 scale row: the trained IVF coarse quantizer at the 10⁵-cell
decade (round-12 verdict item 6 — the 100 TB sizing note says k_cells
10⁴–10⁵; the measured story stopped at 16,384). One lean probe at
k_cells=65,536 on the 2M-vector corpus with sample_mod=1 (~30 training
samples per cell — the density where the absolute balance is known to
drift, see train_ivf_cells' docstring), recording the three decade
shapes:

  - per-iteration Lloyd stage walls (assign = one GEMM pass over the
    corpus-as-sample; update = the join-before-explode groupBy whose
    result is k_cells×64 rows — metadata-class in k, so 65,536 must not
    blow it up relative to the sample explode);
  - trained vs seeded max/mean populated-cell balance (the hot-key bound
    of the candidate equi-join). 65,536 is ABOVE the hard-contract decade
    (scale_r12.CONTRACT_DECADE tops at 16,384), so per that contract's
    own statement this is the exploratory branch: report both balances,
    assert only trained ≤ seeded — the honest decade-extension row, not a
    gate (the 10⁴ measurement showed the absolute number is
    sample-density-limited: ~30/cell sits below the ~49/cell the ≤2.0
    ceiling was measured at);
  - wall linearity vs a 16,384-cell control leg for the corpus assign
    (min-of-2 interleaved), extending the 256→4,096→16,384 linear story
    one more decade.

Measured 2026-08-16 (SCALE.md r13): trained balance 2.523 vs seeded
54.9 (21.8×), corpus assign ratio 4.09 for the 4.0× k jump, update
25–27 s vs 192–257 s assign per iteration on the full 2M sample.

Usage: python scripts/scale_r13.py
       R13_VECS=100000 R13_CELLS=4096 R13_CELLS_CONTROL=1024 (dry run)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
VECS = int(os.environ.get("R13_VECS", 2_000_000))
CELLS = int(os.environ.get("R13_CELLS", 65_536))
CELLS_CONTROL = int(os.environ.get("R13_CELLS_CONTROL", 16_384))
SAMPLE_MOD = int(os.environ.get("R13_SAMPLE_MOD", 1))
ITERS = int(os.environ.get("R13_ITERS", 2))


def run_decade(spark, timings: dict) -> dict:
    """The probe body on a caller-provided session: returns the metrics
    dict (tests run it at toy size — the in-run asserts ARE the row's
    verification, same pattern as scale_r8's run_* bodies)."""
    import shutil

    from pyspark.sql import functions as F

    from gmr_spark.algorithms.kmeans import _assign_arrow, _update
    from gmr_spark.operators.similarity import (
        _ivf_index_probes, _vec, train_ivf_cells)
    from gmr_spark.plans.loop import _drop_checkpoint_blocks
    from scale_llm import build_corpus

    scratch = os.environ.get("R13_SCRATCH", "/tmp/r13_cells_scale")
    t0 = time.perf_counter()
    sf = build_corpus(spark, n=VECS, scratch=scratch)
    timings["build_corpus"] = round(time.perf_counter() - t0, 1)

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    base = emb.select(F.col("vec_id").alias("id"), _vec().alias("v"))

    # ---- Lloyd stage walls per iteration (sample = corpus at mod 1) ----
    sample = (base if SAMPLE_MOD <= 1
              else base.filter(F.col("id") % SAMPLE_MOD == 0)).select(
        "id", F.col("v").alias("vec")).localCheckpoint(eager=True)
    n_sample = sample.count()
    seed_rows = base.orderBy("id").limit(CELLS).collect()
    seeds = [(i, list(r.v)) for i, r in enumerate(seed_rows)]
    # warm untimed (Arrow codegen, BLAS pools — first leg absorbs ~8x)
    warm = _assign_arrow(sample, seeds[:8]).localCheckpoint(eager=True)
    _update(sample, warm)
    _drop_checkpoint_blocks(warm)

    cents = seeds
    stage_walls: dict[str, list[float]] = {"assign": [], "update": []}
    for _i in range(ITERS):
        t0 = time.perf_counter()
        assigned = _assign_arrow(sample, cents).localCheckpoint(eager=True)
        assigned.count()
        stage_walls["assign"].append(round(time.perf_counter() - t0, 1))
        t0 = time.perf_counter()
        cents = _update(sample, assigned)
        stage_walls["update"].append(round(time.perf_counter() - t0, 1))
        _drop_checkpoint_blocks(assigned)
        assert cents and len(cents) <= CELLS
        print(f"iter {_i}: assign {stage_walls['assign'][-1]}s, "
              f"update {stage_walls['update'][-1]}s, "
              f"{len(cents)} live cells", file=sys.stderr)
    trained = cents
    _drop_checkpoint_blocks(sample)
    # the update aggregate's result is k×64 rows; its wall must stay
    # explode-dominated, not k-dominated — at 65,536 cells it may carry a
    # few seconds of result-side cost but never the assign's GEMM wall.
    # +2.0 s absolute slack (the scale_r12 update-gate convention) so
    # sub-second toy walls don't flake on scheduler noise
    assert max(stage_walls["update"]) <= max(stage_walls["assign"]) + 2.0, (
        stage_walls)

    # ---- corpus assign linearity: control-cell leg vs the big leg ----
    def assign_corpus(centroids, k):
        indexed, _ = _ivf_index_probes(
            base, k_cells=k, nprobe=1, centroids=centroids, assign="arrow")
        t0 = time.perf_counter()
        indexed.write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 1)

    control = seeds[:CELLS_CONTROL]
    assign_corpus(control, CELLS_CONTROL)  # warm untimed
    corpus_walls: dict[int, list[float]] = {CELLS_CONTROL: [], CELLS: []}
    for _round in range(2):
        corpus_walls[CELLS_CONTROL].append(
            assign_corpus(control, CELLS_CONTROL))
        corpus_walls[CELLS].append(assign_corpus(seeds, CELLS))
    wall_small = min(corpus_walls[CELLS_CONTROL])
    wall_big = min(corpus_walls[CELLS])
    k_ratio = CELLS / CELLS_CONTROL
    ratio = round(wall_big / wall_small, 2) if wall_small else None
    print(f"corpus assign walls: {corpus_walls} "
          f"ratio={ratio} (k_ratio {k_ratio})", file=sys.stderr)
    # +1.0 s absolute slack so sub-second toy walls (which round to 0.0
    # and are scheduler noise, not GEMM shape) can't trip the gate
    assert wall_big <= k_ratio * 1.6 * wall_small + 1.0, (
        wall_big, wall_small)

    # ---- trained vs seeded balance (exploratory decade — see docstring) --
    def balance_of(centroids):
        indexed, _ = _ivf_index_probes(base, k_cells=CELLS, nprobe=1,
                                       centroids=centroids, assign="arrow")
        pops = (indexed.groupBy("cell").count()
                .agg(F.max("count").alias("mx"),
                     F.avg("count").alias("avg"),
                     F.count(F.lit(1)).alias("n_cells")).first())
        return float(pops.mx) / float(pops.avg), int(pops.n_cells)

    t0 = time.perf_counter()
    seeded_balance, seeded_pop = balance_of(seeds)
    timings["balance_pass_seeded"] = round(time.perf_counter() - t0, 1)
    t0 = time.perf_counter()
    balance, trained_pop = balance_of(trained)
    timings["balance_pass_trained"] = round(time.perf_counter() - t0, 1)
    print(f"balance: trained {balance:.3f} ({trained_pop} cells) vs "
          f"seeded {seeded_balance:.3f} ({seeded_pop} cells)",
          file=sys.stderr)
    assert balance <= seeded_balance, (balance, seeded_balance)

    shutil.rmtree(scratch, ignore_errors=True)
    return {
        "vectors": VECS,
        "k_cells": CELLS,
        "control_cells": CELLS_CONTROL,
        "sample_mod": SAMPLE_MOD,
        "sample_rows": n_sample,
        "iters": ITERS,
        "timings": timings,
        "lloyd_stage_walls_sec": stage_walls,
        "corpus_assign_walls_sec": {str(k): v for k, v in
                                    corpus_walls.items()},
        "trained_cells": len(trained),
        "trained_balance_max_over_mean": round(balance, 3),
        "seeded_balance_max_over_mean": round(seeded_balance, 3),
        "balance_improvement_vs_seeded": round(seeded_balance / balance, 1),
        "populated_cells": {"seeded": seeded_pop, "trained": trained_pop},
    }


def main() -> None:
    from gmr_spark.session import calibration_probe, get_session

    spark = get_session("r13_scale", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    calibration_probe(spark)  # warm
    cal_pre = calibration_probe(spark)
    timings: dict[str, float] = {}
    extra = run_decade(spark, timings)
    cal_post = calibration_probe(spark)
    print(json.dumps({
        "metric": "r13_cells_decade",
        "cpus": int(CPUS),
        "calibration_sec": cal_pre,
        "calibration_post_sec": cal_post,
        **extra,
    }))


if __name__ == "__main__":
    main()
