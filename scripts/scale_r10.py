#!/usr/bin/env python
"""Round-10 scale row: trained PQ codebooks at the noise level where the
seeded codebook degrades (VERDICT r9 "What's missing" 1 / Next-round 2),
plus the measured index-size claim (Next-round 7).

R10_RUN_PQTRAIN=1 — rebuild the 2M-vector corpus with ±0.05/dim planted-
pair noise (scale_llm.build_corpus(noise_milli=50); the r9 row used
±0.005, where the measurement proved the 16-entry seeded codebook was NOT
the limiter — every miss was a coarse-cell miss). At 10x the noise the
sub-vector distortion between partners is ~100x larger in d², so ADC
ranking under a poor codebook starts dropping true partners from the
shortlist even when the coarse quantizer finds the cell. The probe runs
the SAME IVF-PQ stack (256 Arrow-assigned cells, PQ codes, cogrouped ADC,
shortlist, exact re-rank — scripts/scale_r9.py shapes) twice:

  - seeded codebook: sub-vectors of the 16 lowest-id vectors (the
    declared operator's oracle-compact default);
  - trained codebook: operators.similarity.train_pq_codebook — 4 rounds
    of per-subspace Lloyd over a deterministic 1-in-10 SAMPLE (200k
    vectors; training on a sample is the 100 TB path — the PQ paper
    trains codebooks on a held-out set, not the corpus),

and for each leg reports the miss BREAKDOWN, not just recall:
  cell_hits       — partner indexed in a probed cell (coarse quantizer)
  shortlist_hits  — partner survived ADC into the shortlist (codebook)
  top1_hits       — partner won the exact re-rank (end-to-end recall)
so "trained recovers recall at equal nprobe" is attributable: the
coarse-miss count must match between legs (same cells), while the
shortlist-miss count is the codebook's own contribution. Also records
each codebook's quantization MSE (pq_mse) and the serialized index size:
parquet bytes of (cell, codes) vs (cell, vec float32) for the same 2M
rows — the compression claim as a measured number.

R10_RUN_CELLTRAIN=1 — the coarse-quantizer half (see run_celltrain):
Lloyd-train the 256 IVF cells with the kmeans Arrow kernels and measure
planted-partner same-cell rate + cell balance, seeded vs trained.

R10_RUN_EXACT=1 — the declared cosine_topk_arrow (exact GEMM search) at
10M vectors, 1,000 planted queries: brute force is exact so partner
recall must be 1.0 — a verified row, not a wall clock (see run_exact).

Usage: R10_RUN_PQTRAIN=1 python scripts/scale_r10.py
       R10_RUN_CELLTRAIN=1 python scripts/scale_r10.py
       R10_RUN_EXACT=1 python scripts/scale_r10.py
       R10_PQ_VECS=50000 ... (dry run)  R10_PQ_NOISE_MILLI=50
       R10_TRAIN_ITERS=4  R10_PQ_NPROBE=1  R10_CELL_ITERS=3
       R10_EXACT_VECS=100000 (dry run)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
PQ_VECS = int(os.environ.get("R10_PQ_VECS", 2_000_000))
PQ_CELLS = int(os.environ.get("R10_PQ_CELLS", 256))
NOISE_MILLI = int(os.environ.get("R10_PQ_NOISE_MILLI", 50))
TRAIN_ITERS = int(os.environ.get("R10_TRAIN_ITERS", 4))
TRAIN_SAMPLE_MOD = 10  # train on ids % 10 == 0 — a 1-in-10 held-out-style sample
PQ_QUERY_STRIDE = 250
PQ_SHORTLIST_SCALE = int(os.environ.get("R10_PQ_SHORTLIST", 64))


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _exact_topk(base, gt_rows: list, k: int):
    """Exact brute-force cosine top-k for a bounded query set — the
    engine's ``cosine_topk_arrow`` kernel (one GEMM per Arrow batch,
    per-batch top-k by the global (ROUND(sim,6) DESC, neighbor_id) key —
    an exact prefix of the global order) followed by the merge window.
    Promoted into operators/similarity as a declared query in round 10;
    this probe reuses the kernel with its own (larger) query sets. Returns
    (query_id, neighbor_id, sim, rnk) — the single shared merge for both
    the ground-truth pass (pairs only) and run_exact (rank checks)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from gmr_spark.operators.similarity import make_topk_gemm_fn

    cand = base.mapInPandas(
        make_topk_gemm_fn(gt_rows, k),
        "query_id bigint, neighbor_id bigint, sim double")
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (cand.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k))


def _pq_leg(spark, base, enc, queries, codebook, nprobe, centroids,
            timings: dict, label: str, gt=None, gt_k: int = 10) -> dict:
    """One measured pass of the ADC→shortlist→re-rank stack under
    ``codebook`` against the prebuilt per-leg index ``enc``
    (neighbor_id, cell, codes). Returns the miss-breakdown counters,
    plus recall@``gt_k`` against ``gt`` (query_id, neighbor_id) exact
    top-k when given — the metric where PQ codebook precision shows: the
    planted partner shares the query's codes (ADC ranks it at the
    structural minimum — see the round-10 sweep in SCALE.md), while the
    fine-margin true top-k must survive ADC ORDERING into the shortlist."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from gmr_spark.operators.similarity import (
        _dot, _norm, make_pq_lut_udf, pq_adc_cogrouped)
    from scale_r9 import _assign_topn

    t0 = time.perf_counter()
    if nprobe == 1:
        from gmr_spark.algorithms.kmeans import _assign_arrow

        q_cells = _assign_arrow(
            queries.select("id", F.col("v").alias("vec")), centroids)
    else:
        q_cells = _assign_topn(
            queries.select("id", F.col("v").alias("vec")), centroids, nprobe)
    probes = q_cells.select(F.col("id").alias("query_id"),
                            F.col("cluster").alias("cell"))
    luts = queries.select(F.col("id").alias("query_id"),
                          make_pq_lut_udf(codebook)(F.col("v")).alias("lut"))
    cand = (
        probes.join(enc, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "codes")
    )
    scored = pq_adc_cogrouped(cand, luts)
    w_short = W.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id"))
    short = (
        scored.withColumn("srn", F.row_number().over(w_short))
        .filter(F.col("srn") <= PQ_SHORTLIST_SCALE)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    qv = queries.select(F.col("id").alias("query_id"), F.col("v").alias("q"))
    nv = base.select(F.col("id").alias("neighbor_id"), F.col("v").alias("nv"))
    sims = (
        short.join(qv, "query_id").join(nv, "neighbor_id")
        .select("query_id", "neighbor_id",
                F.round(_dot(F.col("q"), F.col("nv"))
                        / (_norm(F.col("q")) * _norm(F.col("nv"))),
                        6).alias("sim"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    topk = (sims.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= gt_k).localCheckpoint(eager=True))
    top1_hits = topk.filter(
        (F.col("rnk") == 1)
        & (F.col("neighbor_id") == F.col("query_id") - 1)).count()
    timings[f"{label}_query_topk"] = round(time.perf_counter() - t0, 1)

    recall_at_k = None
    reachable = {}
    if gt is not None:
        n_gt = gt.count()
        hits_k = topk.join(gt, ["query_id", "neighbor_id"],
                           "left_semi").count()
        recall_at_k = round(hits_k / n_gt, 4) if n_gt else None
        # REACHABLE recall: GT pairs whose true neighbor is indexed in a
        # probed cell. Both legs share cells (identical coarse quantizer),
        # so the reachable set is identical — recall_reachable isolates
        # the codebook's own contribution (ADC ordering into the
        # shortlist) from coarse-quantizer misses nprobe addresses.
        reach = (gt.join(enc.select("neighbor_id", "cell"), "neighbor_id")
                 .join(probes, ["query_id", "cell"], "left_semi")
                 .select("query_id", "neighbor_id"))
        n_reach = reach.count()
        reachable = {
            "gt_reachable": int(n_reach),
            "recall_reachable": round(hits_k / n_reach, 4)
            if n_reach else None,
        }

    # miss breakdown (metadata-class joins on the tiny query set)
    partner = enc.select((F.col("neighbor_id") + 1).alias("query_id"), "cell")
    cell_hits = (probes.join(partner, ["query_id", "cell"], "left_semi")
                 .select("query_id").distinct().count())
    shortlist_hits = short.filter(
        F.col("neighbor_id") == F.col("query_id") - 1).count()
    from gmr_spark.plans.loop import _drop_checkpoint_blocks

    _drop_checkpoint_blocks(short)
    _drop_checkpoint_blocks(topk)
    return {"cell_hits": int(cell_hits),
            "shortlist_hits": int(shortlist_hits),
            "top1_hits": int(top1_hits),
            "recall_at_k": recall_at_k,
            **reachable}


def run_pqtrain(spark, timings: dict, extra: dict) -> None:
    import shutil

    from pyspark.sql import functions as F

    from gmr_spark.algorithms.kmeans import _assign_arrow
    from gmr_spark.operators.similarity import (
        PQ_DSUB, PQ_KS, PQ_M, _vec, make_pq_codes_udf, pq_mse,
        train_pq_codebook)
    from gmr_spark.plans.loop import _drop_checkpoint_blocks
    from scale_llm import build_corpus

    scratch = os.environ.get("R10_PQ_SCRATCH", "/tmp/r10_pqtrain_scale")
    nprobe = int(os.environ.get("R10_PQ_NPROBE", 1))
    t0 = time.perf_counter()
    sf = build_corpus(spark, n=PQ_VECS, scratch=scratch,
                      noise_milli=NOISE_MILLI)
    timings["build_corpus"] = round(time.perf_counter() - t0, 1)

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    base = emb.select(F.col("vec_id").alias("id"), _vec().alias("v"))
    seed_rows = base.orderBy("id").limit(max(PQ_CELLS, PQ_KS)).collect()
    centroids = [(i, list(r.v)) for i, r in enumerate(seed_rows[:PQ_CELLS])]
    seeded = [
        [[float(seed_rows[c].v[j * PQ_DSUB + d]) for d in range(PQ_DSUB)]
         for c in range(PQ_KS)]
        for j in range(PQ_M)
    ]

    # R10_PQ_TRAIN_CELLS=1: Lloyd-train the coarse quantizer too (the
    # run_celltrain kernels) so the probe measures the full production
    # config — trained cells × trained codebook — against the same exact
    # ground truth; the default keeps seeded cells so the codebook legs
    # isolate the codebook.
    train_cells = bool(os.environ.get("R10_PQ_TRAIN_CELLS", ""))
    if train_cells:
        from gmr_spark.algorithms.kmeans import _update

        t0 = time.perf_counter()
        cell_sample = base.filter(
            F.col("id") % TRAIN_SAMPLE_MOD == 0
        ).select("id", F.col("v").alias("vec")).localCheckpoint(eager=True)
        for _ in range(int(os.environ.get("R10_CELL_ITERS", 3))):
            centroids = _update(cell_sample,
                                _assign_arrow(cell_sample, centroids))
        timings["train_cells"] = round(time.perf_counter() - t0, 1)
        from gmr_spark.plans.loop import _drop_checkpoint_blocks as _dcb

        _dcb(cell_sample)

    t0 = time.perf_counter()
    sample = base.filter(F.col("id") % TRAIN_SAMPLE_MOD == 0)
    trained = train_pq_codebook(sample, seeded, iters=TRAIN_ITERS)
    timings["train_codebook"] = round(time.perf_counter() - t0, 1)

    # quantization error on the FULL corpus (the trained codebook came
    # from the 1-in-10 sample — this measures generalization, not fit)
    t0 = time.perf_counter()
    mse_seeded = pq_mse(base, seeded)
    mse_trained = pq_mse(base, trained)
    timings["mse_passes"] = round(time.perf_counter() - t0, 1)

    # shared coarse assignment, reused by both legs (identical cells by
    # construction — the codebook legs differ ONLY in codes)
    cells = _assign_arrow(base.select("id", F.col("v").alias("vec")),
                          centroids).localCheckpoint(eager=True)
    queries = base.filter(
        ((F.col("id") % 2) == 1) & ((F.col("id") / 2).cast("long")
                                    % PQ_QUERY_STRIDE == 0))
    n_queries = queries.count()

    # exact brute-force top-10 ground truth for a 1-in-4 query subset
    # (driver-bounded collect: ≤1k × 64 doubles). This is where codebook
    # precision shows — the fine-margin true neighbors must survive ADC
    # ORDERING into the shortlist, unlike the planted partner which shares
    # the query's codes (measured in the r10 sweep: zero shortlist misses
    # at any noise/shortlist on the partner metric).
    gt_k = 10
    gt_q = queries.filter(
        (F.col("id") / 2).cast("long") % (PQ_QUERY_STRIDE * 4) == 0)
    gt_rows = [(int(r.id), list(r.v)) for r in gt_q.collect()]
    t0 = time.perf_counter()
    gt = _exact_topk(base, gt_rows, gt_k).select(
        "query_id", "neighbor_id").localCheckpoint(eager=True)
    n_gt_pairs = gt.count()
    timings["exact_ground_truth"] = round(time.perf_counter() - t0, 1)
    assert n_gt_pairs == gt_k * len(gt_rows), (n_gt_pairs, len(gt_rows))

    legs: dict[str, dict] = {}
    index_bytes: dict[str, int] = {}
    for label, codebook in (("seeded", seeded), ("trained", trained)):
        t0 = time.perf_counter()
        enc = (
            base.join(cells, "id")
            .select(F.col("id").alias("neighbor_id"),
                    F.col("cluster").alias("cell"),
                    make_pq_codes_udf(codebook)(F.col("v")).alias("codes"))
            .localCheckpoint(eager=True)
        )
        assert enc.count() == PQ_VECS
        timings[f"{label}_encode_index"] = round(time.perf_counter() - t0, 1)
        # serialized index size: the (cell, codes) table IS the ANN index
        # at rest — measure its parquet bytes once (codes distribution
        # differs per codebook; sizes land within a few % of each other)
        if label == "seeded":
            idx_dir = f"{scratch}/_index_codes"
            enc.select("cell", "codes").write.mode("overwrite").parquet(idx_dir)
            index_bytes["codes_parquet"] = _dir_bytes(idx_dir)
            raw_dir = f"{scratch}/_index_raw"
            (emb.join(cells.withColumnRenamed("id", "vec_id"), "vec_id")
             .select(F.col("cluster").alias("cell"), "embedding")
             .write.mode("overwrite").parquet(raw_dir))
            index_bytes["raw_vec_parquet"] = _dir_bytes(raw_dir)
        legs[label] = _pq_leg(spark, base, enc, queries, codebook, nprobe,
                              centroids, timings, label, gt=gt, gt_k=gt_k)
        legs[label]["mse"] = round(
            mse_seeded if label == "seeded" else mse_trained, 6)
        legs[label]["recall"] = round(
            legs[label]["top1_hits"] / n_queries, 4) if n_queries else None
        _drop_checkpoint_blocks(enc)
        print(f"{label}: {legs[label]}", file=sys.stderr)
    _drop_checkpoint_blocks(cells)
    _drop_checkpoint_blocks(gt)

    extra["pqtrain"] = {
        "vectors": PQ_VECS,
        "noise_milli": NOISE_MILLI,
        "cells": PQ_CELLS,
        "cells_trained": train_cells,
        "nprobe": nprobe,
        "train_iters": TRAIN_ITERS,
        "train_sample": f"1-in-{TRAIN_SAMPLE_MOD}",
        "queries": int(n_queries),
        "gt_queries": len(gt_rows),
        "gt_k": gt_k,
        "shortlist": PQ_SHORTLIST_SCALE,
        "index_bytes": index_bytes,
        "bytes_per_vec": {
            k: round(v / PQ_VECS, 1) for k, v in index_bytes.items()},
        "legs": legs,
    }
    shutil.rmtree(scratch, ignore_errors=True)


def run_celltrain(spark, timings: dict, extra: dict) -> None:
    """R10_RUN_CELLTRAIN=1 — train the COARSE quantizer (the other half of
    round-9 verdict item 2's 'production build'): both 2M PQ rows showed
    every planted-partner miss is a coarse-cell miss (the 256 seed cells
    split 7.5–15.4% of partner pairs across a Voronoi boundary at
    ±0.05–0.1/dim noise), so the cell centroids — not the codebook — bound
    partner recall at nprobe=1. This probe Lloyd-trains the 256 centroids
    with the existing kmeans Arrow kernels (`_assign_arrow` + `_update`,
    the SemDeDup path) on the same 1-in-10 sample and measures, per leg:

      partner_same_cell — planted pairs landing in ONE cell (the nprobe=1
                          coarse recall ceiling for the PQ stack);
      cell balance      — max/mean cell population (the candidate
                          equi-join's worst key: a hot cell is a hot
                          shuffle partition at 100 TB).
    """
    import shutil

    from pyspark.sql import functions as F

    from gmr_spark.algorithms.kmeans import _assign_arrow, _update
    from gmr_spark.operators.similarity import _vec
    from scale_llm import build_corpus

    scratch = os.environ.get("R10_CELL_SCRATCH", "/tmp/r10_celltrain_scale")
    iters = int(os.environ.get("R10_CELL_ITERS", 3))
    t0 = time.perf_counter()
    sf = build_corpus(spark, n=PQ_VECS, scratch=scratch,
                      noise_milli=NOISE_MILLI)
    timings["cell_build_corpus"] = round(time.perf_counter() - t0, 1)

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    base = emb.select(F.col("vec_id").alias("id"), _vec().alias("vec"))
    seed_rows = base.orderBy("id").limit(PQ_CELLS).collect()
    seeded = [(i, list(r.vec)) for i, r in enumerate(seed_rows)]

    t0 = time.perf_counter()
    sample = base.filter(F.col("id") % TRAIN_SAMPLE_MOD == 0) \
        .localCheckpoint(eager=True)
    trained = seeded
    for _ in range(iters):
        trained = _update(sample, _assign_arrow(sample, trained))
    timings["cell_train"] = round(time.perf_counter() - t0, 1)

    legs: dict[str, dict] = {}
    for label, centroids in (("seeded", seeded), ("trained", trained)):
        t0 = time.perf_counter()
        cells = _assign_arrow(base, centroids).localCheckpoint(eager=True)
        n = cells.count()
        timings[f"cell_{label}_assign"] = round(time.perf_counter() - t0, 1)
        assert n == PQ_VECS
        pair = (F.col("id") / 2).cast("long")
        planted = cells.filter(pair % 25 == 0).select(
            pair.alias("pair"), (F.col("id") % 2).alias("side"), "cluster")
        both = (
            planted.groupBy("pair")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.count_distinct("cluster").alias("n_cells"))
            .filter(F.col("n") == 2)
        )
        n_pairs = both.count()
        same = both.filter(F.col("n_cells") == 1).count()
        sizes = cells.groupBy("cluster").count()
        bal = sizes.agg(
            F.count(F.lit(1)).alias("cells_used"),
            F.max("count").alias("max_cell"),
            F.avg("count").alias("mean_cell")).first()
        legs[label] = {
            "pairs": int(n_pairs),
            "partner_same_cell": int(same),
            "same_cell_rate": round(same / n_pairs, 4) if n_pairs else None,
            "cells_used": int(bal.cells_used),
            "max_cell": int(bal.max_cell),
            "max_over_mean": round(bal.max_cell / bal.mean_cell, 2),
        }
        from gmr_spark.plans.loop import _drop_checkpoint_blocks

        _drop_checkpoint_blocks(cells)
        print(f"cells {label}: {legs[label]}", file=sys.stderr)
    from gmr_spark.plans.loop import _drop_checkpoint_blocks

    _drop_checkpoint_blocks(sample)
    extra["celltrain"] = {
        "vectors": PQ_VECS,
        "noise_milli": NOISE_MILLI,
        "cells": PQ_CELLS,
        "iters": iters,
        "train_sample": f"1-in-{TRAIN_SAMPLE_MOD}",
        "legs": legs,
    }
    shutil.rmtree(scratch, ignore_errors=True)


def run_exact(spark, timings: dict, extra: dict) -> None:
    """R10_RUN_EXACT=1 — the declared ``cosine_topk_arrow`` (exact
    brute-force GEMM path) at a 10M-vector corpus, 5x the class every
    other embedding row uses. Queries: 1,000 planted odd members, so the
    result is VERIFIED, not just timed — each query's exact top-1 must be
    its planted partner (cosine ≈ 0.9999 by construction vs a ≤ ~0.65
    max-random tail at 10M), and rank-1 rows must be exactly one per
    query. Also reports the scan rate (vectors·queries/s through the GEMM)."""
    import shutil

    from pyspark.sql import functions as F

    from gmr_spark.operators.similarity import _vec
    from scale_llm import build_corpus

    n_vecs = int(os.environ.get("R10_EXACT_VECS", 10_000_000))
    scratch = os.environ.get("R10_EXACT_SCRATCH", "/tmp/r10_exact_scale")
    t0 = time.perf_counter()
    sf = build_corpus(spark, n=n_vecs, scratch=scratch)
    timings["exact_build_corpus"] = round(time.perf_counter() - t0, 1)

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    base = emb.select(F.col("vec_id").alias("id"), _vec().alias("v"))
    # 1,000 planted odd queries: pairs are every 25th, sample 1-in-(n/50k)
    stride = max(1, n_vecs // 50_000) * 25
    queries = base.filter(
        ((F.col("id") % 2) == 1)
        & ((F.col("id") / 2).cast("long") % stride == 0))
    q_rows = [(int(r.id), list(r.v)) for r in queries.collect()]

    t0 = time.perf_counter()
    top = _exact_topk(base, q_rows, 10).localCheckpoint(eager=True)
    n_rows = top.count()
    wall = round(time.perf_counter() - t0, 1)
    timings["exact_topk_10m"] = wall

    top1 = top.filter(F.col("rnk") == 1)
    n_top1 = top1.count()
    hits = top1.filter(F.col("neighbor_id") == F.col("query_id") - 1).count()
    from gmr_spark.plans.loop import _drop_checkpoint_blocks

    _drop_checkpoint_blocks(top)
    assert n_rows == 10 * len(q_rows), (n_rows, len(q_rows))
    assert n_top1 == len(q_rows)
    extra["exact"] = {
        "vectors": n_vecs,
        "queries": len(q_rows),
        "k": 10,
        "top1_partner_hits": int(hits),
        "top1_partner_recall": round(hits / len(q_rows), 4),
        "pair_scans_per_sec": round(n_vecs * len(q_rows) / wall)
        if wall else None,
    }
    print(f"exact: {len(q_rows)} queries x {n_vecs} vectors in {wall}s, "
          f"partner recall {extra['exact']['top1_partner_recall']}",
          file=sys.stderr)
    shutil.rmtree(scratch, ignore_errors=True)


def main() -> None:
    from gmr_spark.session import calibration_probe, get_session

    spark = get_session("r10_scale", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    extra: dict[str, object] = {}
    calibration_probe(spark)  # warm codegen
    extra["calibration_sec"] = calibration_probe(spark)

    if os.environ.get("R10_RUN_PQTRAIN", ""):
        run_pqtrain(spark, timings, extra)
    if os.environ.get("R10_RUN_CELLTRAIN", ""):
        run_celltrain(spark, timings, extra)
    if os.environ.get("R10_RUN_EXACT", ""):
        run_exact(spark, timings, extra)

    extra["calibration_post_sec"] = calibration_probe(spark)
    print(json.dumps({
        "metric": "r10_scale_proof",
        "cpus": int(CPUS),
        "timings_sec": timings,
        "unit": "sec",
        **extra,
    }))


if __name__ == "__main__":
    main()
