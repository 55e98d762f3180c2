#!/usr/bin/env python
"""Round-9 scale rows: the O18 global sample sort at 120M rows, and the new
IVF-PQ ANN path at the 2M-vector scale class.

R9_RUN_SORT=1 — global total-order rank over 120M rows (the engine
expression of the reference's standalone MPI sample sort,
samplesort.cpp:21-191 / O18 — the one §2.1 operator that had correctness
rows but no at-scale row). Designed bijection so every rank has a closed
form: value = (id * P) mod N with P prime and gcd(P, N) = 1 is a
permutation of 0..N-1, so after ranking by value, rnk == value + 1 for
EVERY row. The verify pass checks all N rows (count, min/max rank, exact
rank-sum N(N+1)/2, and zero rank≠value+1 mismatches) in one aggregation —
wall-clock alone proves nothing (scale_g2.py discipline).

R9_RUN_PQ=1 — IVF-PQ (operators/similarity.py:ann_ivf_pq) at 2M vectors,
the corpus scale_llm.build_corpus plants: pairs (2k, 2k+1) with k % 25 == 0
share a base vector, the odd member gets ±0.005/dim noise (cosine ≈
0.9999), so each planted odd vector's TRUE nearest neighbor is its even
partner — recall here is an invariant of the construction, not a judgment
call. The declared operator's plan shape is kept (cell equi-join → PQ
codes → per-query LUT → JVM ADC → shortlist → exact re-rank), with the two
pieces that must scale past the oracle-compact defaults swapped to their
measured scale paths:
  - coarse quantizer: 256 seed cells assigned via the Arrow/GEMM kernel
    (algorithms/kmeans._assign_arrow — a 256-literal Catalyst struct array
    is the Janino blowup the k-means work already solved);
  - queries: a deterministic 4k-query subset of the planted odd members
    (pair % 250 == 0), each scoring its whole cell (~7.8k candidates) via
    the shared pq_adc_expr.
Reported: encode rate (vec/s), ADC query rate (q/s), and top-1
partner-recall through the full ADC→shortlist→re-rank stack.

R9_RUN_RECOVER=1 — streaming crash-recovery at the 50M-event class: inject
a sink failure mid-drain, restart from the checkpoint, assert resume AT
the failed epoch and exactly-once state vs the one-job batch twin; the
recovery cost measured is the uncommitted work only (SCALE.md).

Usage: R9_RUN_SORT=1 python scripts/scale_r9.py
       R9_RUN_PQ=1 python scripts/scale_r9.py
       R9_RUN_RECOVER=1 python scripts/scale_r9.py
       R9_SORT_ROWS=1200000 / R9_PQ_VECS=100000 ... (dry runs)
       R9_PQ_ADC=expr (ADC transport A/B) / R9_PQ_NPROBE=2 (probe 2 cells
       per query — recovers the coarse-quantizer misses at 2x candidate
       volume)
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))  # scale_llm

CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
SORT_N = int(os.environ.get("R9_SORT_ROWS", 120_000_000))
SORT_P = 179_424_673  # prime (the 10-millionth); gcd asserted against N
SORT_PARTS = int(os.environ.get("R9_SORT_PARTS", 256))
PQ_VECS = int(os.environ.get("R9_PQ_VECS", 2_000_000))
PQ_CELLS = int(os.environ.get("R9_PQ_CELLS", 256))
PQ_QUERY_STRIDE = 250  # planted pairs have pair % 25 == 0; sample 1-in-10
PQ_SHORTLIST_SCALE = 64


def run_sort(spark, timings: dict, extra: dict) -> None:
    from pyspark.sql import functions as F

    from gmr_spark.operators.relational import global_rank

    assert math.gcd(SORT_P, SORT_N) == 1, "P must be coprime to N"
    df = spark.range(SORT_N).select(
        F.col("id"), ((F.col("id") * SORT_P) % SORT_N).alias("value"))

    t0 = time.perf_counter()
    ranked = global_rank(df, SORT_PARTS, "value")  # value is a permutation
    row = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("rnk").alias("min_rnk"),
        F.max("rnk").alias("max_rnk"),
        F.sum("rnk").alias("sum_rnk"),
        F.sum(F.when(F.col("rnk") != F.col("value") + 1, 1)
              .otherwise(0)).alias("mismatches"),
    ).first()
    wall = round(time.perf_counter() - t0, 1)
    timings["global_sort_rank"] = wall

    assert row.n == SORT_N, row
    assert row.min_rnk == 1 and row.max_rnk == SORT_N, row
    assert row.sum_rnk == SORT_N * (SORT_N + 1) // 2, row
    assert row.mismatches == 0, row
    extra["sort"] = {
        "rows": SORT_N,
        "parts": SORT_PARTS,
        "rows_per_sec": round(SORT_N / wall) if wall else None,
        "mismatches": int(row.mismatches),
        "rank_sum_exact": True,
    }
    print(f"sort: {SORT_N} rows ranked+verified in {wall}s "
          f"({extra['sort']['rows_per_sec']} rows/s), 0 mismatches",
          file=sys.stderr)


def _assign_topn(df, centroids, n: int):
    """Top-n cell assignment — the nprobe query-side twin of
    ``kmeans._assign_arrow`` (same GEMM + 9 dp rounding; stable argsort so
    ties break to the lower cell id, like argmin). Output: (id, cluster)
    with ``n`` rows per input id."""
    import numpy as np
    import pandas as pd

    C = np.asarray([vec for _, vec in centroids], dtype=np.float64)
    ids = np.asarray([c for c, _ in centroids], dtype=np.int64)
    c2 = (C * C).sum(axis=1)
    row_chunk = max(16, 8_000_000 // max(1, len(ids)))

    def fn(batches):
        for pdf in batches:
            V = np.stack(pdf["vec"].to_numpy()).astype(np.float64)
            v2 = (V * V).sum(axis=1)
            out_ids, out_cells = [], []
            for lo in range(0, len(V), row_chunk):
                hi = min(lo + row_chunk, len(V))
                d2 = v2[lo:hi, None] + c2[None, :] - 2.0 * (V[lo:hi] @ C.T)
                top = np.argsort(np.round(d2, 9), axis=1,
                                 kind="stable")[:, :n]
                out_ids.append(np.repeat(pdf["id"].to_numpy()[lo:hi], n))
                out_cells.append(ids[top].reshape(-1))
            yield pd.DataFrame({
                "id": np.concatenate(out_ids),
                "cluster": np.concatenate(out_cells).astype(np.int32)})

    return df.mapInPandas(fn, "id bigint, cluster int")


def run_pq(spark, timings: dict, extra: dict) -> None:
    import shutil

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from gmr_spark.algorithms.kmeans import _assign_arrow
    from gmr_spark.operators.similarity import (
        PQ_DSUB, PQ_KS, PQ_M, _dot, _norm, _vec, make_pq_codes_udf,
        make_pq_lut_udf, pq_adc_cogrouped, pq_adc_expr)
    from scale_llm import build_corpus

    scratch = os.environ.get("R9_PQ_SCRATCH", "/tmp/r9_pq_scale")
    t0 = time.perf_counter()
    sf = build_corpus(spark, n=PQ_VECS, scratch=scratch)
    timings["pq_build_corpus"] = round(time.perf_counter() - t0, 1)

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    base = emb.select(F.col("vec_id").alias("id"), _vec().alias("v"))

    # seeded structures, identical scheme to the declared operator
    seed_rows = base.orderBy("id").limit(max(PQ_CELLS, PQ_KS)).collect()
    centroids = [(i, list(r.v)) for i, r in enumerate(seed_rows[:PQ_CELLS])]
    codebook = [
        [[float(seed_rows[c].v[j * PQ_DSUB + d]) for d in range(PQ_DSUB)]
         for c in range(PQ_KS)]
        for j in range(PQ_M)
    ]

    # index side: Arrow GEMM cell assign + PQ encode, materialized once —
    # the (cell, codes) table is 12 B/vector vs 256 B raw: the PQ point
    t0 = time.perf_counter()
    cells = _assign_arrow(base.select("id", F.col("v").alias("vec")),
                          centroids)
    enc = (
        base.join(cells, "id")
        .select(F.col("id").alias("neighbor_id"),
                F.col("cluster").alias("cell"),
                make_pq_codes_udf(codebook)(F.col("v")).alias("codes"))
        .localCheckpoint(eager=True)
    )
    n_indexed = enc.count()
    encode_wall = round(time.perf_counter() - t0, 1)
    timings["pq_encode_index"] = encode_wall
    assert n_indexed == PQ_VECS

    # query side: the deterministic planted subset — odd members whose
    # partner is the true top-1 by construction
    queries = base.filter(
        ((F.col("id") % 2) == 1) & ((F.col("id") / 2).cast("long")
                                    % PQ_QUERY_STRIDE == 0))
    nprobe = int(os.environ.get("R9_PQ_NPROBE", 1))
    if nprobe == 1:
        q_cells = _assign_arrow(queries.select("id", F.col("v").alias("vec")),
                                centroids)
    else:
        q_cells = _assign_topn(queries.select("id", F.col("v").alias("vec")),
                               centroids, nprobe)
    n_queries = queries.count()

    t0 = time.perf_counter()
    luts = queries.select(F.col("id").alias("query_id"),
                          make_pq_lut_udf(codebook)(F.col("v")).alias("lut"))
    probes = q_cells.select(F.col("id").alias("query_id"),
                            F.col("cluster").alias("cell"))
    cand = (
        probes.join(enc, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "codes")
    )
    if os.environ.get("R9_PQ_ADC", "cogroup") == "expr":
        # A/B leg: the JVM expression path copies the 1 KB LUT into every
        # candidate row at the join — measured 116.3 s for this probe
        scored = cand.join(luts, "query_id").select(
            "query_id", "neighbor_id",
            pq_adc_expr(F.col("lut"), F.col("codes")).alias("adc"))
    else:
        # default: cogrouped transport — LUT ships once per query group
        # (agreement with the expr path pinned in tests/test_llm_ops.py)
        scored = pq_adc_cogrouped(cand, luts)
    w_short = W.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id"))
    short = (
        scored.withColumn("srn", F.row_number().over(w_short))
        .filter(F.col("srn") <= PQ_SHORTLIST_SCALE)
        .select("query_id", "neighbor_id")
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
    top1 = (sims.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") == 1))
    hits = top1.filter(F.col("neighbor_id") == F.col("query_id") - 1).count()
    query_wall = round(time.perf_counter() - t0, 1)
    timings["pq_query_topk"] = query_wall

    recall = round(hits / n_queries, 4) if n_queries else None
    extra["pq"] = {
        "vectors": PQ_VECS,
        "cells": PQ_CELLS,
        "nprobe": nprobe,
        "queries": int(n_queries),
        "encode_vecs_per_sec": round(PQ_VECS / encode_wall)
        if encode_wall else None,
        "queries_per_sec": round(n_queries / query_wall)
        if query_wall else None,
        "top1_partner_hits": int(hits),
        "top1_partner_recall": recall,
    }
    print(f"pq: encoded {PQ_VECS} vecs in {encode_wall}s, "
          f"{n_queries} queries in {query_wall}s, "
          f"top-1 partner recall {recall}", file=sys.stderr)
    # release the pinned index checkpoint + scratch corpus
    try:
        from gmr_spark.plans.loop import _drop_checkpoint_blocks

        _drop_checkpoint_blocks(enc)
    except Exception:
        pass
    shutil.rmtree(scratch, ignore_errors=True)


def run_recover(spark, timings: dict, extra: dict) -> None:
    """Crash-recovery at the 50M-event streaming scale class (the unit
    drill in tests/test_streaming.py proves the semantics; this measures
    the OPERATIONAL cost): ingest the scale_stream corpus through the
    watermarked hourly aggregation (update mode, per-epoch idempotent
    parquet sink — the agg output is bounded at ~#windows × #types rows per
    epoch, so sink IO is negligible), inject a sink failure at the midpoint
    epoch after a partial write, restart from the SAME checkpoint, and
    measure the recovery drain. Invariants: the restart resumes AT the
    failed epoch (offset log — recovery cost is one micro-batch replay, not
    a re-scan), and the reconstructed final state equals the one-job batch
    aggregation of all N events exactly."""
    import shutil

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from gmr_spark.streaming.windowed import _windowed_agg, read_events_stream
    from scale_stream import build_events

    n = int(os.environ.get("R9_RECOVER_EVENTS", 50_000_000))
    scratch = os.environ.get("R9_RECOVER_SCRATCH", "/tmp/r9_recover_scale")
    t0 = time.perf_counter()
    sf = build_events(spark, n, scratch)
    timings["recover_build_corpus"] = round(time.perf_counter() - t0, 1)

    src = f"{sf}/events.parquet"
    opts = {"pathGlobFilter": "*.parquet", "maxFilesPerTrigger": "8"}
    ckpt = f"{scratch}/ckpt"
    out_root = f"{scratch}/out"
    crash_epoch = 4  # 64 files / 8 per trigger = 8 epochs; fail mid-drain
    state = {"crashed": False}

    def make_sink(fail_once: bool):
        def sink(batch_df, epoch_id):
            if fail_once and epoch_id == crash_epoch and not state["crashed"]:
                batch_df.limit(1).write.mode("overwrite").parquet(
                    f"{out_root}/epoch={epoch_id}")
                state["crashed"] = True
                raise RuntimeError("injected sink failure")
            batch_df.write.mode("overwrite").parquet(
                f"{out_root}/epoch={epoch_id}")
        return sink

    def start(fail_once: bool):
        # watermark wider than the 7-day corpus: the file source orders
        # batches by mtime, and at 50M the 64-file write straggles, so
        # batch order ≠ event-time order — a tight watermark would drop
        # whole late windows, which is drop POLICY, not the recovery
        # contract this drill measures (the throughput probe in
        # scale_stream.py keeps the tight-watermark configuration)
        events = read_events_stream(spark, src, options=opts).withWatermark(
            "ts", "8 days")
        return (_windowed_agg(events).writeStream.outputMode("update")
                .foreachBatch(make_sink(fail_once))
                .option("checkpointLocation", ckpt).start())

    from pyspark.errors.exceptions.base import StreamingQueryException

    t0 = time.perf_counter()
    q = start(fail_once=True)
    crashed = False
    try:
        q.awaitTermination()
    except StreamingQueryException:
        # ONLY the injected sink crash surfacing through the query — any
        # other failure (Py4J, session death) propagates instead of being
        # mistaken for the drill's phase 1 (round-9 ADVICE item 1; the old
        # blanket except also swallowed the survived-query assertion below)
        crashed = True
    if not crashed:
        raise AssertionError("query survived the injected failure")
    phase1 = round(time.perf_counter() - t0, 1)
    assert state["crashed"], "fault injector never fired"

    t0 = time.perf_counter()
    q2 = start(fail_once=False)
    q2.processAllAvailable()
    replayed = [int(p["batchId"]) for p in q2.recentProgress]
    recover_rows = sum(int(p["numInputRows"]) for p in q2.recentProgress)
    q2.stop()
    phase2 = round(time.perf_counter() - t0, 1)
    timings["recover_phase1_to_crash"] = phase1
    timings["recover_phase2_drain"] = phase2
    assert replayed and min(replayed) == crash_epoch, replayed

    # exactly-once: last-update-per-key across epochs == one-job batch agg
    t0 = time.perf_counter()
    got_df = spark.read.option("basePath", out_root).parquet(out_root)
    w = W.partitionBy("hour_epoch", "event_type").orderBy(F.col("epoch").desc())
    latest = (got_df.withColumn("rn", F.row_number().over(w))
              .filter("rn = 1").select("hour_epoch", "event_type", "n",
                                       "total_value"))
    # batch twin: same source files through the batch reader, same NTZ →
    # timestamp normalization read_events_stream applies
    batch_ev = (
        spark.read.schema(
            "event_id long, ts timestamp_ntz, user_id long,"
            " event_type string, value double, props string")
        .option("pathGlobFilter", "*.parquet").parquet(src)
        .withColumn("ts", F.timestamp_micros(F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            " ts)"))))
    batch = _windowed_agg(batch_ev)
    # decimal-summed totals are exact, so set equality is the right test
    diff = latest.exceptAll(batch).count() + batch.exceptAll(latest).count()
    n_keys = latest.count()
    verify_wall = round(time.perf_counter() - t0, 1)
    timings["recover_verify"] = verify_wall
    assert diff == 0, f"{diff} state keys differ from the batch twin"
    extra["recover"] = {
        "events": n,
        "crash_epoch": crash_epoch,
        "resumed_at": int(min(replayed)),
        "replay_rows": recover_rows,
        "state_keys": int(n_keys),
        "exactly_once": True,
    }
    print(f"recover: crash@{crash_epoch} after {phase1}s, drained rest in "
          f"{phase2}s ({recover_rows} rows), {n_keys} state keys exact",
          file=sys.stderr)
    shutil.rmtree(scratch, ignore_errors=True)


def main() -> None:
    from gmr_spark.session import calibration_probe, get_session

    spark = get_session("r9_scale", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    extra: dict[str, object] = {}
    calibration_probe(spark)  # warm codegen
    extra["calibration_sec"] = calibration_probe(spark)

    if os.environ.get("R9_RUN_SORT", ""):
        run_sort(spark, timings, extra)
    if os.environ.get("R9_RUN_PQ", ""):
        run_pq(spark, timings, extra)
    if os.environ.get("R9_RUN_RECOVER", ""):
        run_recover(spark, timings, extra)

    extra["calibration_post_sec"] = calibration_probe(spark)
    print(json.dumps({
        "metric": "r9_scale_proof",
        "cpus": int(CPUS),
        "timings_sec": timings,
        "unit": "sec",
        **extra,
    }))


if __name__ == "__main__":
    main()
