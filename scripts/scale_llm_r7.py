#!/usr/bin/env python
"""Round-7 targeted LLM-scale probes over the ``scale_llm`` 2M-doc corpus.

Each probe is opt-in via env var so a rerun pays only for what it measures
(the ``G2_RUN_*`` pattern from ``scale_g2.py``); all are
calibration-bracketed like bench.py / scale_llm.py and print ONE JSON line.

  BM25=1
      Re-measure ``bm25_topk`` at 2M docs under the committed plan — the
      SCALE.md 23.3 s row was measured BEFORE the late-round-6 dl rewrite
      (per-doc length from a narrow array-size scan instead of a second
      unfiltered full-corpus explode), so it upper-bounds a plan that no
      longer exists. Two samples, min recorded (bench.py's estimator).

  SEMDEDUP_KSWEEP="10000,50000"
      Arrow SemDeDup at paper-class k over the 2M-vector embeddings table
      (Abbas et al. run k=50k on LAION; the round-6 row ran k=1000). The
      sweep shows the two k-dependent costs stay bounded as E[cluster]
      shrinks 2000 -> 40: the assign GEMM is row-chunked so per-task memory
      is flat in k, and the per-cluster similarity blocks SHRINK with
      E[cluster]^2. Planted recall is re-measured per k — more clusters
      mean more planted pairs split across cluster boundaries, the paper's
      documented recall-vs-k tradeoff, so the row records where that curve
      sits, not just that the run finished.

  AUDIO_FILES=200000
      The small-files regime (round-6 verdict item 2 of "what's missing"):
      materialize that many REAL .wav files through the module's landing-
      zone writer, then push them through ``multimodal_audio_files``'s
      binaryFile scan + chunk-walk decode. The 2M-clip decode proof rode
      the synth path; a real 100 TB media corpus hits per-object listing /
      open() overhead first — this records files/s for both the write and
      the scan+decode legs on a corpus of tiny (~1.3 KB) objects.

Usage:  BM25=1 SEMDEDUP_KSWEEP=10000,50000 AUDIO_FILES=200000 \
            python scripts/scale_llm_r7.py
        LLM_DOCS=200000 ... (dry run)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

N = int(os.environ.get("LLM_DOCS", 2_000_000))
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    from pyspark.sql import functions as F

    from gmr_spark.session import calibration_probe, get_session
    from scale_llm import build_corpus

    spark = get_session("llm_scale_r7", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    calibration_probe(spark)  # warm the probe path
    out: dict[str, object] = {"docs": N, "cpus": int(CPUS),
                              "cal": calibration_probe(spark)}

    needs_corpus = os.environ.get("BM25", "") or os.environ.get(
        "SEMDEDUP_KSWEEP", "")
    if needs_corpus:
        t0 = time.perf_counter()
        sf = build_corpus(spark)
        out["build_s"] = round(time.perf_counter() - t0, 1)
        print(f"corpus: {N} docs ({out['build_s']}s)", file=sys.stderr)

    if os.environ.get("BM25", ""):
        from gmr_spark.operators.text_analysis import bm25_frame
        from gmr_spark.sources.tables import load_tables

        docs = load_tables(spark, sf)["documents"]
        samples = []
        for _ in range(2):
            t0 = time.perf_counter()
            n_rows = bm25_frame(
                docs, spark=spark,
                queries=((0, "w1 w17 w333"), (1, "w42 w900"),
                         (2, "alpha beta"), (3, "w7 w77 w777 w97")),
            ).count()
            samples.append(round(time.perf_counter() - t0, 1))
            print(f"bm25_topk: {n_rows} rows ({samples[-1]}s)",
                  file=sys.stderr)
        out["bm25_topk"] = {"rows": n_rows, "samples_s": samples,
                            "min_s": min(samples)}

    sweep = os.environ.get("SEMDEDUP_KSWEEP", "")
    if sweep:
        from gmr_spark.operators.dedup import semdedup_frame
        from gmr_spark.sources.tables import load_tables

        emb = load_tables(spark, sf)["embeddings"]
        expected_pairs = (N // 2 + 24) // 25
        rows = []
        for k in (int(x) for x in sweep.split(",")):
            t0 = time.perf_counter()
            sem = semdedup_frame(emb, k=k, iters=2, threshold=0.9,
                                 engine="arrow").localCheckpoint(eager=True)
            n = sem.count()
            wall = round(time.perf_counter() - t0, 1)
            retired_total = sem.filter(~F.col("keep")).count()
            retired_planted = sem.filter(
                ~F.col("keep") & (F.col("vec_id") % 2 == 1)
                & ((F.col("vec_id") / 2).cast("long") % 25 == 0)).count()
            from gmr_spark.plans.loop import _drop_checkpoint_blocks
            _drop_checkpoint_blocks(sem)
            recall = retired_planted / expected_pairs
            print(f"semdedup k={k}: {n} rows, {retired_total} retired, "
                  f"recall {recall:.4f} ({wall}s)", file=sys.stderr)
            assert n == N
            # false positives stay visible: on this corpus every retire
            # above 0.9 must be a planted pair
            assert retired_total == retired_planted, (retired_total,
                                                      retired_planted)
            rows.append({"k": k, "wall_s": wall,
                         "retired_total": retired_total,
                         "retired_planted": retired_planted,
                         "recall": round(recall, 4)})
        out["semdedup_ksweep"] = rows

    n_audio = int(os.environ.get("AUDIO_FILES", 0) or 0)
    if n_audio:
        import shutil

        from gmr_spark.operators.multimodal import (
            _ensure_payload_files, _make_wav_payload_batches,
            multimodal_audio_files)

        scratch = f"/tmp/llm_r7_audio_{n_audio}"
        asf = build_corpus(spark, n=n_audio, scratch=scratch)
        t0 = time.perf_counter()
        files_dir = _ensure_payload_files(spark, asf, "wav",
                                          _make_wav_payload_batches)
        write_s = round(time.perf_counter() - t0, 1)
        print(f"audio write: {n_audio} files ({write_s}s)", file=sys.stderr)

        # listing-only leg: what the driver pays to enumerate the corpus
        t0 = time.perf_counter()
        n_listed = (spark.read.format("binaryFile")
                    .option("pathGlobFilter", "*.wav")
                    .load(files_dir).count())
        list_s = round(time.perf_counter() - t0, 1)
        print(f"audio list+read: {n_listed} files ({list_s}s)",
              file=sys.stderr)

        t0 = time.perf_counter()
        dec = multimodal_audio_files(spark, asf)
        agg = dec.agg(F.count(F.lit(1)).alias("n"),
                      F.sum("n_frames").alias("frames")).first()
        decode_s = round(time.perf_counter() - t0, 1)
        print(f"audio scan+decode: {agg.n} files, {agg.frames} frames "
              f"({decode_s}s)", file=sys.stderr)
        assert agg.n == n_audio == n_listed
        out["audio_files"] = {
            "files": n_audio,
            "write_s": write_s,
            "write_files_per_sec": round(n_audio / write_s)
            if write_s else None,
            "list_scan_s": list_s,
            "scan_decode_s": decode_s,
            "scan_files_per_sec": round(n_audio / decode_s)
            if decode_s else None,
            "frames": agg.frames,
        }
        shutil.rmtree(files_dir, ignore_errors=True)
        shutil.rmtree(scratch, ignore_errors=True)

    out["cal_post"] = calibration_probe(spark)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
