#!/usr/bin/env python
"""LLM-pipeline scale proof: the declared corpus operators at ~2M documents
(~400x the sf0.1 documents table), entirely from ``spark.range`` —
deterministic, no input files, same code paths the driver checks at sf0.01.

Corpus: N docs, 30-60 words each from a 997-word vocabulary, generated by
hash arithmetic (pure JVM expressions). Every 25th doc-id pair shares a
generator seed and differs only in its final word — planted near-duplicates
with Jaccard ≈ 0.93-0.97 that the MinHash-LSH chain must find (and the
trailing-word difference keeps exact dedup from seeing them: the two
detectors are exercised on disjoint signals).

The synthetic corpus is written as parquet into a scratch dir that borrows
every other table from $SPARK_GRAFT_SF_DIR via symlink, so the REAL
operators (which load by sf_dir contract) run unchanged.

Usage:  python scripts/scale_llm.py                 # 2M docs
        LLM_DOCS=200000 python scripts/scale_llm.py # dry run
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N = int(os.environ.get("LLM_DOCS", 2_000_000))
BASE_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SCRATCH = os.environ.get("LLM_SCRATCH", "/tmp/llm_scale_corpus")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def build_corpus(spark, n: int = None, scratch: str = None,
                 base_sf: str = None, noise_milli: int = 5) -> str:
    from pyspark.sql import functions as F

    n = n if n is not None else N
    scratch = scratch or SCRATCH
    base_sf = base_sf or BASE_SF
    if os.path.exists(scratch):
        shutil.rmtree(scratch)
    os.makedirs(scratch)
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events"):
        os.symlink(f"{base_sf}/{t}.parquet", f"{scratch}/{t}.parquet")

    # seed: near-dup pairs (2k, 2k+1) for k % 25 == 0 share k's seed
    pair = F.expr("id DIV 2")
    seed = F.when(pair % 25 == 0, pair * 2).otherwise(F.col("id"))
    n_words = (F.lit(30) + F.pmod(seed, F.lit(30))).cast("int")
    # per-word murmur3 of (seed, j): decorrelated across seeds — a linear
    # congruential index collapses to seed mod 997, making every same-residue
    # doc pair a near-duplicate (measured: ~100-doc accidental clusters ->
    # millions of LSH candidate pairs). No cross-engine twin needed here, so
    # Spark's native hash() is fine.
    words = F.transform(
        F.sequence(F.lit(1), n_words),
        lambda j: F.concat(
            F.lit("w"), F.pmod(F.hash(seed, j), F.lit(997)).cast("string")),
    )
    tail = F.when(F.col("id") % 2 == 0, F.lit("alpha")).otherwise(F.lit("beta"))
    # the arithmetic vocab index collapses to seed mod 997, so without a
    # uniquifier distinct seeds can emit identical texts (measured: 100k docs
    # -> 32k distinct, giant exact-dup groups -> quadratic LSH buckets). A
    # seed-derived token makes every non-planted doc unique while planted
    # pairs (shared seed) still differ only in the alpha/beta tail.
    uniq = F.concat(F.lit("s"), seed.cast("string"))
    text = F.concat_ws(" ", F.concat_ws(" ", words), uniq, tail)
    langs = F.element_at(
        F.array(F.lit("en"), F.lit("en"), F.lit("en"), F.lit("de"),
                F.lit("es"), F.lit("fr")), (F.pmod(F.col("id"), F.lit(6)) + 1).cast("int"))
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        text.alias("text"),
        langs.alias("lang"),
        F.concat(F.lit("src"), F.pmod(F.col("id"), F.lit(20)).cast("string")).alias("source"),
        F.length(text).alias("n_chars"),
    )
    docs.write.mode("overwrite").parquet(f"{scratch}/documents.parquet")

    # embeddings twin of the planted-pair scheme: the SAME (2k, 2k+1),
    # k % 25 == 0 pairs share a base 64-dim vector; the odd member gets
    # ±noise_milli/1000 noise on EVERY dim (default ±0.005, cosine ≈
    # 0.9999 — the r9 PQ row's regime; the r10 codebook proof passes 50 →
    # ±0.05/dim, cosine ≈ 0.9988, where a 16-entry seeded PQ codebook's
    # quantization error starts to matter). At the default, noise can flip
    # a sign bit only where the base coordinate is within 0.005 of zero
    # (p ≈ 0.5%/dim), so expected recall of a 16-bit sign-LSH bucket join
    # is ~(1-0.005)^16 ≈ 92% — measured, not asserted blind, in main().
    dim = F.sequence(F.lit(1), F.lit(64))
    a = int(noise_milli)
    base_coord = lambda d: (F.pmod(F.hash(seed, d), F.lit(2001)) - 1000) / 1000.0  # noqa: E731
    noise = lambda d: F.when(  # noqa: E731
        (pair % 25 == 0) & (F.col("id") % 2 == 1),
        (F.pmod(F.hash(F.col("id"), d, F.lit(7)), F.lit(2 * a + 1)) - a) / 1000.0,
    ).otherwise(F.lit(0.0))
    vec = F.transform(dim, lambda d: (base_coord(d) + noise(d)).cast("float"))
    spark.range(n).select(
        F.col("id").alias("vec_id"), vec.alias("embedding")
    ).write.mode("overwrite").parquet(f"{scratch}/embeddings.parquet")
    return scratch


def main() -> None:
    from gmr_spark.operators.dedup import dedup_exact, dedup_minhash
    from gmr_spark.operators.sampling import (
        sequence_packing, stratified_sample, temperature_mix_sample)
    from gmr_spark.operators.text_analysis import (
        doc_chunking, gopher_quality, token_length_histogram)
    from gmr_spark.session import get_session

    spark = get_session("llm_scale", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")

    # calibration bracketing (same contract as bench.py): a drifting pair
    # flags an externally-throttled run — read the timings as upper bounds
    from gmr_spark.session import calibration_probe

    calibration_probe(spark)  # warm the probe path itself
    cal_pre = calibration_probe(spark)

    timings: dict[str, float] = {}
    counts: dict[str, int] = {}

    t0 = time.perf_counter()
    sf = build_corpus(spark)
    timings["build_corpus"] = round(time.perf_counter() - t0, 1)
    print(f"corpus: {N} docs ({timings['build_corpus']}s)", file=sys.stderr)

    expected_pairs = (N // 2 + 24) // 25  # pairs (2k,2k+1), k % 25 == 0

    def run(name, fn):
        t0 = time.perf_counter()
        counts[name] = fn(spark, sf).count()
        timings[name] = round(time.perf_counter() - t0, 1)
        print(f"{name}: {counts[name]} rows ({timings[name]}s)", file=sys.stderr)

    run("dedup_exact", dedup_exact)
    run("dedup_minhash", dedup_minhash)

    found = counts["dedup_minhash"]
    assert found >= 0.95 * expected_pairs, (
        f"MinHash-LSH found {found} near-dup pairs; planted {expected_pairs}")

    # Exact-substring dedup at corpus scale (round 6): planted (2k, 2k+1)
    # texts are identical except the 1-token alpha/beta tail, so every
    # window but the final one (the only one covering the tail token) is
    # shared verbatim — BOTH pair members must come out keep=false. Chance
    # 8-gram collisions between unrelated docs are ~997^-8 — the flagged
    # set should be exactly the planted docs; the TOTAL is recorded so any
    # false positives stay visible in the artifact.
    from gmr_spark.operators.dedup import dedup_substring
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    sub = dedup_substring(spark, sf).localCheckpoint(eager=True)
    counts["dedup_substring"] = sub.count()
    sub_flagged_total = sub.filter(~F.col("keep")).count()
    sub_flagged_planted = sub.filter(
        ~F.col("keep") & ((F.col("doc_id") / 2).cast("long") % 25 == 0)
    ).count()
    timings["dedup_substring"] = round(time.perf_counter() - t0, 1)
    from gmr_spark.plans.loop import _drop_checkpoint_blocks
    _drop_checkpoint_blocks(sub)
    sub_recall = sub_flagged_planted / (2 * expected_pairs)
    print(f"dedup_substring: {sub_flagged_total} docs flagged total, "
          f"{sub_flagged_planted}/{2 * expected_pairs} planted members "
          f"(recall {sub_recall:.4f}, {timings['dedup_substring']}s)",
          file=sys.stderr)
    assert sub_recall >= 0.999, f"exact-substring recall {sub_recall}"

    # release the memoized shingle/pair checkpoints (GBs of executor
    # storage at this scale) BEFORE timing the non-dedup operators — the
    # pinned blocks otherwise tax them with memory pressure / GC
    from gmr_spark.operators.dedup import clear_dedup_memo
    clear_dedup_memo()

    for name, fn in (
        ("gopher_quality", gopher_quality),
        ("stratified_sample", stratified_sample),
        ("temperature_mix_sample", temperature_mix_sample),
        ("sequence_packing", sequence_packing),
        ("token_length_histogram", token_length_histogram),
        ("doc_chunking", doc_chunking),
    ):
        run(name, fn)

    # embedding-space near-dup at corpus scale: 16 sign bits -> ~65k buckets
    # (no cap-splitting at this density), exact-cosine verify at >= 0.9.
    # min_sim 0.9 admits only the planted pairs (random same-bucket cosines
    # concentrate far lower), so found-pairs ~= recall of the planted set.
    from gmr_spark.operators.dedup import dedup_embedding

    t0 = time.perf_counter()
    emb_pairs = dedup_embedding(spark, sf, n_bits=16, min_sim=0.9) \
        .localCheckpoint(eager=True)
    from pyspark.sql import functions as F
    # counts[] records the operator's TOTAL output (like every other entry —
    # false positives must be visible in the artifact, round-4 ADVICE);
    # planted-pair recall is reported as its own field below
    counts["dedup_embedding"] = emb_pairs.count()
    emb_found = emb_pairs.filter(
        (F.col("vec_b") == F.col("vec_a") + 1) & (F.col("vec_a") % 2 == 0)
        & ((F.col("vec_a") / 2).cast("long") % 25 == 0)
    ).count()
    timings["dedup_embedding"] = round(time.perf_counter() - t0, 1)
    emb_recall = emb_found / expected_pairs
    print(f"dedup_embedding: {counts['dedup_embedding']} pairs total, "
          f"{emb_found}/{expected_pairs} planted neighbor "
          f"pairs (recall {emb_recall:.4f}, {timings['dedup_embedding']}s)",
          file=sys.stderr)
    # (1 - 0.005)^16 ~= 0.92 expected; 0.85 allows sampling noise
    assert emb_recall >= 0.85, f"embedding LSH recall {emb_recall}"

    # SemDeDup at corpus scale (round 6): k scales with N so E[cluster size]
    # ~ N/k stays in the low thousands — the paper's design (k=50k on LAION).
    # Arrow engine: GEMM assign + per-cluster BLAS similarity blocks. The
    # planted (2k, 2k+1) pairs sit at cosine ~0.9999; the odd member must be
    # retired by its even (lower-id) partner whenever both land in the same
    # cluster — so retired-planted/planted measures assign consistency AND
    # the retire rule together.
    from gmr_spark.operators.dedup import semdedup_frame
    from gmr_spark.sources.tables import load_tables

    semdedup_k = max(8, N // 2000)
    t0 = time.perf_counter()
    sem = semdedup_frame(
        load_tables(spark, sf)["embeddings"],
        k=semdedup_k, iters=2, threshold=0.9, engine="arrow",
    ).localCheckpoint(eager=True)
    counts["semdedup"] = sem.count()
    retired_total = sem.filter(~F.col("keep")).count()
    planted_odd = sem.filter(
        (F.col("vec_id") % 2 == 1)
        & ((F.col("vec_id") / 2).cast("long") % 25 == 0)
    )
    sem_retired_planted = planted_odd.filter(~F.col("keep")).count()
    timings["semdedup"] = round(time.perf_counter() - t0, 1)
    sem_recall = sem_retired_planted / expected_pairs
    print(f"semdedup: k={semdedup_k}, {retired_total} retired total, "
          f"{sem_retired_planted}/{expected_pairs} planted dups retired "
          f"(recall {sem_recall:.4f}, {timings['semdedup']}s)",
          file=sys.stderr)
    assert sem_recall >= 0.95, f"semdedup recall {sem_recall}"

    # BM25 at corpus scale: terms drawn from the scale corpus's w0..w996
    # vocabulary (plus the alpha/beta near-stopword tails, df ~ N/2).
    from gmr_spark.operators.text_analysis import bm25_frame

    t0 = time.perf_counter()
    bm = bm25_frame(
        load_tables(spark, sf)["documents"], spark=spark,
        queries=((0, "w1 w17 w333"), (1, "w42 w900"),
                 (2, "alpha beta"), (3, "w7 w77 w777 w97")),
    )
    counts["bm25_topk"] = bm.count()
    timings["bm25_topk"] = round(time.perf_counter() - t0, 1)
    print(f"bm25_topk: {counts['bm25_topk']} rows "
          f"({timings['bm25_topk']}s)", file=sys.stderr)

    # round-6 additions, same coherent run: real WAV decode over 2M clips,
    # corpus-LM inverse-frequency scoring, DSIR importance selection
    from gmr_spark.operators.multimodal import multimodal_audio
    from gmr_spark.operators.text_analysis import dsir_select, unigram_lm_score

    run("multimodal_audio", multimodal_audio)
    run("unigram_lm_score", unigram_lm_score)
    run("dsir_select", dsir_select)
    assert counts["dsir_select"] == 100  # top-k emission, not a full scan

    print(json.dumps({
        "metric": "llm_scale_proof",
        "docs": N,
        "cpus": int(CPUS),
        "planted_neardup_pairs": expected_pairs,
        "found_neardup_pairs": found,
        "emb_found_planted_pairs": emb_found,
        "emb_recall": round(emb_recall, 4),
        "semdedup_k": semdedup_k,
        "semdedup_retired_total": retired_total,
        "semdedup_retired_planted": sem_retired_planted,
        "semdedup_recall": round(sem_recall, 4),
        "counts": counts,
        "timings_sec": timings,
        "calibration_sec": cal_pre,
        "calibration_post_sec": calibration_probe(spark),
        "unit": "sec",
    }))


if __name__ == "__main__":
    main()
