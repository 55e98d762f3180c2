"""Corpus, vector, stream and table scale families for ``scripts/scale.py``.

Each family generates its input (``scale_data``), runs the declared
operators on it and checks a planted or cross-checked truth before it
reports. A family is ``fn(spark, size, scratch, **construction)``; families
over the synthetic corpus also take ``sf_dir``, the dataset whose other
tables the corpus borrows. Construction keywords default to the SCALE.md
row's values, and only tests pass toy values.
"""

from __future__ import annotations

import math
import os
import shutil
import time

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from gmr_spark.algorithms.kmeans import _update, nearest_centroids
from gmr_spark.operators.similarity import (
    PQ_DSUB, PQ_KS, PQ_M, _dot, _ivf_index_probes, _norm, _vec,
    make_pq_codes_udf, make_pq_lut_udf, make_topk_gemm_fn, pq_adc_cogrouped,
    pq_mse, train_ivf_cells, train_pq_codebook)
from gmr_spark.plans.loop import _drop_checkpoint_blocks
from scale_data import (
    build_corpus, build_events, build_tpch, drain, fresh_dir, log, timed)


def _rate(n: int, wall: float):
    return round(n / wall) if wall else None


def _pair():
    """Pair index of a vector id: planted pairs have _pair() % 25 == 0."""
    return (F.col("id") / 2).cast("long")


def _planted(stride: int):
    """The odd members of the planted pairs with pair % stride == 0."""
    return (F.col("id") % 2 == 1) & (_pair() % stride == 0)


def llm(spark, size, scratch, *, sf_dir):
    """The declared corpus operators on ``size`` synthetic documents. The
    near-dup detectors are checked against the planted pairs: MinHash-LSH
    finds >= 95%, exact-substring flags both members of >= 99.9%, the
    16-bit sign-LSH embedding join (~(1-0.005)^16 ≈ 92% expected) finds >=
    85%, and Arrow SemDeDup (k = N/2000, so clusters stay in the low
    thousands as in the paper) retires the odd member of >= 95%. Every
    count is the operator's total output, so false positives stay
    visible."""
    from gmr_spark.operators.dedup import (
        clear_dedup_memo, dedup_embedding, dedup_exact, dedup_minhash,
        dedup_substring, semdedup_frame)
    from gmr_spark.operators.multimodal import multimodal_audio
    from gmr_spark.operators.sampling import (
        sequence_packing, stratified_sample, temperature_mix_sample)
    from gmr_spark.operators.text_analysis import (
        bm25_frame, doc_chunking, dsir_select, gopher_quality,
        token_length_histogram, unigram_lm_score)
    from gmr_spark.sources.tables import load_tables

    t: dict = {}
    counts: dict = {}
    with timed(t, "build_corpus"):
        sf = build_corpus(spark, size, scratch, sf_dir)
    expected = (size // 2 + 24) // 25

    def run(name, fn):
        with timed(t, name):
            counts[name] = fn(spark, sf).count()
        log(f"{name}: {counts[name]} rows ({t[name]}s)")

    run("dedup_exact", dedup_exact)
    run("dedup_minhash", dedup_minhash)
    found = counts["dedup_minhash"]
    assert found >= 0.95 * expected, (found, expected)

    # planted texts differ only in the final token, so every window but the
    # last is shared: both members must be flagged
    planted_doc = (F.col("doc_id") / 2).cast("long") % 25 == 0
    with timed(t, "dedup_substring"):
        sub = dedup_substring(spark, sf).localCheckpoint(eager=True)
        counts["dedup_substring"] = sub.count()
        sub_flagged = sub.filter(~F.col("keep")).count()
        sub_planted = sub.filter(~F.col("keep") & planted_doc).count()
    _drop_checkpoint_blocks(sub)
    sub_recall = sub_planted / (2 * expected)
    assert sub_recall >= 0.999, f"exact-substring recall {sub_recall}"
    # release the memoized shingle/pair checkpoints (GBs at 2M docs) before
    # the non-dedup operators run, or their memory pressure taxes them
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

    with timed(t, "dedup_embedding"):
        emb = dedup_embedding(spark, sf, n_bits=16, min_sim=0.9) \
            .localCheckpoint(eager=True)
        counts["dedup_embedding"] = emb.count()
        emb_found = emb.filter(
            (F.col("vec_b") == F.col("vec_a") + 1) & (F.col("vec_a") % 2 == 0)
            & ((F.col("vec_a") / 2).cast("long") % 25 == 0)).count()
    emb_recall = emb_found / expected
    assert emb_recall >= 0.85, f"embedding LSH recall {emb_recall}"

    semdedup_k = max(8, size // 2000)
    with timed(t, "semdedup"):
        sem = semdedup_frame(
            load_tables(spark, sf)["embeddings"],
            k=semdedup_k, iters=2, threshold=0.9,
        ).localCheckpoint(eager=True)
        counts["semdedup"] = sem.count()
        retired_total = sem.filter(~F.col("keep")).count()
        sem_planted = sem.filter(
            (F.col("vec_id") % 2 == 1)
            & ((F.col("vec_id") / 2).cast("long") % 25 == 0)
            & ~F.col("keep")).count()
    sem_recall = sem_planted / expected
    assert sem_recall >= 0.95, f"semdedup recall {sem_recall}"

    # terms from the corpus vocabulary, plus the alpha/beta tails (df ~ N/2)
    with timed(t, "bm25_topk"):
        counts["bm25_topk"] = bm25_frame(
            load_tables(spark, sf)["documents"], spark=spark,
            queries=((0, "w1 w17 w333"), (1, "w42 w900"),
                     (2, "alpha beta"), (3, "w7 w77 w777 w97")),
        ).count()
    run("multimodal_audio", multimodal_audio)
    run("unigram_lm_score", unigram_lm_score)
    run("dsir_select", dsir_select)
    assert counts["dsir_select"] == 100  # top-k emission, not a full scan
    for df in (emb, sem):
        _drop_checkpoint_blocks(df)
    shutil.rmtree(scratch, ignore_errors=True)
    return {
        "docs": size,
        "planted_neardup_pairs": expected,
        "found_neardup_pairs": found,
        "substring_flagged_total": sub_flagged,
        "substring_recall": round(sub_recall, 4),
        "emb_found_planted_pairs": emb_found,
        "emb_recall": round(emb_recall, 4),
        "semdedup_k": semdedup_k,
        "semdedup_retired_total": retired_total,
        "semdedup_retired_planted": sem_planted,
        "semdedup_recall": round(sem_recall, 4),
        "counts": counts,
        "timings_sec": t,
    }


def pack(spark, size, scratch, *, sf_dir):
    """The pack hop on ``size`` real WAV files: the file-backed scan+decode
    (bound by per-object listing and open), the one-time pack into parquet
    binary shards, and the packed re-scan, which must decode the same
    frames at the in-stream rate; paying the pack once is the point."""
    from gmr_spark.operators.multimodal import (
        _ensure_packed_payloads, _ensure_payload_files,
        _make_wav_payload_batches, multimodal_audio_files, multimodal_pack)

    asf = build_corpus(spark, size, scratch, sf_dir)
    frames = (F.count(F.lit(1)).alias("n"), F.sum("n_frames").alias("frames"))
    t: dict = {}
    with timed(t, "pack_write_files"):
        files_dir = _ensure_payload_files(spark, asf, "wav",
                                          _make_wav_payload_batches)
    with timed(t, "pack_filebacked_decode"):
        a = multimodal_audio_files(spark, asf).agg(*frames).first()
    assert a.n == size
    with timed(t, "pack_hop"):
        packed_dir = _ensure_packed_payloads(spark, asf, "wav",
                                             _make_wav_payload_batches)
    with timed(t, "pack_packed_decode"):
        c = multimodal_pack(spark, asf).agg(*frames).first()
    assert c.n == size and c.frames == a.frames
    for d in (files_dir, packed_dir, scratch):
        shutil.rmtree(d, ignore_errors=True)
    file_s, packed_s = t["pack_filebacked_decode"], t["pack_packed_decode"]
    return {
        "files": size,
        "frames": int(c.frames),
        "filebacked_files_per_sec": _rate(size, file_s),
        "pack_hop_files_per_sec": _rate(size, t["pack_hop"]),
        "packed_files_per_sec": _rate(size, packed_s),
        "packed_speedup_per_pass": round(file_s / packed_s, 1) if packed_s else None,
        "timings_sec": t,
    }


def sort(spark, size, scratch, parts: int = 256):
    """Global total-order rank (the reference's MPI sample sort,
    samplesort.cpp:21-191) over value = id·P mod N, a permutation of 0..N-1
    for prime P coprime to N. Every rank has the closed form value + 1, and
    one aggregation checks all N rows: count, min/max rank, the exact rank
    sum N(N+1)/2 and zero mismatches."""
    from gmr_spark.operators.relational import global_rank

    p = 179_424_673  # the 10-millionth prime
    assert math.gcd(p, size) == 1, "P must be coprime to N"
    df = spark.range(size).select(
        F.col("id"), ((F.col("id") * p) % size).alias("value"))
    t: dict = {}
    with timed(t, "global_sort_rank"):
        row = global_rank(df, parts, "value").agg(
            F.count(F.lit(1)).alias("n"),
            F.min("rnk").alias("min_rnk"),
            F.max("rnk").alias("max_rnk"),
            F.sum("rnk").alias("sum_rnk"),
            F.sum(F.when(F.col("rnk") != F.col("value") + 1, 1)
                  .otherwise(0)).alias("mismatches"),
        ).first()
    assert row.n == size and row.min_rnk == 1 and row.max_rnk == size, row
    assert row.sum_rnk == size * (size + 1) // 2, row
    assert row.mismatches == 0, row
    return {"rows": size, "parts": parts,
            "rows_per_sec": _rate(size, t["global_sort_rank"]),
            "mismatches": int(row.mismatches), "rank_sum_exact": True,
            "timings_sec": t}


# ---- vectors ---------------------------------------------------------------


def _vectors(spark, sf: str):
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    return emb.select(F.col("vec_id").alias("id"), _vec().alias("v"))


def _seeds(base, k: int) -> list[tuple[int, list[float]]]:
    """The k lowest-id vectors: the declared operators' seeding scheme."""
    return [(i, list(r.v))
            for i, r in enumerate(base.orderBy("id").limit(k).collect())]


def _assign(frame, centroids):
    """(id, v) -> (id, cluster): each vector's nearest centroid, by the
    k-means kernel (d² at 9 dp, ties to the lower id)."""
    return nearest_centroids(
        frame.select("id", F.col("v").alias("vec")), centroids, n=1, dp=9,
    ).select("id", F.col("cells")[0].alias("cluster"))


def _seeded_codebook(seeds) -> list:
    """PQ codebook from the sub-vectors of the PQ_KS lowest-id vectors."""
    return [[[float(seeds[c][1][j * PQ_DSUB + d]) for d in range(PQ_DSUB)]
             for c in range(PQ_KS)] for j in range(PQ_M)]


def _pq_index(base, cells, codebook):
    """(neighbor_id, cell, codes), materialized once: 12 B per vector
    against 256 B raw."""
    return (base.join(cells, "id")
            .select(F.col("id").alias("neighbor_id"),
                    F.col("cluster").alias("cell"),
                    make_pq_codes_udf(codebook)(F.col("v")).alias("codes"))
            .localCheckpoint(eager=True))


def _exact_topk(base, q_rows: list, k: int):
    """Exact cosine top-k for a bounded query set: the engine's
    ``cosine_topk_arrow`` kernel (one GEMM per Arrow batch, per-batch top-k
    by the global (ROUND(sim,6) DESC, neighbor_id) key, an exact prefix of
    the global order) and the merge window. -> (query_id, neighbor_id,
    sim, rnk)."""
    cand = base.mapInPandas(make_topk_gemm_fn(q_rows, k),
                            "query_id bigint, neighbor_id bigint, sim double")
    w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (cand.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k))


SHORTLIST = 64  # ADC candidates per query re-ranked exactly


def _pq_leg(base, enc, queries, codebook, centroids, t: dict, label: str,
            gt=None, gt_k: int = 10) -> dict:
    """One pass of the IVF-PQ query stack against the index ``enc``: coarse
    cell (Arrow assign, nprobe=1), cogrouped ADC (the LUT ships once per
    query group), an ADC shortlist, exact re-rank. Returns the miss
    breakdown: partner in a probed cell (coarse quantizer), in the
    shortlist (codebook), and top-1 after the re-rank. With exact ground
    truth ``gt`` also recall@gt_k, and that recall over the pairs whose true
    neighbor sits in a probed cell: both legs of a codebook A/B share the
    cells, so the reachable set is shared and the reachable recall isolates
    the codebook's ADC ordering from coarse misses."""
    with timed(t, f"{label}_query_topk"):
        probes = _assign(queries, centroids).select(
            F.col("id").alias("query_id"), F.col("cluster").alias("cell"))
        luts = queries.select(F.col("id").alias("query_id"),
                              make_pq_lut_udf(codebook)(F.col("v")).alias("lut"))
        cand = (probes.join(enc, "cell")
                .filter(F.col("query_id") != F.col("neighbor_id"))
                .select("query_id", "neighbor_id", "codes"))
        w_short = W.partitionBy("query_id").orderBy(F.col("adc").asc(),
                                                    F.col("neighbor_id"))
        short = (pq_adc_cogrouped(cand, luts)
                 .withColumn("srn", F.row_number().over(w_short))
                 .filter(F.col("srn") <= SHORTLIST)
                 .select("query_id", "neighbor_id").localCheckpoint(eager=True))
        qv = queries.select(F.col("id").alias("query_id"), F.col("v").alias("q"))
        nv = base.select(F.col("id").alias("neighbor_id"), F.col("v").alias("nv"))
        sims = (short.join(qv, "query_id").join(nv, "neighbor_id")
                .select("query_id", "neighbor_id",
                        F.round(_dot(F.col("q"), F.col("nv"))
                                / (_norm(F.col("q")) * _norm(F.col("nv"))),
                                6).alias("sim")))
        w = W.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
        topk = (sims.withColumn("rnk", F.row_number().over(w))
                .filter(F.col("rnk") <= gt_k).localCheckpoint(eager=True))
        top1_hits = topk.filter(
            (F.col("rnk") == 1)
            & (F.col("neighbor_id") == F.col("query_id") - 1)).count()
    out = {}
    if gt is not None:
        n_gt = gt.count()
        hits_k = topk.join(gt, ["query_id", "neighbor_id"], "left_semi").count()
        n_reach = (gt.join(enc.select("neighbor_id", "cell"), "neighbor_id")
                   .join(probes, ["query_id", "cell"], "left_semi").count())
        out = {"recall_at_k": round(hits_k / n_gt, 4) if n_gt else None,
               "gt_reachable": int(n_reach),
               "recall_reachable": round(hits_k / n_reach, 4) if n_reach else None}
    partner = enc.select((F.col("neighbor_id") + 1).alias("query_id"), "cell")
    cell_hits = (probes.join(partner, ["query_id", "cell"], "left_semi")
                 .select("query_id").distinct().count())
    shortlist_hits = short.filter(
        F.col("neighbor_id") == F.col("query_id") - 1).count()
    _drop_checkpoint_blocks(short)
    _drop_checkpoint_blocks(topk)
    return {"cell_hits": int(cell_hits), "shortlist_hits": int(shortlist_hits),
            "top1_hits": int(top1_hits), **out}


def pq(spark, size, scratch, *, sf_dir):
    """IVF-PQ on ``size`` vectors: 256 seed cells, seeded PQ codes and the
    ``_pq_leg`` stack, queried by the planted odd members with pair % 250 ==
    0. Each query's true nearest neighbor is its even partner (cosine ≈
    0.9999), so top-1 partner recall is an invariant of the construction."""
    cells = 256
    t: dict = {}
    with timed(t, "pq_build_corpus"):
        sf = build_corpus(spark, size, scratch, sf_dir)
    base = _vectors(spark, sf)
    seeds = _seeds(base, max(cells, PQ_KS))
    codebook = _seeded_codebook(seeds)
    with timed(t, "pq_encode_index"):
        enc = _pq_index(base, _assign(base, seeds[:cells]), codebook)
        assert enc.count() == size
    queries = base.filter(_planted(250))
    n_q = queries.count()
    leg = _pq_leg(base, enc, queries, codebook, seeds[:cells], t, "pq")
    _drop_checkpoint_blocks(enc)
    shutil.rmtree(scratch, ignore_errors=True)
    return {"vectors": size, "cells": cells, "queries": n_q,
            "encode_vecs_per_sec": _rate(size, t["pq_encode_index"]),
            "queries_per_sec": _rate(n_q, t["pq_query_topk"]), **leg,
            "top1_partner_recall": round(leg["top1_hits"] / n_q, 4) if n_q else None,
            "timings_sec": t}


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _dirs, files in os.walk(path) for f in files)


def pqtrain(spark, size, scratch, *, sf_dir, cells: int = 256):
    """Seeded vs trained PQ codebook at ±0.05/dim planted noise, where the
    16-entry seeded codebook's error matters. The trained codebook is 4
    rounds of per-subspace Lloyd on a 1-in-10 sample (training on a sample,
    as the PQ paper trains on a held-out set). Both legs share the seeded
    coarse cells, so cell_hits and gt_reachable must match and the
    reachable recall against exact top-10 ground truth (1-in-4 of the
    queries) is the codebook's own contribution. Also records each
    codebook's full-corpus quantization MSE and the index size at rest:
    parquet bytes of (cell, codes) against (cell, float32 vector)."""
    t: dict = {}
    with timed(t, "build_corpus"):
        sf = build_corpus(spark, size, scratch, sf_dir, noise_milli=50)
    base = _vectors(spark, sf)
    seeds = _seeds(base, max(cells, PQ_KS))
    centroids, seeded = seeds[:cells], _seeded_codebook(seeds)
    with timed(t, "train_codebook"):
        trained = train_pq_codebook(base.filter(F.col("id") % 10 == 0), seeded,
                                    iters=4)
    with timed(t, "mse_passes"):
        mse = {"seeded": pq_mse(base, seeded), "trained": pq_mse(base, trained)}
    cell_of = _assign(base, centroids).localCheckpoint(eager=True)
    queries = base.filter(_planted(250))
    n_q = queries.count()
    gt_k = 10
    gt_rows = [(int(r.id), list(r.v))
               for r in queries.filter(_pair() % 1000 == 0).collect()]
    with timed(t, "exact_ground_truth"):
        gt = _exact_topk(base, gt_rows, gt_k).select(
            "query_id", "neighbor_id").localCheckpoint(eager=True)
        assert gt.count() == gt_k * len(gt_rows), len(gt_rows)

    legs, index_bytes = {}, {}
    for label, codebook in (("seeded", seeded), ("trained", trained)):
        with timed(t, f"{label}_encode_index"):
            enc = _pq_index(base, cell_of, codebook)
            assert enc.count() == size
        if label == "seeded":  # code sizes differ by a few % per codebook
            enc.select("cell", "codes").write.parquet(f"{scratch}/_index_codes")
            (spark.read.parquet(f"{sf}/embeddings.parquet")
             .join(cell_of.withColumnRenamed("id", "vec_id"), "vec_id")
             .select(F.col("cluster").alias("cell"), "embedding")
             .write.parquet(f"{scratch}/_index_raw"))
            index_bytes = {"codes_parquet": _dir_bytes(f"{scratch}/_index_codes"),
                           "raw_vec_parquet": _dir_bytes(f"{scratch}/_index_raw")}
        leg = _pq_leg(base, enc, queries, codebook, centroids, t, label,
                      gt=gt, gt_k=gt_k)
        leg["mse"] = round(mse[label], 6)
        leg["recall"] = round(leg["top1_hits"] / n_q, 4) if n_q else None
        legs[label] = leg
        _drop_checkpoint_blocks(enc)
        log(f"{label}: {leg}")
    _drop_checkpoint_blocks(cell_of)
    _drop_checkpoint_blocks(gt)
    shutil.rmtree(scratch, ignore_errors=True)
    return {"vectors": size, "noise_milli": 50, "cells": cells, "nprobe": 1,
            "train_iters": 4, "train_sample": "1-in-10", "queries": n_q,
            "gt_queries": len(gt_rows), "gt_k": gt_k, "shortlist": SHORTLIST,
            "index_bytes": index_bytes,
            "bytes_per_vec": {k: round(v / size, 1) for k, v in index_bytes.items()},
            "legs": legs, "timings_sec": t}


def celltrain(spark, size, scratch, *, sf_dir, cells: int = 256):
    """The coarse quantizer, seeded vs Lloyd-trained (``train_ivf_cells``,
    3 iterations on a 1-in-10 sample) at ±0.05/dim noise. Per leg:
    the planted pairs landing in one cell (the nprobe=1 recall ceiling of
    the PQ stack) and the max/mean cell population (the candidate
    equi-join's hot key). Every pair must be seen in both legs."""
    t: dict = {}
    with timed(t, "cell_build_corpus"):
        sf = build_corpus(spark, size, scratch, sf_dir, noise_milli=50)
    base = _vectors(spark, sf)
    seeded = _seeds(base, cells)
    with timed(t, "cell_train"):
        trained = train_ivf_cells(base, k_cells=cells, iters=3, sample_mod=10)
    legs = {}
    for label, centroids in (("seeded", seeded), ("trained", trained)):
        with timed(t, f"cell_{label}_assign"):
            cell_of = _assign(base, centroids).localCheckpoint(eager=True)
            assert cell_of.count() == size
        both = (cell_of.filter(_pair() % 25 == 0)
                .groupBy(_pair().alias("pair"))
                .agg(F.count(F.lit(1)).alias("n"),
                     F.count_distinct("cluster").alias("n_cells"))
                .filter(F.col("n") == 2))
        n_pairs = both.count()
        same = both.filter(F.col("n_cells") == 1).count()
        bal = cell_of.groupBy("cluster").count().agg(
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
        _drop_checkpoint_blocks(cell_of)
    shutil.rmtree(scratch, ignore_errors=True)
    return {"vectors": size, "noise_milli": 50, "cells": cells, "iters": 3,
            "train_sample": "1-in-10", "legs": legs, "timings_sec": t}


def exact(spark, size, scratch, *, sf_dir):
    """Exact brute-force cosine top-10 (the ``cosine_topk_arrow`` kernel)
    for 1,000 planted odd queries: each query's exact top-1 must be its
    planted partner (cosine ≈ 0.9999 against a random tail far below), with
    exactly one rank-1 and k rows per query."""
    t: dict = {}
    with timed(t, "exact_build_corpus"):
        sf = build_corpus(spark, size, scratch, sf_dir)
    base = _vectors(spark, sf)
    q_rows = [(int(r.id), list(r.v)) for r in
              base.filter(_planted(max(1, size // 50_000) * 25)).collect()]
    with timed(t, "exact_topk"):
        top = _exact_topk(base, q_rows, 10).localCheckpoint(eager=True)
        n_rows = top.count()
    top1 = top.filter(F.col("rnk") == 1)
    n_top1 = top1.count()
    hits = top1.filter(F.col("neighbor_id") == F.col("query_id") - 1).count()
    _drop_checkpoint_blocks(top)
    assert n_rows == 10 * len(q_rows) and n_top1 == len(q_rows), (n_rows, n_top1)
    shutil.rmtree(scratch, ignore_errors=True)
    return {"vectors": size, "queries": len(q_rows), "k": 10,
            "top1_partner_hits": int(hits),
            "top1_partner_recall": round(hits / len(q_rows), 4),
            "pair_scans_per_sec": _rate(size * len(q_rows), t["exact_topk"]),
            "timings_sec": t}


def _lloyd_sample(base, sample_mod: int, seeds):
    """The checkpointed training sample, with one untimed assign/update
    (Arrow codegen and BLAS pools: the first leg otherwise absorbs ~8x)."""
    sample = (base if sample_mod <= 1
              else base.filter(F.col("id") % sample_mod == 0)).select(
        "id", F.col("v").alias("vec")).localCheckpoint(eager=True)
    warm = nearest_centroids(sample, seeds[:8], n=1, dp=9) \
        .localCheckpoint(eager=True)
    _update(warm)
    _drop_checkpoint_blocks(warm)
    return sample


def _lloyd_step(sample, centroids, walls: dict):
    """One Lloyd iteration with its stages timed apart: the assign is
    checkpointed so the update's wall is its own."""
    t0 = time.perf_counter()
    assigned = nearest_centroids(sample, centroids, n=1, dp=9) \
        .localCheckpoint(eager=True)
    assigned.count()
    walls["assign"].append(round(time.perf_counter() - t0, 2))
    t0 = time.perf_counter()
    new = _update(assigned)
    walls["update"].append(round(time.perf_counter() - t0, 2))
    _drop_checkpoint_blocks(assigned)
    return new


def _corpus_assign_walls(base, small, big, slack: float) -> dict:
    """Interleaved min-of-2 walls of the full-corpus Arrow cell assign under
    the (k, centroids) pairs ``small`` and ``big``, after an untimed warm
    leg. The 8 MB row chunking turns more cells into more chunks, never
    more memory, so the wall must grow about linearly in k (60% tolerance,
    plus ``slack`` seconds): superlinear growth would flag a cache or
    memory cliff."""
    def wall(centroids):
        indexed, _ = _ivf_index_probes(base, k_cells=len(centroids), nprobe=1,
                                       centroids=centroids)
        t0 = time.perf_counter()
        indexed.write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 2)

    wall(small[1])
    walls: dict = {small[0]: [], big[0]: []}
    for _ in range(2):  # interleaved: host drift hits both legs
        for k, centroids in (small, big):
            walls[k].append(wall(centroids))
    lo, hi = min(walls[small[0]]), min(walls[big[0]])
    k_ratio = big[0] / small[0]
    assert hi <= k_ratio * 1.6 * lo + slack, (hi, lo, k_ratio)
    return {"walls_sec": {str(k): v for k, v in walls.items()},
            "ratio": round(hi / lo, 2) if lo else None, "k_ratio": k_ratio}


def _balance(base, centroids) -> tuple[float, int]:
    """(max/mean populated-cell size, populated cells) of the corpus."""
    indexed, _ = _ivf_index_probes(base, k_cells=len(centroids), nprobe=1,
                                   centroids=centroids)
    pops = (indexed.groupBy("cell").count()
            .agg(F.max("count").alias("mx"), F.avg("count").alias("avg"),
                 F.count(F.lit(1)).alias("n_cells")).first())
    return float(pops.mx) / float(pops.avg), int(pops.n_cells)


# Balance contract of the trained coarse quantizer: training must make the
# max/mean cell population >= 10x better than seeding and <= 2.0. It is
# hard only where it was measured: k_cells in 1,024-16,384 and >= 45
# training samples per cell (the absolute ceiling is density-limited:
# 1.42-1.5 at 49-61 per cell, 2.52 at ~30 and 2.26 at ~20). Elsewhere
# training must only not lose to seeding.
BALANCE_RATIO_MIN = 10.0
BALANCE_ABS_CEILING = 2.0
CONTRACT_DECADE = (1_024, 16_384)
CONTRACT_MIN_DENSITY = 45.0


def cells4k(spark, size, scratch, *, sf_dir):
    """The trained IVF coarse quantizer at 4,096 cells: the public
    ``train_ivf_cells(k_cells=4096, iters=2, sample_mod=10)`` call timed end
    to end; the Lloyd stages on the 1-in-10 sample against a 256-cell
    control (the update's result is k×64 rows, so its wall follows the
    sample explode, not k: 16x the cells must cost < 4x); the full-corpus
    assign's linearity in k; and the trained-vs-seeded balance contract.

    Refuses sizes below ``cells4k.min_size`` before building the corpus:
    Lloyd training beats seeding only with enough samples per cell
    (size / sample_mod / 4,096). The sparsest passing run had 9.8 per cell
    (400k vectors); 1.2 per cell (50k) failed the balance assert."""
    cells, control, sample_mod = 4_096, 256, 10
    density = size / sample_mod / cells
    floor = cells4k.min_size / sample_mod / cells
    if density < floor:
        raise ValueError(
            f"cells4k: {size:,} vectors give {density:.1f} Lloyd samples per "
            f"cell, below the {floor:.1f} at which training has beaten "
            f"seeding; run with --size {cells4k.min_size:,} or more")
    t: dict = {}
    with timed(t, "build_corpus"):
        sf = build_corpus(spark, size, scratch, sf_dir)
    base = _vectors(spark, sf)
    with timed(t, "train_ivf_cells"):
        trained = train_ivf_cells(base, k_cells=cells, iters=2,
                                  sample_mod=sample_mod)
    assert len(trained) <= cells
    seeds = _seeds(base, cells)
    sample = _lloyd_sample(base, sample_mod, seeds)
    n_sample = sample.count()
    lloyd = {k: {"assign": [], "update": []} for k in (control, cells)}
    for _ in range(2):  # interleaved min-of-2
        for k in (control, cells):
            assert len(_lloyd_step(sample, seeds[:k], lloyd[k])) <= k
    _drop_checkpoint_blocks(sample)
    assert min(lloyd[cells]["update"]) <= \
        4 * min(lloyd[control]["update"]) + 2.0, lloyd
    corpus = _corpus_assign_walls(base, (control, seeds[:control]),
                                  (cells, seeds), slack=0.0)
    seeded_bal, _ = _balance(base, seeds)
    bal, n_pop = _balance(base, trained)
    density = n_sample / cells
    hard = (CONTRACT_DECADE[0] <= cells <= CONTRACT_DECADE[1]
            and density >= CONTRACT_MIN_DENSITY)
    if hard:
        assert bal <= seeded_bal / BALANCE_RATIO_MIN, (bal, seeded_bal)
        assert bal <= BALANCE_ABS_CEILING, bal
    else:
        assert bal <= seeded_bal, (bal, seeded_bal)
    shutil.rmtree(scratch, ignore_errors=True)
    return {"vectors": size, "k_cells": cells, "control_cells": control,
            "sample_mod": sample_mod, "sample_rows": n_sample,
            "trained_cells": len(trained), "lloyd_stage_walls_sec": lloyd,
            "corpus_assign": corpus,
            "trained_balance_max_over_mean": round(bal, 3),
            "seeded_balance_max_over_mean": round(seeded_bal, 3),
            "balance_improvement_vs_seeded": round(seeded_bal / bal, 1),
            "populated_cells": n_pop, "density": round(density, 1),
            "hard_balance_contract": hard, "timings_sec": t}


cells4k.min_size = 400_000


def decade(spark, size, scratch, *, sf_dir, cells: int = 65_536,
           control: int = 16_384):
    """The trained coarse quantizer at 65,536 cells with the whole corpus
    as the sample (~30 per cell): per-iteration Lloyd stage walls (the
    update must stay below the assign's GEMM wall), corpus-assign linearity
    against a 16,384-cell control, and trained vs seeded balance. This
    decade is above the hard balance contract, so training must only not
    lose to seeding."""
    t: dict = {}
    with timed(t, "build_corpus"):
        sf = build_corpus(spark, size, scratch, sf_dir)
    base = _vectors(spark, sf)
    seeds = _seeds(base, cells)
    sample = _lloyd_sample(base, 1, seeds)
    n_sample = sample.count()
    walls: dict = {"assign": [], "update": []}
    trained = seeds
    for _ in range(2):
        trained = _lloyd_step(sample, trained, walls)
        assert trained and len(trained) <= cells
    _drop_checkpoint_blocks(sample)
    # +2 s so sub-second toy walls do not flake on scheduler noise
    assert max(walls["update"]) <= max(walls["assign"]) + 2.0, walls
    # +1 s: sub-second toy walls are scheduler noise, not GEMM shape
    corpus = _corpus_assign_walls(base, (control, seeds[:control]),
                                  (cells, seeds), slack=1.0)
    with timed(t, "balance_pass_seeded"):
        seeded_bal, seeded_pop = _balance(base, seeds)
    with timed(t, "balance_pass_trained"):
        bal, trained_pop = _balance(base, trained)
    assert bal <= seeded_bal, (bal, seeded_bal)
    shutil.rmtree(scratch, ignore_errors=True)
    return {"vectors": size, "k_cells": cells, "control_cells": control,
            "sample_mod": 1, "sample_rows": n_sample, "iters": 2,
            "lloyd_stage_walls_sec": walls, "corpus_assign": corpus,
            "trained_cells": len(trained),
            "trained_balance_max_over_mean": round(bal, 3),
            "seeded_balance_max_over_mean": round(seeded_bal, 3),
            "balance_improvement_vs_seeded": round(seeded_bal / bal, 1),
            "populated_cells": {"seeded": seeded_pop, "trained": trained_pop},
            "timings_sec": t}


# ---- documents through the curation operators --------------------------------


def _stage_dir(docs, base_dir: str, stage_dir: str) -> str:
    """A stage boundary: ``docs`` as documents.parquet of a new sf_dir whose
    other tables are symlinks into ``base_dir``. Stages restart from
    storage, and downstream operators run by the same sf_dir contract."""
    from gmr_spark.sources.tables import TABLES

    fresh_dir(stage_dir)
    for name in TABLES:
        src = f"{base_dir}/{name}.parquet"
        if name != "documents" and os.path.exists(src):
            os.symlink(os.path.realpath(src), f"{stage_dir}/{name}.parquet")
    docs.write.mode("overwrite").parquet(f"{stage_dir}/documents.parquet")
    return stage_dir


def _with_exact_copies(spark, corpus: str, n: int, docs=None):
    """The corpus documents (or ``docs``) plus a verbatim copy of every
    100th one under id + 10n; the original keeps the lower id."""
    docs0 = spark.read.parquet(f"{corpus}/documents.parquet")
    copies = (docs0.filter(F.col("doc_id") % 100 == 0)
              .withColumn("doc_id", F.col("doc_id") + 10 * n))
    return (docs0 if docs is None else docs).unionByName(copies)


def pipeline(spark, size, scratch, *, sf_dir):
    """The curation chain at ``size`` documents with materialized stage
    boundaries: exact dedup → MinHash near-dup survivors → Gopher quality +
    CCNet-style unigram-LM filter → sequence packing, then the declared
    ``curation_pipeline`` operator on the same input must give the same
    rows. Planted truth, all four plants pairwise disjoint by id residue:
    every 100th doc has an exact copy (stage 1 retires exactly those);
    build_corpus's near-dup pairs (stage 2 retires one member of >= 99.9%);
    ids ≡ 3 (mod 500) are repetition spam and ids ≡ 7 (mod 500)
    Gopher-clean LM outliers (stage 3 retires exactly those, each through
    its own filter); stage 4's pack count is recomputed per language."""
    from gmr_spark.operators.curation import curation_pipeline
    from gmr_spark.operators.dedup import (
        clear_dedup_memo, dedup_exact, dedup_survivors)
    from gmr_spark.operators.sampling import PACK_CAPACITY, packing_frame
    from gmr_spark.operators.text_analysis import (
        gopher_quality, unigram_lm_score)

    n = size
    fresh_dir(scratch)
    t: dict = {}
    with timed(t, "build_corpus"):
        corpus = build_corpus(spark, n, f"{scratch}/corpus", sf_dir)
        docs0 = spark.read.parquet(f"{corpus}/documents.parquet")
        # repetition spam: top_word_frac 5/20 = 0.25 > the 0.2 Gopher gate;
        # the 15 id-suffixed fillers keep two spam docs' shingle Jaccard at
        # ~1/35, far below the 0.1 verify threshold
        junk_text = F.concat(
            F.lit("a a a a a "),
            F.concat_ws(" ", F.transform(
                F.sequence(F.lit(1), F.lit(15)),
                lambda j: F.concat(F.lit("b"), F.col("doc_id").cast("string"),
                                   F.lit("x"), j.cast("string")))))
        # LM outliers: 10 hash-drawn common words plus 8 corpus-unique
        # tokens, so mean_inv_freq ≈ 18x the corpus average (past the 2x
        # cutoff) while n_words = 18 and top_word_frac <= 2/18 keep them
        # Gopher-clean; hash-drawn indices keep their shingle sets disjoint
        lm_text = F.concat(
            F.concat_ws(" ", F.transform(
                F.sequence(F.lit(1), F.lit(10)),
                lambda j: F.concat(F.lit("w"), F.pmod(
                    F.hash(F.col("doc_id"), j, F.lit(99)),
                    F.lit(997)).cast("string")))),
            F.lit(" "),
            F.concat_ws(" ", F.transform(
                F.sequence(F.lit(1), F.lit(8)),
                lambda j: F.concat(F.lit("q"), F.col("doc_id").cast("string"),
                                   F.lit("x"), j.cast("string")))))
        is_junk = F.col("doc_id") % 500 == 3
        is_lm = F.col("doc_id") % 500 == 7
        docs = (docs0.withColumn("text", F.when(is_junk, junk_text)
                                 .when(is_lm, lm_text).otherwise(F.col("text")))
                .withColumn("n_chars", F.length("text")))
        stage0 = _stage_dir(_with_exact_copies(spark, corpus, n, docs), corpus,
                            f"{scratch}/stage0")
    n_junk, n_lm = len(range(3, n, 500)), len(range(7, n, 500))
    n_total = n + (n + 99) // 100

    def read(stage):
        return spark.read.parquet(f"{stage}/documents.parquet")

    with timed(t, "stage1_exact_dedup"):
        groups = dedup_exact(spark, stage0)
        n_copies = (groups.filter(F.col("n_copies") > 1)
                    .agg(F.sum(F.col("n_copies") - 1)).first()[0] or 0)
        keepers = groups.select(F.col("keep_id").alias("doc_id"))
        stage1 = _stage_dir(read(stage0).join(keepers, "doc_id", "left_semi"),
                            stage0, f"{scratch}/stage1")
        n_s1 = read(stage1).count()
    assert int(n_copies) == n_total - n and n_s1 == n, (n_copies, n_s1)

    with timed(t, "stage2_neardup"):
        # dedup_survivors projects (doc_id, lang, source, n_chars): re-join
        # the text for the downstream text stages
        s2 = read(stage1).join(dedup_survivors(spark, stage1).select("doc_id"),
                               "doc_id", "left_semi")
        stage2 = _stage_dir(s2, stage1, f"{scratch}/stage2")
        clear_dedup_memo()  # stage 2 was the chain's last consumer
        s2ids = read(stage2)
        n_s2 = s2ids.count()
    expected_pairs = (n // 2 + 24) // 25
    # a pair surviving intact was missed by the LSH banding: near-1 recall,
    # not structurally 1 (measured 3 misses / 40,000 pairs at 2M)
    pairs_intact = (s2ids.filter(F.expr("doc_id DIV 2") % 25 == 0)
                    .groupBy(F.expr("doc_id DIV 2"))
                    .agg(F.count(F.lit(1)).alias("c")).filter("c = 2").count())
    assert pairs_intact <= 0.001 * expected_pairs, (pairs_intact, expected_pairs)
    # accidental retirements (true shingle Jaccard >= 0.1 among the
    # hash-generated texts) stay bounded and reported
    accidental = (n - n_s2) - (expected_pairs - pairs_intact)
    assert 0 <= accidental <= max(10, n // 100_000), (n_s2, accidental)
    for plant, count in ((3, n_junk), (7, n_lm)):  # all reach stage 3
        assert s2ids.filter(F.col("doc_id") % 500 == plant).count() == count

    with timed(t, "stage3_quality"):
        # the LM's unigram stats are corpus-wide, so they come from the
        # deduped corpus, as CCNet trains on the cleaned corpus
        good = gopher_quality(spark, stage2).filter("passes").select("doc_id")
        lm = unigram_lm_score(spark, stage2)
        avg_mif = float(lm.agg(F.avg("mean_inv_freq")).first()[0])
        # the declared operator's cutoff, ROUND(2·avg, 6) half-away, so the
        # staged chain and the composed operator agree at the boundary
        cutoff = math.floor(2.0 * avg_mif * 1e6 + 0.5) / 1e6
        calm = lm.filter(F.col("mean_inv_freq") <= cutoff).select("doc_id")
        s3_docs = (read(stage2).join(good, "doc_id", "left_semi")
                   .join(calm, "doc_id", "left_semi").localCheckpoint(eager=True))
        n_s3 = s3_docs.count()
    assert n_s3 == n_s2 - n_junk - n_lm, (n_s3, n_s2, n_junk, n_lm)
    retired3 = read(stage2).join(s3_docs.select("doc_id"), "doc_id", "left_anti")
    for plant, count in ((3, n_junk), (7, n_lm)):
        assert retired3.filter(F.col("doc_id") % 500 == plant).count() == count
    # the LM leg alone retires the outliers: they pass Gopher
    assert (gopher_quality(spark, stage2).filter("passes")
            .filter(F.col("doc_id") % 500 == 7).count()) == n_lm

    with timed(t, "stage4_packing"):
        # packing is order-dependent, so it runs on exactly the survivors
        packed = packing_frame(s3_docs).localCheckpoint(eager=True)
        n_packed = packed.count()
    assert n_packed == n_s3, (n_packed, n_s3)
    # per language, independently: (sum of capped word counts minus the
    # last doc's) // capacity must be the packing's max pack_id
    nw = F.least(F.size(F.filter(F.split("text", " "), lambda x: x != "")),
                 F.lit(PACK_CAPACITY))
    last = W.partitionBy("lang").orderBy(F.col("doc_id").desc())
    want = {r.lang: r.max_pack for r in
            s3_docs.select("lang", "doc_id", nw.alias("nw"))
            .withColumn("rn", F.row_number().over(last)).groupBy("lang")
            .agg(F.floor((F.sum("nw") - F.max(F.when(F.col("rn") == 1, F.col("nw"))))
                         / PACK_CAPACITY).alias("max_pack")).collect()}
    got = {r.lang: r.mx for r in
           packed.groupBy("lang").agg(F.max("pack_id").alias("mx")).collect()}
    assert got == want, (got, want)
    assert packed.filter(F.col("pack_offset") >= PACK_CAPACITY).count() == 0
    n_packs = packed.agg(F.count_distinct("lang", "pack_id").alias("n")).first().n

    # the declared operator composes near-dup survivors on the original
    # corpus with the exact keepers in one chain; the keep-min-id argument
    # (operators/curation.py) says it equals the staged chain row for row
    with timed(t, "composed_operator"):
        composed = curation_pipeline(spark, stage0).localCheckpoint(eager=True)
        n_composed = composed.count()
        clear_dedup_memo()
    staged = packed.select(*composed.columns)
    diff = composed.exceptAll(staged).count() + staged.exceptAll(composed).count()
    assert n_composed == n_packed and diff == 0, (n_composed, n_packed, diff)
    for df in (composed, packed, s3_docs):
        _drop_checkpoint_blocks(df)
    shutil.rmtree(scratch, ignore_errors=True)
    return {"docs_in": n_total, "stage1_survivors": n_s1,
            "stage2_survivors": n_s2, "stage2_planted_pairs": expected_pairs,
            "stage2_pairs_missed": int(pairs_intact),
            "stage2_accidental_retired": int(accidental),
            "stage3_survivors": n_s3, "junk_docs_retired": n_junk,
            "lm_outliers_retired": n_lm, "packed_docs": int(n_packed),
            "packs": int(n_packs), "avg_mean_inv_freq": round(avg_mif, 1),
            "pack_crosscheck_langs": sorted(got),
            "composed_equiv": {"rows": int(n_composed), "diff_rows": int(diff)},
            "timings_sec": t}


def split(spark, size, scratch, *, sf_dir):
    """``leakage_safe_split`` on the corpus plus exact copies of every 100th
    doc. Exact pairs never straddle train/val (identical text, one
    signature, one cluster: structural). Near-dup straddle is bounded by
    the LSH banding misses alone, <= 0.1% of the planted pairs, against
    ~2·p·(1-p) ≈ 18% for a naive uniform split at p = 10%. The val fraction
    lands at VAL_BUCKETS/SPLIT_BUCKETS."""
    from gmr_spark.operators.dedup import clear_dedup_memo
    from gmr_spark.operators.sampling import (
        SPLIT_BUCKETS, VAL_BUCKETS, leakage_safe_split)

    n = size
    fresh_dir(scratch)
    t: dict = {}
    with timed(t, "split_build_corpus"):
        corpus = build_corpus(spark, n, f"{scratch}/corpus", sf_dir)
        stage0 = _stage_dir(_with_exact_copies(spark, corpus, n), corpus,
                            f"{scratch}/stage0")
    with timed(t, "split_operator"):
        split_df = leakage_safe_split(spark, stage0).localCheckpoint(eager=True)
        n_rows = split_df.count()
        clear_dedup_memo()
    n_copies = (n + 99) // 100
    assert n_rows == n + n_copies, (n_rows, n, n_copies)

    s = split_df.select("doc_id", "rep_id", "split")
    doc = F.col("doc_id")
    orig = (s.filter((doc % 100 == 0) & (doc < n))
            .select(doc.alias("k"), F.col("split").alias("sa"),
                    F.col("rep_id").alias("ra")))
    copy = (s.filter(doc >= 10 * n)
            .select((doc - 10 * n).alias("k"), F.col("split").alias("sb"),
                    F.col("rep_id").alias("rb")))
    ex = orig.join(copy, "k").localCheckpoint(eager=True)
    n_ex = ex.count()
    ex_straddle = ex.filter("sa != sb").count()
    ex_repdiff = ex.filter("ra != rb").count()
    assert n_ex == n_copies and ex_straddle == 0 and ex_repdiff == 0, (
        n_ex, ex_straddle, ex_repdiff)

    expected_pairs = (n // 2 + 24) // 25  # (50m, 50m + 1)
    a = (s.filter((doc % 50 == 0) & (doc < n))
         .select(F.expr("doc_id DIV 50").alias("m"), F.col("split").alias("sa")))
    b = (s.filter((doc % 50 == 1) & (doc < n))
         .select(F.expr("(doc_id - 1) DIV 50").alias("m"),
                 F.col("split").alias("sb")))
    nd = a.join(b, "m").localCheckpoint(eager=True)
    n_nd = nd.count()
    nd_straddle = nd.filter("sa != sb").count()
    assert n_nd == expected_pairs, (n_nd, expected_pairs)
    assert nd_straddle <= max(1, expected_pairs // 1000), nd_straddle

    # binomial over ~n content-hash deals; the slack term covers toy sizes
    # (≈5σ at 4k docs)
    frac = s.filter("split = 'val'").count() / n_rows
    want = VAL_BUCKETS / SPLIT_BUCKETS
    assert abs(frac - want) <= 0.01 + 60.0 / n_rows, (frac, want)
    for df in (split_df, ex, nd):
        _drop_checkpoint_blocks(df)
    shutil.rmtree(scratch, ignore_errors=True)
    return {"docs": int(n_rows), "exact_pairs": int(n_ex),
            "exact_straddle": int(ex_straddle), "neardup_pairs": int(n_nd),
            "neardup_straddle": int(nd_straddle),
            "val_fraction": round(frac, 5),
            "naive_straddle_frac": round(2 * want * (1 - want), 4),
            "timings_sec": t}


def shards(spark, size, scratch, *, sf_dir, n_shards: int = 1024):
    """``epoch_shards``, the deterministic global shuffle: every shard's seq
    is exactly 1..|shard| (a gapless stream per worker), shard sizes sit in
    the binomial ±5σ band around N/n_shards (hash uniformity is the balance
    guarantee, so the same gate holds at toy size), and epoch 1 deals a
    different permutation than epoch 0."""
    from gmr_spark.operators.sampling import epoch_shards

    t: dict = {}
    with timed(t, "shards_build_corpus"):
        corpus = build_corpus(spark, size, scratch, sf_dir)
    with timed(t, "shards_operator"):
        dealt = epoch_shards(spark, corpus, n_shards=n_shards)
        sizes = (dealt.groupBy("shard")
                 .agg(F.count(F.lit(1)).alias("sz"), F.max("seq").alias("mx"))
                 .localCheckpoint(eager=True))
        st = sizes.agg(
            F.count(F.lit(1)).alias("shards"), F.sum("sz").alias("docs"),
            F.min("sz").alias("mn"), F.max("sz").alias("mx"),
            F.sum(F.when(F.col("mx") != F.col("sz"), 1).otherwise(0))
            .alias("gappy")).first()
    assert st.docs == size and st.shards == n_shards and st.gappy == 0, st
    p = 1.0 / n_shards
    mean, sigma = size * p, (size * p * (1 - p)) ** 0.5
    assert mean - 5 * sigma <= st.mn <= st.mx <= mean + 5 * sigma, (
        st.mn, st.mx, mean, sigma)
    with timed(t, "shards_epoch1_join"):
        moved = (epoch_shards(spark, corpus, n_shards=n_shards, epoch=1)
                 .withColumnRenamed("shard", "shard1")
                 .withColumnRenamed("seq", "seq1")
                 .join(dealt, "doc_id")
                 .filter("shard1 != shard OR seq1 != seq").count())
    assert moved > 0, moved
    _drop_checkpoint_blocks(sizes)
    shutil.rmtree(scratch, ignore_errors=True)
    return {"docs": int(st.docs), "n_shards": n_shards,
            "min_shard": int(st.mn), "max_shard": int(st.mx),
            "mean_shard": round(mean, 1), "sigma": round(sigma, 1),
            "epoch1_moved": int(moved), "timings_sec": t}


# ---- events and tables -------------------------------------------------------

STREAM_OPTS = {"pathGlobFilter": "*.parquet", "maxFilesPerTrigger": "8"}


def stream(spark, size, scratch):
    """Sustained micro-batch throughput over ``size`` events in 64 files, 8
    per trigger, to a noop sink: the watermarked hourly tumbling
    aggregation (the windowed state store) and the stream-stream
    attribution join (two-sided watermarks and a time range: the eviction
    contract that keeps state bounded). The join's input rows count both
    sides."""
    from gmr_spark.streaming.joins import (
        ATTRIB_WINDOW, _attribution_pairs, _split)
    from gmr_spark.streaming.windowed import _windowed_agg, read_events_stream

    t: dict = {}
    with timed(t, "build_events"):
        src = f"{build_events(spark, size, scratch)}/events.parquet"

    def drained(df, mode, name):
        q = (df.writeStream.format("noop")
             .option("checkpointLocation", f"{scratch}/ckpt_{name}")
             .outputMode(mode).start())
        wall, rows, batches = drain(q)
        return {"wall_s": wall, "rows": rows, "batches": batches,
                "rows_per_sec": _rate(rows, wall)}

    # update mode emits deltas; the noop sink discards them either way, and
    # the state size is what this measures
    out = {"windowed_agg": drained(_windowed_agg(
        read_events_stream(spark, src, options=STREAM_OPTS)
        .withWatermark("ts", "1 hour")), "update", "agg")}
    p, _ = _split(read_events_stream(spark, src, options=STREAM_OPTS))
    _, v = _split(read_events_stream(spark, src, options=STREAM_OPTS))
    out["stream_stream_join"] = drained(_attribution_pairs(
        p.withWatermark("p_ts", ATTRIB_WINDOW),
        v.withWatermark("v_ts", ATTRIB_WINDOW)), "append", "join")
    assert out["windowed_agg"]["rows"] == size
    assert out["stream_stream_join"]["rows"] == 2 * size
    shutil.rmtree(scratch, ignore_errors=True)
    return {"events": size, **out, "timings_sec": t}


def recover(spark, size, scratch):
    """Crash recovery of the watermarked hourly aggregation over ``size``
    events (update mode, per-epoch idempotent parquet sink): a sink failure
    is injected at epoch 4 of 8 after a partial write, the query restarts
    from the same checkpoint, and the restart must resume at the failed
    epoch (one micro-batch replay, not a re-scan) with final state equal to
    the one-job batch aggregation of all events."""
    from pyspark.errors.exceptions.base import StreamingQueryException

    from gmr_spark.streaming.windowed import _windowed_agg, read_events_stream

    t: dict = {}
    with timed(t, "recover_build_corpus"):
        src = f"{build_events(spark, size, scratch)}/events.parquet"
    ckpt, out_root = f"{scratch}/ckpt", f"{scratch}/out"
    crash_epoch = 4  # 64 files / 8 per trigger = 8 epochs
    state = {"crashed": False}

    def sink(fail_once: bool):
        def write(batch_df, epoch_id):
            path = f"{out_root}/epoch={epoch_id}"
            if fail_once and epoch_id == crash_epoch and not state["crashed"]:
                batch_df.limit(1).write.mode("overwrite").parquet(path)
                state["crashed"] = True
                raise RuntimeError("injected sink failure")
            batch_df.write.mode("overwrite").parquet(path)
        return write

    def start(fail_once: bool):
        # a watermark wider than the 7-day corpus: the file source orders
        # batches by mtime, and at 50M the 64-file write straggles, so batch
        # order is not event-time order; dropping late windows is drop
        # policy, not the recovery contract measured here
        events = read_events_stream(spark, src, options=STREAM_OPTS) \
            .withWatermark("ts", "8 days")
        return (_windowed_agg(events).writeStream.outputMode("update")
                .foreachBatch(sink(fail_once))
                .option("checkpointLocation", ckpt).start())

    with timed(t, "recover_phase1_to_crash"):
        q = start(fail_once=True)
        # only the injected crash surfacing through the query counts; any
        # other failure (Py4J, session death) propagates
        try:
            q.awaitTermination()
        except StreamingQueryException:
            pass
        else:
            raise AssertionError("query survived the injected failure")
    assert state["crashed"], "fault injector never fired"
    with timed(t, "recover_phase2_drain"):
        q2 = start(fail_once=False)
        q2.processAllAvailable()
        replayed = [int(p["batchId"]) for p in q2.recentProgress]
        replay_rows = sum(int(p["numInputRows"]) for p in q2.recentProgress)
        q2.stop()
    assert replayed and min(replayed) == crash_epoch, replayed

    with timed(t, "recover_verify"):
        w = W.partitionBy("hour_epoch", "event_type").orderBy(F.col("epoch").desc())
        latest = (spark.read.option("basePath", out_root).parquet(out_root)
                  .withColumn("rn", F.row_number().over(w)).filter("rn = 1")
                  .select("hour_epoch", "event_type", "n", "total_value"))
        # the batch twin reads the same files with read_events_stream's NTZ
        # to session-timestamp normalization
        batch_ev = (
            spark.read.schema(
                "event_id long, ts timestamp_ntz, user_id long,"
                " event_type string, value double, props string")
            .option("pathGlobFilter", "*.parquet").parquet(src)
            .withColumn("ts", F.timestamp_micros(F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
                " ts)"))))
        batch = _windowed_agg(batch_ev)
        # decimal-summed totals are exact, so set equality is the test
        diff = latest.exceptAll(batch).count() + batch.exceptAll(latest).count()
        n_keys = latest.count()
    assert diff == 0, f"{diff} state keys differ from the batch twin"
    shutil.rmtree(scratch, ignore_errors=True)
    return {"events": size, "crash_epoch": crash_epoch,
            "resumed_at": int(min(replayed)), "replay_rows": replay_rows,
            "state_keys": int(n_keys), "exactly_once": True, "timings_sec": t}


TPCH_QUERIES = (
    "q1_pricing_summary",   # scan + 6-agg rollup over all of lineitem
    "q3_top_orders",        # fact-fact shuffle join + top-k
    "q5_nation_revenue",    # 5-way join, local-supplier predicate
    "q6_forecast_revenue",  # pushdown canary: filters reach the scan
    "q9_product_profit",    # 5-way join + 2-key agg over a part slice
    "q13_customer_distribution",  # left-outer join + stacked aggs
    "q18_large_orders",     # HAVING subquery feeding broadcast joins
    "q21_waiting_suppliers",  # EXISTS/NOT-EXISTS double correlation
)


def tpch(spark, size, scratch):
    """The heaviest declared TPC-H shapes, unmodified, on ``size`` orders of
    the synthetic tables (``scale_data.build_tpch``; 30M orders is ~120M
    lineitem rows, ~200x sf0.1), each saved to the noop sink; walls are
    min-of-2."""
    from gmr_spark.queries import all_queries

    t: dict = {}
    with timed(t, "build_tables"):
        sf = build_tpch(spark, size, scratch)
        n_li = spark.read.parquet(f"{sf}/lineitem.parquet").count()
    registry = all_queries()

    def once(name: str) -> float:
        t0 = time.perf_counter()
        registry[name](spark, sf).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 1)

    walls = {}
    for name in TPCH_QUERIES:
        walls[name] = min(once(name), once(name))
        log(f"  {name}: {walls[name]}s")
    shutil.rmtree(scratch, ignore_errors=True)
    return {"orders": size, "lineitem": n_li,
            "queries": {q: {"wall_s": w, "m_lineitem_rows_per_sec":
                            round(n_li / w / 1e6, 1) if w else None}
                        for q, w in walls.items()},
            "timings_sec": t}


# name -> (family, default size: the SCALE.md row's)
FAMILIES = {
    "llm": (llm, 2_000_000),
    "pack": (pack, 2_000_000),
    "sort": (sort, 120_000_000),
    "pq": (pq, 2_000_000),
    "pqtrain": (pqtrain, 2_000_000),
    "celltrain": (celltrain, 2_000_000),
    "exact": (exact, 10_000_000),
    "cells4k": (cells4k, 2_000_000),
    "decade": (decade, 2_000_000),
    "pipeline": (pipeline, 2_000_000),
    "split": (split, 2_000_000),
    "shards": (shards, 2_000_000),
    "stream": (stream, 50_000_000),
    "recover": (recover, 50_000_000),
    "tpch": (tpch, 30_000_000),
}
