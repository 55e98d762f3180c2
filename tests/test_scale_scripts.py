"""Smoke tests for the scale-proof scripts (scripts/scale_*.py) at toy size:
the committed SCALE.md artifacts rely on these code paths, so the corpus
generator's planted-duplicate property and the operators' recall on it are
pinned in the suite."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "scripts"))


def test_llm_scale_corpus_planted_recall(spark, tmp_path):
    from scale_llm import build_corpus

    from gmr_spark.operators.dedup import dedup_exact, dedup_minhash

    n = 5000
    sf = build_corpus(spark, n=n, scratch=str(tmp_path / "corpus"),
                      base_sf="/root/testdata/sf0.001")
    # every non-planted doc unique -> exact dedup sees n singleton groups
    assert dedup_exact(spark, sf).count() == n
    planted = (n // 2 + 24) // 25
    pairs = dedup_minhash(spark, sf)
    rows = pairs.collect()
    # every found pair must BE a planted pair (2k, 2k+1 sharing seed)...
    for r in rows:
        assert r.doc_b == r.doc_a + 1 and r.doc_a % 2 == 0 \
            and (r.doc_a // 2) % 25 == 0, f"false positive: {r}"
        assert r.jaccard >= 0.85
    # ...and recall over the planted set is near-total (LSH banding may
    # miss a stray pair at J~0.93; 95% is far below observed 99.99%)
    assert len(rows) >= 0.95 * planted, (len(rows), planted)


def test_g2_generator_diameter_property(spark):
    """The ring+power-chord construction must reach every vertex within
    ceil(log2 N) + slack supersteps (binary-decomposition bound) — the
    property the full-size SSSP run's assert relies on."""
    import pytest
    from pyspark.sql import functions as F

    from gmr_spark.algorithms.sssp import bfs
    from gmr_spark.graph import PropertyGraph

    n = 4096
    chords = (n - 1).bit_length()
    offsets = F.array(*[F.lit(2 ** j) for j in range(chords)])
    edges = (
        spark.range(n)
        .select(F.col("id"), F.explode(offsets).alias("off"))
        .select(F.col("id").alias("src"),
                F.pmod(F.col("id") + F.col("off"), F.lit(n)).alias("dst"),
                F.lit(1.0).alias("weight"))
    )
    g = PropertyGraph(vertices=spark.range(n).select("id"), edges=edges)
    levels = bfs(g, source=0, max_iter=chords + 5)
    reached = levels.filter(F.col("level").isNotNull()).count()
    assert reached == n
    max_level = levels.agg(F.max("level")).first()[0]
    assert max_level <= chords, f"diameter {max_level} > log2 bound {chords}"


def test_svdpp_shuffle_fallback_matches_broadcast(spark):
    """The above-cap join strategy (state_broadcast_cap exceeded -> plain
    shuffled joins) must produce the IDENTICAL ROUND(.,6) predictions as
    the broadcast path — the invariant scripts/scale_svdpp.py proves at
    60M edges, pinned here at sf0.001 so the fallback branch is exercised
    by the suite itself (round-5 verdict item 1: this branch had never
    run in any test)."""
    from gmr_spark.algorithms.svdpp import rating_edges, svdpp_train

    edges = rating_edges(spark, "/root/testdata/sf0.001")
    a = svdpp_train(spark, edges).collect()
    b = svdpp_train(spark, edges, state_broadcast_cap=1).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == edges.count()


def test_llm_scale_embedding_planted_recall(spark, tmp_path):
    """The synthetic embeddings twin plants the same (2k, 2k+1) pairs as the
    text corpus; the 16-bit sign-LSH bucket join + cosine verify must find
    them with ~(1-0.005)^16 ≈ 92% expected recall and zero false positives
    at min_sim=0.9 (random same-bucket cosines sit ~7σ below)."""
    from scale_llm import build_corpus

    from gmr_spark.operators.dedup import dedup_embedding

    n = 5000
    sf = build_corpus(spark, n=n, scratch=str(tmp_path / "corpus"),
                      base_sf="/root/testdata/sf0.001")
    planted = (n // 2 + 24) // 25
    pairs = dedup_embedding(spark, sf, n_bits=16, min_sim=0.9).collect()
    for r in pairs:
        assert r.vec_b == r.vec_a + 1 and r.vec_a % 2 == 0 \
            and (r.vec_a // 2) % 25 == 0, f"false positive: {r}"
        assert r.sim >= 0.99
    assert len(pairs) >= 0.8 * planted, (len(pairs), planted)


def test_llm_scale_semdedup_planted_recall(spark, tmp_path):
    """SemDeDup (arrow engine, the scale path scale_llm.py runs at 2M) on
    the planted corpus: every (2k, 2k+1) near-copy pair whose members share
    a cluster must retire the odd (higher-id) member; nothing else retires
    (random within-cluster cosines sit far below 0.9)."""
    from scale_llm import build_corpus

    from gmr_spark.operators.dedup import semdedup_frame
    from gmr_spark.sources.tables import load_tables

    n = 5000
    sf = build_corpus(spark, n=n, scratch=str(tmp_path / "corpus"),
                      base_sf="/root/testdata/sf0.001")
    planted = (n // 2 + 24) // 25
    out = semdedup_frame(
        load_tables(spark, sf)["embeddings"],
        k=max(8, n // 2000), iters=2, threshold=0.9, engine="arrow",
    ).collect()
    retired = [r for r in out if not r.keep]
    for r in retired:
        assert r.vec_id % 2 == 1 and (r.vec_id // 2) % 25 == 0, \
            f"false positive: {r}"
        assert r.max_sim_earlier >= 0.99
    # a pair is only visible when both members share a cluster; near-copies
    # virtually always do
    assert len(retired) >= 0.9 * planted, (len(retired), planted)


def test_llm_scale_substring_planted_recall(spark, tmp_path):
    """Exact-substring dedup on the scale corpus at 5k docs: planted
    (2k, 2k+1) texts differ only in the final alpha/beta token, so every
    window clear of the tail is shared verbatim — both members must be
    flagged, and (8-gram collisions being ~997^-8) nothing else."""
    from scale_llm import build_corpus

    from gmr_spark.operators.dedup import dedup_substring

    n = 5000
    sf = build_corpus(spark, n=n, scratch=str(tmp_path / "corpus"),
                      base_sf="/root/testdata/sf0.001")
    out = dedup_substring(spark, sf)
    flagged = {r.doc_id for r in out.filter("NOT keep").collect()}
    planted = {d for k in range(0, n // 2, 25) for d in (2 * k, 2 * k + 1)}
    assert flagged == planted
    # and the dup fraction reflects the tail-only difference: only the
    # FINAL window covers the differing last token, so all but one shared
    sample = out.filter(out.doc_id.isin([0, 1])).collect()
    for r in sample:
        assert r.n_dup_windows == r.n_windows - 1 and r.max_docs_sharing == 2


def test_stream_scale_probes_drain_and_count(spark, tmp_path):
    """The streaming-throughput probe's corpus and both probe shapes run
    end-to-end at toy size: the file source splits into >1 micro-batch
    (maxFilesPerTrigger), the windowed agg consumes every event exactly
    once, and the stream-stream join consumes both sides."""
    from scale_stream import build_events, drain

    from gmr_spark.streaming.joins import (
        ATTRIB_WINDOW, _attribution_pairs, _split)
    from gmr_spark.streaming.windowed import _windowed_agg, read_events_stream

    n = 2000
    sf = build_events(spark, n, str(tmp_path / "events"))
    src = f"{sf}/events.parquet"
    opts = {"pathGlobFilter": "*.parquet", "maxFilesPerTrigger": "8"}

    events = read_events_stream(spark, src, options=opts) \
        .withWatermark("ts", "1 hour")
    q = (_windowed_agg(events).writeStream.format("noop")
         .option("checkpointLocation", str(tmp_path / "ck1"))
         .outputMode("update").start())
    _, rows, batches = drain(q)
    assert rows == n and batches == 8

    p, _ = _split(read_events_stream(spark, src, options=opts))
    _, v = _split(read_events_stream(spark, src, options=opts))
    joined = _attribution_pairs(
        p.withWatermark("p_ts", ATTRIB_WINDOW),
        v.withWatermark("v_ts", ATTRIB_WINDOW))
    q = (joined.writeStream.format("noop")
         .option("checkpointLocation", str(tmp_path / "ck2"))
         .outputMode("append").start())
    _, rows, batches = drain(q)
    assert rows == 2 * n and batches == 8


def test_tpch_scale_corpus_matches_driver_contract(spark, tmp_path):
    """The TPC-H scale probe's synthetic corpus must be a faithful stand-in
    for the driver testdata: same post-load schema for every relational
    table, the same value alphabets the declared queries filter on, the
    testdata's 1-7 lines-per-order fan-out, and nonzero result sets for the
    selective heavy shapes (q18's HAVING tail, q21's double correlation) —
    the properties the committed SCALE.md walls depend on."""
    from scale_tpch import build_tpch

    from pyspark.sql import functions as F

    from gmr_spark.operators import relational as R
    from gmr_spark.sources.tables import load_tables

    n = 8000
    sf = build_tpch(spark, n, str(tmp_path / "tpch"))

    t = load_tables(spark, sf)
    ref = load_tables(spark, "/root/testdata/sf0.001")
    for name in ("region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem"):
        assert [(f.name, f.dataType) for f in t[name].schema.fields] == \
               [(f.name, f.dataType) for f in ref[name].schema.fields], name

    li = t["lineitem"]
    fan = li.groupBy("l_orderkey").count().agg(
        F.min("count"), F.max("count"), F.count(F.lit(1))).first()
    assert 1 <= fan[0] and fan[1] <= 7 and fan[2] == n
    doms = li.agg(F.collect_set("l_returnflag"),
                  F.collect_set("l_linestatus")).first()
    assert sorted(doms[0]) == ["A", "N", "R"] and sorted(doms[1]) == ["F", "O"]
    assert t["customer"].select("c_mktsegment").distinct().count() == 5
    assert t["part"].filter(F.col("p_name").like("%bolt%")).count() > 0
    assert t["part"].filter(F.col("p_type") == "PROMO").count() > 0

    # the two rare-tail shapes stay non-degenerate on the synthetic corpus
    assert R.q18_large_orders(spark, sf).count() > 0
    assert R.q21_waiting_suppliers(spark, sf).count() > 0


def _import_r8(monkeypatch, vertices: int):
    """scale_r8 reads R8_VERTICES at import — load a fresh copy per size."""
    import importlib.util

    monkeypatch.setenv("R8_VERTICES", str(vertices))
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts", "scale_r8.py")
    spec = importlib.util.spec_from_file_location(f"r8_{vertices}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_r8_skew_construction_invariants(spark, monkeypatch):
    """The heavy-tail generator's committed SCALE.md claims, pinned at toy
    size: (a) the D2 exclusion really forecloses every hub triangle — the
    Spark triangle count equals the background closed form V*T2 exactly on
    the FULL graph including 100 hubs; (b) the independent numpy PageRank
    oracle matches the engine's ranks; (c) hub in-degrees come out as
    designed."""
    import numpy as np
    from pyspark.sql import functions as F

    from gmr_spark.algorithms import pagerank
    from gmr_spark.algorithms.triangles import triangle_count
    from gmr_spark.graph import PropertyGraph

    r8 = _import_r8(monkeypatch, 150_000)  # > 3*max(S): wrap-triple guard
    V = r8.V
    t2 = r8._check_s()
    assert t2 >= 6  # the three planted sums make the check non-vacuous
    hub_src, hub_dst = r8._build_hub_edges()

    offsets = F.array(*[F.lit(int(s)) for s in r8.S_OFFSETS])
    bg = (
        spark.range(V)
        .select(F.col("id"), F.explode(offsets).alias("off"))
        .select(F.col("id").alias("src"),
                F.pmod(F.col("id") + F.col("off"), F.lit(V)).alias("dst"),
                F.lit(1.0).alias("weight"))
    )
    hub = spark.createDataFrame(
        list(zip(hub_src.tolist(), hub_dst.tolist())),
        "src long, dst long").select("src", "dst",
                                     F.lit(2.0).alias("weight"))
    edges = bg.unionByName(hub).localCheckpoint(eager=True)
    g = PropertyGraph(vertices=spark.range(V).select("id"), edges=edges)

    # (a) triangle exactness with all hub edges present
    assert triangle_count(g).first().tri_cnt == V * t2

    # (b) engine ranks == independent numpy oracle
    got = pagerank(g, k=10, damping=0.5).toPandas().sort_values("id")
    want = r8._numpy_pagerank(hub_src, hub_dst)
    rel = np.abs(got["rank"].to_numpy() - want) / want
    assert float(rel.max()) < 1e-9, float(rel.max())

    # (c) designed hub in-degrees
    indeg = np.bincount(hub_dst, minlength=100)
    assert indeg[0] > indeg[10] > 0 and len(hub_src) == indeg.sum()


def test_r8_manyscc_row_at_toy_size(spark, monkeypatch):
    """run_manyscc end-to-end at toy size: its internal asserts (exact SCC
    count/sizes/labels) plus the recorded metrics must reflect the DAG
    design — phases == condensation depth, nothing trimmed."""
    monkeypatch.setenv("R8_SCC_COUNT", "10")
    monkeypatch.setenv("R8_SCC_LEVELS", "2")
    r8 = _import_r8(monkeypatch, 48_000)
    timings, extra = {}, {}
    r8.run_manyscc(spark, timings, extra)
    m = extra["manyscc"]
    assert m["sccs"] == 10 and m["phases"] == 2 and m["trimmed"] == 0


def test_ingest_scale_roundtrip_and_checksum(spark, tmp_path):
    """The ingest probe's round-trip contract at toy size: the sharded
    write → read cycle preserves vertex/edge counts AND the order-invariant
    edge checksum, and the checksum actually discriminates (dropping one
    edge changes it)."""
    from scale_ingest import build_graph, edge_checksum

    from gmr_spark.sources.graph_file import read_graph_file, write_graph_file

    n = 2000
    g = build_graph(spark, n)
    ne = g.edges.count()
    cs = edge_checksum(g.edges)

    path = str(tmp_path / "g.graph")
    write_graph_file(g, path, distributed=True)
    g2 = read_graph_file(spark, path)
    assert g2.vertices.count() == n and g2.edges.count() == ne
    assert edge_checksum(g2.edges) == cs
    assert edge_checksum(g2.edges.limit(ne - 1)) != cs


def test_r9_sort_and_pq_rows_at_toy_size(spark, monkeypatch, tmp_path):
    """scale_r9 probes end-to-end at toy size. run_sort's internal asserts
    hold (closed-form rank invariants checked over EVERY row: rank sum,
    min/max, zero rank != value+1 mismatches); the PQ probe finds nearly all
    planted partners through the full ADC → shortlist → exact-re-rank stack
    (the partner is the true top-1 by construction, cosine ≈ 0.9999)."""
    import importlib.util

    monkeypatch.setenv("R9_SORT_ROWS", "120000")
    monkeypatch.setenv("R9_SORT_PARTS", "8")
    monkeypatch.setenv("R9_PQ_VECS", "50000")
    monkeypatch.setenv("R9_PQ_SCRATCH", str(tmp_path / "pq"))
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts", "scale_r9.py")
    spec = importlib.util.spec_from_file_location("r9_toy", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    timings, extra = {}, {}
    mod.run_sort(spark, timings, extra)
    assert extra["sort"]["mismatches"] == 0
    assert extra["sort"]["rank_sum_exact"] is True

    mod.run_pq(spark, timings, extra)
    assert extra["pq"]["queries"] == 100
    assert extra["pq"]["top1_partner_recall"] >= 0.9


def test_r10_pqtrain_row_at_toy_size(spark, monkeypatch, tmp_path):
    """scale_r10's trained-codebook probe end-to-end at toy size (round-9
    verdict item 2). Invariants the committed SCALE.md row relies on:
    (a) both legs share the coarse quantizer exactly — identical cell_hits
        and identical gt_reachable (the reachable-recall comparison is
        well-defined only because the reachable set is shared);
    (b) per-subspace Lloyd training on the 1-in-10 sample cuts the FULL
        corpus quantization MSE substantially (generalization, not fit);
    (c) trained reachable-recall ≥ seeded (ADC ordering is what the
        codebook improves — the planted-partner metric cannot move, the
        partner shares the query's codes);
    (d) exact ground truth has exactly gt_k rows per query."""
    import importlib.util

    monkeypatch.setenv("R10_PQ_VECS", "50000")
    monkeypatch.setenv("R10_PQ_CELLS", "64")
    monkeypatch.setenv("R10_PQ_NOISE_MILLI", "50")
    monkeypatch.setenv("R10_PQ_SCRATCH", str(tmp_path / "pqtrain"))
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts", "scale_r10.py")
    spec = importlib.util.spec_from_file_location("r10_toy", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    timings, extra = {}, {}
    mod.run_pqtrain(spark, timings, extra)
    p = extra["pqtrain"]
    seeded, trained = p["legs"]["seeded"], p["legs"]["trained"]
    assert seeded["cell_hits"] == trained["cell_hits"]          # (a)
    assert seeded["gt_reachable"] == trained["gt_reachable"]
    assert trained["mse"] <= seeded["mse"] * 0.8                # (b)
    assert trained["recall_reachable"] >= seeded["recall_reachable"]  # (c)
    assert p["gt_queries"] * p["gt_k"] == 250                   # (d)
    # the measured compression claim has the right shape even at toy size
    assert p["index_bytes"]["codes_parquet"] * 5 < \
        p["index_bytes"]["raw_vec_parquet"]


def test_r10_celltrain_row_at_toy_size(spark, monkeypatch, tmp_path):
    """scale_r10's coarse-quantizer probe at toy size: Lloyd-training the
    IVF cells with the kmeans Arrow kernels must (a) not lose planted
    pairs (every pair observed exactly twice -> grouped once), (b) raise
    the partner same-cell rate vs the seeded cells (the nprobe=1 coarse
    recall ceiling), and (c) improve cell balance (max/mean population —
    the candidate equi-join's hot-key bound)."""
    import importlib.util

    monkeypatch.setenv("R10_PQ_VECS", "50000")
    monkeypatch.setenv("R10_PQ_CELLS", "64")
    monkeypatch.setenv("R10_CELL_SCRATCH", str(tmp_path / "cells"))
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts", "scale_r10.py")
    spec = importlib.util.spec_from_file_location("r10_cell_toy", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    timings, extra = {}, {}
    mod.run_celltrain(spark, timings, extra)
    legs = extra["celltrain"]["legs"]
    assert legs["seeded"]["pairs"] == legs["trained"]["pairs"] == 1000  # (a)
    assert (legs["trained"]["same_cell_rate"]
            >= legs["seeded"]["same_cell_rate"])                       # (b)
    assert (legs["trained"]["max_over_mean"]
            <= legs["seeded"]["max_over_mean"])                       # (c)


def test_r10_exact_row_at_toy_size(spark, monkeypatch, tmp_path):
    """scale_r10's exact-search probe at toy size: brute force is exact,
    so partner recall must be 1.0 — the probe's internal asserts (exactly
    k rows per query, one rank-1 row per query) plus the construction
    invariant make the committed 10M row a verified result, not a wall
    clock."""
    import importlib.util

    monkeypatch.setenv("R10_EXACT_VECS", "100000")
    monkeypatch.setenv("R10_EXACT_SCRATCH", str(tmp_path / "exact"))
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts", "scale_r10.py")
    spec = importlib.util.spec_from_file_location("r10_exact_toy", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    timings, extra = {}, {}
    mod.run_exact(spark, timings, extra)
    assert extra["exact"]["queries"] == 1000
    assert extra["exact"]["top1_partner_recall"] == 1.0


def test_r9_recover_row_at_toy_size(spark, monkeypatch, tmp_path):
    """run_recover end-to-end at toy size: its internal asserts must hold —
    resume AT the crash epoch, exactly-once state vs the batch twin
    (exceptAll both directions)."""
    import importlib.util

    monkeypatch.setenv("R9_RECOVER_EVENTS", "200000")
    monkeypatch.setenv("R9_RECOVER_SCRATCH", str(tmp_path / "rec"))
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts", "scale_r9.py")
    spec = importlib.util.spec_from_file_location("r9_rec_toy", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    timings, extra = {}, {}
    mod.run_recover(spark, timings, extra)
    r = extra["recover"]
    assert r["resumed_at"] == r["crash_epoch"] == 4
    assert r["exactly_once"] is True and r["state_keys"] > 0


def test_r13_decade_probe_at_toy_size(spark, monkeypatch, tmp_path):
    """run_decade end-to-end at toy size: the probe's in-run asserts must
    hold (update wall <= assign wall, corpus assign within the linear
    tolerance, trained balance <= seeded) and the returned metrics must
    carry the trained-vs-seeded pair the SCALE.md r13 row is stated from.
    Toy CELLS sits below scale_r12.CONTRACT_DECADE, i.e. this exercises
    the exploratory branch of the decade-aware contract by construction."""
    import importlib.util

    monkeypatch.setenv("R13_VECS", "20000")
    monkeypatch.setenv("R13_CELLS", "256")
    monkeypatch.setenv("R13_CELLS_CONTROL", "64")
    monkeypatch.setenv("R13_SCRATCH", str(tmp_path / "r13"))
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts", "scale_r13.py")
    spec = importlib.util.spec_from_file_location("r13_toy", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    timings = {}
    extra = mod.run_decade(spark, timings)
    assert extra["trained_cells"] <= 256
    assert (extra["trained_balance_max_over_mean"]
            <= extra["seeded_balance_max_over_mean"])
    assert extra["balance_improvement_vs_seeded"] >= 1.0
    assert len(extra["lloyd_stage_walls_sec"]["assign"]) == 2
    assert "build_corpus" in timings


def test_r13_split_row_at_toy_size(spark, monkeypatch, tmp_path):
    """scale_r12's run_split at toy size: the probe's in-run asserts —
    zero exact-pair straddle (structural), near-dup straddle bounded by
    banding misses, val fraction at VAL_BUCKETS/65536 — all ride the
    test gate, so the committed 2M row is a verified result, not a wall
    clock."""
    import importlib.util

    monkeypatch.setenv("R12_DOCS", "4000")
    monkeypatch.setenv("R13_SPLIT_SCRATCH", str(tmp_path / "split"))
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts", "scale_r12.py")
    spec = importlib.util.spec_from_file_location("r13_split_toy", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    timings, extra = {}, {}
    mod.run_split(spark, timings, extra)
    got = extra["split"]
    assert got["docs"] == 4040
    assert got["exact_pairs"] == 40 and got["exact_straddle"] == 0
    assert got["neardup_pairs"] == 80 and got["neardup_straddle"] <= 1
    assert 0.05 <= got["val_fraction"] <= 0.15


def test_r13_shards_row_at_toy_size(spark, monkeypatch, tmp_path):
    """scale_r12's run_shards at toy size: the density-aware ±5σ balance
    gate, the gapless per-shard seq assert, and the epoch-1 re-deal all
    ride the test gate at 4k docs / 8 shards — the same contract the
    committed 2M × 1024 row asserts in-run."""
    import importlib.util

    monkeypatch.setenv("R12_DOCS", "4000")
    monkeypatch.setenv("R13_SHARDS", "8")
    monkeypatch.setenv("R13_SHARDS_SCRATCH", str(tmp_path / "shards"))
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts", "scale_r12.py")
    spec = importlib.util.spec_from_file_location("r13_shards_toy", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    timings, extra = {}, {}
    mod.run_shards(spark, timings, extra)
    got = extra["shards"]
    assert got["docs"] == 4000 and got["n_shards"] == 8
    assert got["epoch1_moved"] > 0


def test_r15_ktruss_skew_expected_count(spark):
    """The ktruss_skew row's expected triangle count, checked against the
    engine at toy size before a G2-size run pays for it: the hub graph has
    no hub–hub edges, so only the (hub, leaf i, leaf i+1) triangles close."""
    from scale_r15 import hub_ring_edges, hub_ring_triangles

    from gmr_spark.algorithms.triangles import closed_triangles

    und = hub_ring_edges(spark, hubs=3, leaves=8)
    assert hub_ring_triangles(hubs=3, leaves=8) == 3 * 7
    assert closed_triangles(und).count() == hub_ring_triangles(hubs=3, leaves=8)
