"""Toy-size tests of the scale harness (scripts/scale.py): its generators
(scripts/scale_data.py) and families (scripts/scale_graph.py,
scripts/scale_corpus.py). The committed SCALE.md rows rely on these code
paths, so the generators' planted properties and each family's in-run
asserts are pinned in the suite."""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

from scale import FAMILIES, SF_DIR  # noqa: E402


def test_llm_scale_corpus_planted_recall(spark, tmp_path):
    from scale_data import build_corpus

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
    from pyspark.sql import functions as F
    from scale_data import ring_chords

    from gmr_spark.algorithms.sssp import bfs
    from gmr_spark.graph import PropertyGraph

    n = 4096
    chords = (n - 1).bit_length()
    edges = ring_chords(spark, n).select("src", "dst",
                                         F.lit(1.0).alias("weight"))
    g = PropertyGraph(vertices=spark.range(n).select("id"), edges=edges)
    levels = bfs(g, source=0, max_iter=chords + 5)
    reached = levels.filter(F.col("level").isNotNull()).count()
    assert reached == n
    max_level = levels.agg(F.max("level")).first()[0]
    assert max_level <= chords, f"diameter {max_level} > log2 bound {chords}"


def test_svdpp_shuffle_fallback_matches_broadcast(spark):
    """The above-cap join strategy (state_broadcast_cap exceeded -> plain
    shuffled joins) must produce the IDENTICAL ROUND(.,6) predictions as
    the broadcast path — the invariant the svdpp scale family proves at
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
    from scale_data import build_corpus

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
    """SemDeDup (the path the llm family runs at 2M) on
    the planted corpus: every (2k, 2k+1) near-copy pair whose members share
    a cluster must retire the odd (higher-id) member; nothing else retires
    (random within-cluster cosines sit far below 0.9)."""
    from scale_data import build_corpus

    from gmr_spark.operators.dedup import semdedup_frame
    from gmr_spark.sources.tables import load_tables

    n = 5000
    sf = build_corpus(spark, n=n, scratch=str(tmp_path / "corpus"),
                      base_sf="/root/testdata/sf0.001")
    planted = (n // 2 + 24) // 25
    out = semdedup_frame(
        load_tables(spark, sf)["embeddings"],
        k=max(8, n // 2000), iters=2, threshold=0.9,
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
    from scale_data import build_corpus

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
    from scale_corpus import stream

    n = 2000
    got = stream(spark, n, str(tmp_path / "events"))
    agg, join = got["windowed_agg"], got["stream_stream_join"]
    assert agg["rows"] == n and agg["batches"] == 8
    assert join["rows"] == 2 * n and join["batches"] == 8


def test_tpch_scale_corpus_matches_driver_contract(spark, tmp_path):
    """The TPC-H scale probe's synthetic corpus must be a faithful stand-in
    for the driver testdata: same post-load schema for every relational
    table, the same value alphabets the declared queries filter on, the
    testdata's 1-7 lines-per-order fan-out, and nonzero result sets for the
    selective heavy shapes (q18's HAVING tail, q21's double correlation) —
    the properties the committed SCALE.md walls depend on."""
    from scale_data import build_tpch

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


def test_r8_skew_construction_invariants(spark, tmp_path):
    """The heavy-tail generator's committed SCALE.md claims, pinned at toy
    size: (a) the D2 exclusion really forecloses every hub triangle — the
    Spark triangle count equals the background closed form V*T2 exactly on
    the FULL graph including 100 hubs; (b) the independent numpy PageRank
    oracle matches the engine's ranks; (c) hub in-degrees come out as
    designed."""
    import numpy as np
    from scale_data import check_s, numpy_pagerank, skew_graph

    from gmr_spark.algorithms import pagerank
    from gmr_spark.algorithms.triangles import triangle_count

    V = 150_000  # > 3*max(S): wrap-triple guard
    t2 = check_s(V)
    assert t2 >= 6  # the three planted sums make the check non-vacuous
    g, hub_src, hub_dst = skew_graph(spark, V, str(tmp_path / "skew"))

    # (a) triangle exactness with all hub edges present
    assert triangle_count(g).first().tri_cnt == V * t2

    # (b) engine ranks == independent numpy oracle
    got = pagerank(g, k=10, damping=0.5).toPandas().sort_values("id")
    want = numpy_pagerank(V, hub_src, hub_dst)
    rel = np.abs(got["rank"].to_numpy() - want) / want
    assert float(rel.max()) < 1e-9, float(rel.max())

    # (c) designed hub in-degrees
    indeg = np.bincount(hub_dst, minlength=100)
    assert indeg[0] > indeg[10] > 0 and len(hub_src) == indeg.sum()


def test_r8_manyscc_row_at_toy_size(spark, tmp_path):
    """The manyscc family end-to-end at toy size: its internal asserts
    (exact SCC count/sizes/labels) plus the recorded metrics must reflect
    the DAG design — phases == condensation depth, nothing trimmed."""
    from scale_graph import manyscc

    m = manyscc(spark, 48_000, str(tmp_path), count=10, levels=2)
    assert m["sccs"] == 10 and m["phases"] == 2 and m["trimmed"] == 0


def test_ingest_scale_roundtrip_and_checksum(spark, tmp_path):
    """The ingest probe's round-trip contract at toy size: the sharded
    write → read cycle preserves vertex/edge counts AND the order-invariant
    edge checksum, and the checksum actually discriminates (dropping one
    edge changes it)."""
    from pyspark.sql import functions as F
    from scale_data import edge_checksum, ring_chords

    from gmr_spark.graph import PropertyGraph
    from gmr_spark.sources.graph_file import read_graph_file, write_graph_file

    n = 2000
    g = PropertyGraph(  # 1-based ids, the writer's contract
        vertices=spark.range(1, n + 1),
        edges=ring_chords(spark, n, first_id=1).select(
            "src", "dst", F.lit(1.0).alias("weight")))
    ne = g.edges.count()
    cs = edge_checksum(g.edges)

    path = str(tmp_path / "g.graph")
    write_graph_file(g, path, distributed=True)
    g2 = read_graph_file(spark, path)
    assert g2.vertices.count() == n and g2.edges.count() == ne
    assert edge_checksum(g2.edges) == cs
    assert edge_checksum(g2.edges.limit(ne - 1)) != cs


def test_r9_sort_and_pq_rows_at_toy_size(spark, tmp_path):
    """The sort and pq families at toy size. sort's internal asserts
    hold (closed-form rank invariants checked over EVERY row: rank sum,
    min/max, zero rank != value+1 mismatches); the PQ probe finds nearly all
    planted partners through the full ADC → shortlist → exact-re-rank stack
    (the partner is the true top-1 by construction, cosine ≈ 0.9999)."""
    from scale_corpus import pq, sort

    got = sort(spark, 120_000, str(tmp_path / "sort"), parts=8)
    assert got["mismatches"] == 0
    assert got["rank_sum_exact"] is True

    got = pq(spark, 50_000, str(tmp_path / "pq"), sf_dir=SF_DIR)
    assert got["queries"] == 100
    assert got["top1_partner_recall"] >= 0.9


def test_r10_pqtrain_row_at_toy_size(spark, tmp_path):
    """The trained-codebook family end-to-end at toy size. Invariants the
    committed SCALE.md row relies on:
    (a) both legs share the coarse quantizer exactly — identical cell_hits
        and identical gt_reachable (the reachable-recall comparison is
        well-defined only because the reachable set is shared);
    (b) per-subspace Lloyd training on the 1-in-10 sample cuts the FULL
        corpus quantization MSE substantially (generalization, not fit);
    (c) trained reachable-recall ≥ seeded (ADC ordering is what the
        codebook improves — the planted-partner metric cannot move, the
        partner shares the query's codes);
    (d) exact ground truth has exactly gt_k rows per query."""
    from scale_corpus import pqtrain

    p = pqtrain(spark, 50_000, str(tmp_path / "pqtrain"), sf_dir=SF_DIR,
                cells=64)
    seeded, trained = p["legs"]["seeded"], p["legs"]["trained"]
    assert seeded["cell_hits"] == trained["cell_hits"]          # (a)
    assert seeded["gt_reachable"] == trained["gt_reachable"]
    assert trained["mse"] <= seeded["mse"] * 0.8                # (b)
    assert trained["recall_reachable"] >= seeded["recall_reachable"]  # (c)
    assert p["gt_queries"] * p["gt_k"] == 250                   # (d)
    # the measured compression claim has the right shape even at toy size
    assert p["index_bytes"]["codes_parquet"] * 5 < \
        p["index_bytes"]["raw_vec_parquet"]


def test_r10_celltrain_row_at_toy_size(spark, tmp_path):
    """The coarse-quantizer family at toy size: Lloyd-training the
    IVF cells with ``train_ivf_cells`` must (a) not lose planted
    pairs (every pair observed exactly twice -> grouped once), (b) raise
    the partner same-cell rate vs the seeded cells (the nprobe=1 coarse
    recall ceiling), and (c) improve cell balance (max/mean population —
    the candidate equi-join's hot-key bound)."""
    from scale_corpus import celltrain

    legs = celltrain(spark, 50_000, str(tmp_path / "cells"), sf_dir=SF_DIR,
                     cells=64)["legs"]
    assert legs["seeded"]["pairs"] == legs["trained"]["pairs"] == 1000  # (a)
    assert (legs["trained"]["same_cell_rate"]
            >= legs["seeded"]["same_cell_rate"])                       # (b)
    assert (legs["trained"]["max_over_mean"]
            <= legs["seeded"]["max_over_mean"])                       # (c)


def test_r10_exact_row_at_toy_size(spark, tmp_path):
    """The exact-search family at toy size: brute force is exact,
    so partner recall must be 1.0 — the probe's internal asserts (exactly
    k rows per query, one rank-1 row per query) plus the construction
    invariant make the committed 10M row a verified result, not a wall
    clock."""
    from scale_corpus import exact

    got = exact(spark, 100_000, str(tmp_path / "exact"), sf_dir=SF_DIR)
    assert got["queries"] == 1000
    assert got["top1_partner_recall"] == 1.0


def test_r9_recover_row_at_toy_size(spark, tmp_path):
    """The recover family end-to-end at toy size: its internal asserts
    must hold — resume AT the crash epoch, exactly-once state vs the batch
    twin (exceptAll both directions)."""
    from scale_corpus import recover

    r = recover(spark, 200_000, str(tmp_path / "rec"))
    assert r["resumed_at"] == r["crash_epoch"] == 4
    assert r["exactly_once"] is True and r["state_keys"] > 0


def test_r13_decade_probe_at_toy_size(spark, tmp_path):
    """The decade family end-to-end at toy size: its in-run asserts must
    hold (update wall <= assign wall, corpus assign within the linear
    tolerance, trained balance <= seeded) and the returned metrics must
    carry the trained-vs-seeded pair the SCALE.md r13 row is stated from.
    Toy cells sit below scale_corpus.CONTRACT_DECADE, i.e. this exercises
    the exploratory branch of the decade-aware contract by construction."""
    from scale_corpus import decade

    extra = decade(spark, 20_000, str(tmp_path / "r13"), sf_dir=SF_DIR,
                   cells=256, control=64)
    assert extra["trained_cells"] <= 256
    assert (extra["trained_balance_max_over_mean"]
            <= extra["seeded_balance_max_over_mean"])
    assert extra["balance_improvement_vs_seeded"] >= 1.0
    assert len(extra["lloyd_stage_walls_sec"]["assign"]) == 2
    assert "build_corpus" in extra["timings_sec"]


def test_r13_split_row_at_toy_size(spark, tmp_path):
    """The split family at toy size: its in-run asserts —
    zero exact-pair straddle (structural), near-dup straddle bounded by
    banding misses, val fraction at VAL_BUCKETS/65536 — all ride the
    test gate, so the committed 2M row is a verified result, not a wall
    clock."""
    from scale_corpus import split

    got = split(spark, 4000, str(tmp_path / "split"), sf_dir=SF_DIR)
    assert got["docs"] == 4040
    assert got["exact_pairs"] == 40 and got["exact_straddle"] == 0
    assert got["neardup_pairs"] == 80 and got["neardup_straddle"] <= 1
    assert 0.05 <= got["val_fraction"] <= 0.15


def test_r13_shards_row_at_toy_size(spark, tmp_path):
    """The shards family at toy size: the density-aware ±5σ balance
    gate, the gapless per-shard seq assert, and the epoch-1 re-deal all
    ride the test gate at 4k docs / 8 shards — the same contract the
    committed 2M × 1024 row asserts in-run."""
    from scale_corpus import shards

    got = shards(spark, 4000, str(tmp_path / "shards"), sf_dir=SF_DIR,
                 n_shards=8)
    assert got["docs"] == 4000 and got["n_shards"] == 8
    assert got["epoch1_moved"] > 0


def test_r15_ktruss_skew_expected_count(spark):
    """The ktruss_skew row's expected triangle count, checked against the
    engine at toy size before a G2-size run pays for it: the hub graph has
    no hub–hub edges, so only the (hub, leaf i, leaf i+1) triangles close."""
    from scale_data import hub_ring_edges, hub_ring_triangles

    from gmr_spark.algorithms.triangles import closed_triangles

    und = hub_ring_edges(spark, hubs=3, leaves=8)
    assert hub_ring_triangles(hubs=3, leaves=8) == 3 * 7
    assert closed_triangles(und).count() == hub_ring_triangles(hubs=3, leaves=8)


DOCS = ("README.md", "SCALE.md", ".claude/skills/verify/SKILL.md")
# the form a doc uses to reproduce a script deleted from scripts/: a
# worktree of the last commit that had it
WORKTREE = "/tmp/gmr-4c3453f/"


def test_documented_scale_commands_exist():
    """Every ``scripts/scale.py <family>`` the docs name is a registered
    family, and every ``scripts/*.py`` path they name exists, unless it is
    run from the worktree of the commit that still had it."""
    for doc in DOCS:
        with open(os.path.join(REPO, doc)) as fh:
            text = fh.read()
        for names in re.findall(r"scripts/scale\.py\s+([a-z0-9_,]+)", text):
            for name in names.split(","):
                assert name in FAMILIES, f"{doc}: unknown family {name}"
        for m in re.finditer(r"(\S*?)(scripts/[A-Za-z0-9_]+\.py)", text):
            if not m.group(1).endswith(WORKTREE):
                assert os.path.exists(os.path.join(REPO, m.group(2))), \
                    f"{doc}: {m.group(2)} is not in the tree"
