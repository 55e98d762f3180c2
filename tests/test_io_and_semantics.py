"""O1 graph-file reader, sink/scan round-trips and session semantics."""

from __future__ import annotations

import os
import tempfile

import pytest

from gmr_spark.sources.graph_file import read_graph_file

SMALL_GRAPH = """10
22
# comment line
1 2
1 3
1 4
1 5
1 10
2 1
2 3
2 6
2 7
3 1
3 2
3 8
3 9
4 1
4 5
5 1
5 4
6 2
7 2
8 3
9 3
10 1
"""


def test_read_graph_file_small(spark):
    with tempfile.NamedTemporaryFile("w", suffix=".graph", delete=False) as f:
        f.write(SMALL_GRAPH)
        path = f.name
    try:
        g = read_graph_file(spark, path)
        assert g.declared_counts == (10, 22)
        assert g.vertices.count() == 10
        assert g.edges.count() == 22
        out_deg = {r.id: r.out_degree for r in g.out_degrees().collect()}
        assert out_deg[1] == 5 and out_deg[10] == 1
    finally:
        os.unlink(path)


def test_read_graph_file_zero_based_shift(spark):
    # 0-based ids are shifted +1 (partition.h:147-148)
    content = "3\n2\n0 1\n1 2\n"
    with tempfile.NamedTemporaryFile("w", suffix=".graph", delete=False) as f:
        f.write(content)
        path = f.name
    try:
        g = read_graph_file(spark, path)
        edges = {(r.src, r.dst) for r in g.edges.collect()}
        assert edges == {(1, 2), (2, 3)}
        assert {r.id for r in g.vertices.collect()} == {1, 2, 3}
    finally:
        os.unlink(path)


def test_read_reference_fixture_if_present(spark):
    path = "/root/reference/graph/small.graph"
    if not os.path.exists(path):
        pytest.skip("reference fixture absent")
    g = read_graph_file(spark, path)
    assert g.edges.count() == 22


def test_format_round_trips(spark, tmp_path):
    """Partitioned-parquet / csv / json sink+scan round-trips preserve rows
    and types (SURVEY §2.2 scans/sinks surface)."""
    from gmr_spark.sources.formats import read_table, write_table
    from gmr_spark.sources.tables import load_tables

    orders = load_tables(spark, "/root/testdata/sf0.001")["orders"].select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    want = sorted(tuple(r) for r in orders.collect())

    pq = str(tmp_path / "orders_pq")
    write_table(orders, pq, fmt="parquet", partition_by=["o_orderstatus"])
    got_pq = read_table(spark, pq, fmt="parquet").select(*orders.columns)
    assert sorted(tuple(r) for r in got_pq.collect()) == want
    # partition pruning: reading one status touches only that directory
    import os
    assert any(d.startswith("o_orderstatus=") for d in os.listdir(pq))

    # orc is columnar/self-describing like parquet — no schema needed
    orc = str(tmp_path / "orders_orc")
    write_table(orders, orc, fmt="orc", partition_by=["o_orderstatus"])
    got_orc = read_table(spark, orc, fmt="orc").select(*orders.columns)
    assert sorted(tuple(r) for r in got_orc.collect()) == want

    for fmt in ("csv", "json", "xml"):
        p = str(tmp_path / f"orders_{fmt}")
        write_table(orders, p, fmt=fmt)
        got = read_table(spark, p, fmt=fmt, schema=orders.schema).select(*orders.columns)
        assert sorted(tuple(r) for r in got.collect()) == want

    # avro is gated on the external spark-avro module jar (not shipped in
    # this container, no network): the declared contract is Spark's own
    # deploy-the-module error, not a silent fallback
    import pytest
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException, match="(?i)avro"):
        write_table(orders, str(tmp_path / "orders_avro"), fmt="avro")


def test_cli_entry_point_matches_goldens(spark, capsys, tmp_path):
    """python -m gmr_spark — the startgmr.sh/igmr parity surface
    (SURVEY §3.1): trianglecount on the reference's own small.graph fixture
    prints its known golden (2 triangles), bfs levels match the library
    call, and --output writes a readable parquet result. main() reuses the
    test session via getOrCreate, so this is in-process."""
    from gmr_spark.__main__ import main

    path = "/root/reference/graph/small.graph"
    if not os.path.exists(path):
        pytest.skip("reference fixture absent")

    assert main(["trianglecount", path, "--show", "3"]) == 0
    out = capsys.readouterr().out
    assert "tri_cnt" in out and "\n2\n" in out and "1 rows" in out

    out_dir = str(tmp_path / "bfs_out")
    assert main(["bfs", path, "--source", "1", "--output", out_dir]) == 0
    written = {(r.id, r.level) for r in spark.read.parquet(out_dir).collect()}
    from gmr_spark.algorithms.sssp import bfs
    from gmr_spark.sources.graph_file import read_graph_file
    expected = {(r.id, r.level)
                for r in bfs(read_graph_file(spark, path), source=1).collect()}
    assert written == expected


def test_cli_samplesort_entry_point(spark, capsys, tmp_path):
    """Entry point 3 (SURVEY §3.3): samplesort over a numbers file — the
    output must be the globally sorted sequence."""
    from gmr_spark.__main__ import main

    src = tmp_path / "nums.txt"
    vals = [93, 4, -7, 58, 12, 0, 99, 4]
    src.write_text("\n".join(str(v) for v in vals) + "\n")

    out_dir = str(tmp_path / "sorted")
    assert main(["samplesort", str(src), "--partitions", "3",
                 "--output", out_dir, "--format", "csv"]) == 0
    got = [int(r.v) for r in
           spark.read.option("header", "true").csv(out_dir)
           .orderBy("v").collect()]
    assert sorted(got) == sorted(vals)

    capsys.readouterr()  # drop the --output run's status line
    assert main(["samplesort", str(src), "--show", "3"]) == 0
    out = capsys.readouterr().out
    assert out.splitlines()[2].strip() == "-7"  # smallest value first


def test_cli_samplesort_reads_reference_shards(spark, capsys, tmp_path):
    """The samplesort entry point must parse the reference's OWN sampledata
    shards (single-line whitespace-separated integers, one file per
    process) — pointed at the directory, the output is the globally sorted
    concatenation of all three."""
    ref = "/root/reference/sampledata"
    if not os.path.isdir(ref):
        pytest.skip("reference fixture absent")
    from gmr_spark.__main__ import main

    expected = sorted(
        int(tok)
        for name in os.listdir(ref)
        for tok in open(os.path.join(ref, name)).read().split()
    )
    out_dir = str(tmp_path / "sorted_ref")
    assert main(["samplesort", ref, "--partitions", "3",
                 "--output", out_dir, "--format", "csv"]) == 0
    got = sorted(int(r.v) for r in
                 spark.read.option("header", "true").csv(out_dir).collect())
    assert got == expected and len(got) > 100


def test_interleaved_sf_dirs_share_one_session(spark):
    """The round driver (and any real user) interleaves scale factors in one
    session; every per-sf memo (derived graphs in _GRAPH_MEMO, the dedup
    chain in _CKPT_MEMO) must key on sf_dir so results never bleed across
    scales. Run a memoized graph query, a memoized dedup query, and a plain
    relational query at sf0.001 → sf0.01 → sf0.001, checking EVERY run
    against its own scale factor's DuckDB oracle."""
    import duckdb

    from gmr_spark.queries import all_oracles, all_queries
    from tests.oracle_check import compare

    queries = all_queries()
    oracles = all_oracles()
    names = ("pagerank_geo", "dedup_minhash", "q1_pricing_summary")

    def check(sf_dir):
        con = duckdb.connect()
        try:
            for t in ("region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events", "documents",
                      "embeddings"):
                con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                            f"SELECT * FROM '{sf_dir}/{t}.parquet'")
            for n in names:
                compare(queries[n](spark, sf_dir), con, oracles[n])
        finally:
            con.close()

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01",
                   "/root/testdata/sf0.001"):
        check(sf_dir)


def test_default_driver_memory_fits_the_host(tmp_path, monkeypatch):
    """The default driver heap is half the process's memory limit in whole
    GiB, between 1g and 16g: a 15.7 GB host gets 7g, a 64 GB host 16g. The
    limit is the host's physical memory unless a cgroup limit is smaller."""
    import gmr_spark.session as S

    gib = 2**30
    assert S._driver_memory(16_874_930_176) == "7g"
    assert S._driver_memory(64 * gib) == "16g"
    assert S._driver_memory(32 * gib) == "16g"
    assert S._driver_memory(20 * gib) == "10g"
    assert S._driver_memory(1 * gib) == "1g"

    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    v2, v1 = tmp_path / "memory.max", tmp_path / "memory.limit_in_bytes"
    monkeypatch.setattr(S, "_CGROUP_MEMORY_LIMITS", (str(v2), str(v1)))
    assert S._memory_limit() == phys  # neither file: the host's memory
    v2.write_text("max\n")
    v1.write_text(f"{2**63 - 4096}\n")
    assert S._memory_limit() == phys  # no limit set in either version
    v1.write_text(f"{phys // 4}\n")
    assert S._memory_limit() == phys // 4  # a smaller cgroup limit wins
    v2.write_text(f"{phys // 8}\n")
    assert S._memory_limit() == phys // 8
