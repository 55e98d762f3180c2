"""End-to-end on the reference's real medium fixture (4elt.graph, 15,606
vertices / 91,756 directed adjacencies — graph/README.md).

Ground truth: BFS from vertex 1 reaches the whole mesh with eccentricity 69
(70 supersteps). This also documents that the reference's captured `result`
for this exact run (all distances ≤ 2 after 3 supersteps, SURVEY §5) is an
artifact of its premature-termination bug (igmr.cpp:147-149), not a golden.
"""

from __future__ import annotations

import os

import pytest

from gmr_spark.algorithms import bfs
from gmr_spark.sources.graph_file import read_graph_file

FOUR_ELT = "/root/reference/4elt.graph"


@pytest.mark.skipif(not os.path.exists(FOUR_ELT), reason="reference fixture absent")
def test_bfs_4elt_full_mesh(spark):
    g = read_graph_file(spark, FOUR_ELT)
    assert g.declared_counts == (15606, 91756)
    levels = bfs(g, source=1, max_iter=120)
    reached = levels.filter("level IS NOT NULL").count()
    assert reached == 15606  # connected mesh: everything reachable
    assert levels.agg({"level": "max"}).first()[0] == 69.0


def test_wheel13_fixture_matches_declared_edges():
    """The committed wheel13.graph file and the WHEEL13_EDGES constant (which
    generates the DuckDB oracle's VALUES list) must stay line-for-line
    identical, or the graph_file_bfs parity gate compares different graphs."""
    from gmr_spark.queries import WHEEL13_EDGES

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "gmr_spark", "resources", "wheel13.graph")
    with open(path) as f:
        lines = [ln.strip() for ln in f
                 if ln.strip() and not ln.strip().startswith("#")]
    assert int(lines[0]) == 13
    assert int(lines[1]) == len(WHEEL13_EDGES) == 25
    file_edges = [tuple(map(int, ln.split())) for ln in lines[2:]]
    assert file_edges == WHEEL13_EDGES


def test_wheel13_bfs_levels(spark):
    """Ground truth BFS levels on the fixture: 13 is unreachable (NULL)."""
    from gmr_spark.queries import _q_graph_file_bfs

    levels = {r["id"]: r["level"] for r in _q_graph_file_bfs(spark, "").collect()}
    assert len(levels) == 13
    assert levels[1] == 0.0 and levels[2] == 1.0 and levels[4] == 1.0
    assert levels[13] is None  # one-way tail: unreachable from 1


def test_graph_file_round_trip_wheel13(spark, tmp_path):
    """write_graph_file ∘ read_graph_file = identity on the wheel13 fixture
    (O1/O17 round-trip parity, round-4 verdict item 8), in both the
    single-file and the distributed directory shape."""
    import os

    from gmr_spark.sources.graph_file import read_graph_file, write_graph_file

    src = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                       "gmr_spark", "resources", "wheel13.graph")
    g = read_graph_file(spark, src)
    want_edges = sorted((r.src, r.dst) for r in g.edges.collect())
    want_vertices = sorted(r.id for r in g.vertices.collect())

    for mode, path in (
        (False, str(tmp_path / "wheel13_roundtrip.graph")),
        (True, str(tmp_path / "wheel13_roundtrip_dir")),
    ):
        write_graph_file(g, path, distributed=mode)
        g2 = read_graph_file(spark, path)
        assert sorted((r.src, r.dst) for r in g2.edges.collect()) == want_edges
        assert sorted(r.id for r in g2.vertices.collect()) == want_vertices
        assert g2.declared_counts == g.declared_counts


def test_write_graph_file_enforces_id_contract(spark, tmp_path):
    """round-5 ADVICE (medium): the text format carries no explicit vertex
    ids, so writing anything but exactly-1..N silently corrupts. A 0-based
    graph is normalized (+1 shift on write, both shapes); a gapped id space
    raises instead of corrupting."""
    from pyspark.sql import functions as F

    from gmr_spark.graph import PropertyGraph
    from gmr_spark.sources.graph_file import read_graph_file, write_graph_file

    # 0-based triangle 0-1-2 -> written 1-based; read-back is 1..3
    zero_based = PropertyGraph(
        vertices=spark.range(3).select(F.col("id")),
        edges=spark.createDataFrame(
            [(0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0)], "src long, dst long, weight double"),
    )
    for mode, path in (
        (False, str(tmp_path / "zb.graph")),
        (True, str(tmp_path / "zb_dir")),
    ):
        write_graph_file(zero_based, path, distributed=mode)
        g2 = read_graph_file(spark, path)
        assert sorted(r.id for r in g2.vertices.collect()) == [1, 2, 3]
        assert sorted((r.src, r.dst) for r in g2.edges.collect()) == [
            (1, 2), (2, 3), (3, 1)]

    # gapped id space (2000000+custkey-style offsets): must refuse loudly
    gapped = PropertyGraph(
        vertices=spark.createDataFrame([(1,), (2,), (100,)], "id long"),
        edges=spark.createDataFrame(
            [(1, 100, 1.0)], "src long, dst long, weight double"),
    )
    with pytest.raises(ValueError, match="vertex ids must be exactly"):
        write_graph_file(gapped, str(tmp_path / "gap.graph"))


def test_graph_file_round_trip_4elt(spark, tmp_path):
    """Distributed write ∘ read = identity at the 4elt mesh's size (15,606
    vertices / 91,756 adjacencies): a 15,300-vertex ring with chords at
    offsets 1..32 (91,800 adjacencies, 1-based ids), generated in place so
    the round trip runs without the reference fixture."""
    import sys

    from pyspark.sql import functions as F

    from gmr_spark.graph import PropertyGraph
    from gmr_spark.sources.graph_file import read_graph_file, write_graph_file

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))
    from scale_data import ring_chords

    n, offsets = 15_300, (1, 2, 4, 8, 16, 32)
    g = PropertyGraph(
        vertices=spark.range(1, n + 1),
        edges=ring_chords(spark, n, offsets=offsets, first_id=1).select(
            "src", "dst", F.lit(1.0).alias("weight")))
    path = str(tmp_path / "4elt_rt_dir")
    write_graph_file(g, path, distributed=True)
    g2 = read_graph_file(spark, path)
    assert g2.declared_counts == (n, n * len(offsets))
    assert g2.edges.count() == g.edges.count() == n * len(offsets)
    # exact edge-set equality without a driver collect of 92k rows
    assert g.edges.select("src", "dst").exceptAll(
        g2.edges.select("src", "dst")).count() == 0
