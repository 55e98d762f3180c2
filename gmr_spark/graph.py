"""PropertyGraph — the engine's core data abstraction.

Maps the reference's per-process CSR ``graph_t`` (partition.h:20-42) to a pair
of DataFrames:

    vertices(id BIGINT, value DOUBLE, active BOOLEAN)
    edges(src BIGINT, dst BIGINT, weight DOUBLE)

- ``fvwgts`` (the one mutable float per vertex, partition.h:39) -> ``value``
- ``status`` active/inactive flags (partition.h:41)            -> ``active``
- ``fadjwgt`` edge weights (partition.h:40)                    -> ``weight``
- ``adjloc`` owner routing table (partition.h:26)              -> Spark hash
  partitioning; no explicit owner column is needed because the shuffle *is*
  the routing.

Ids are 64-bit from day one (the reference's int32 ids, partition.h:23, cap
out at 2^31 vertices — unacceptable at 100 TB).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F


@dataclass
class PropertyGraph:
    vertices: DataFrame  # id BIGINT [, value DOUBLE, active BOOLEAN, ...]
    edges: DataFrame     # src BIGINT, dst BIGINT, weight DOUBLE
    # |vertices| / |edges| when the builder already paid the census
    # (sources/derive fuses both into the checkpoints' own jobs via
    # Observation) — lets consumers that need a global count (pagerank's N,
    # bench's derive attribution row) skip a count job. None on
    # lazily-built graphs; never computed here.
    n_vertices: int | None = None
    n_edges: int | None = None

    @staticmethod
    def from_edges(edges: DataFrame, num_partitions: int | None = None) -> "PropertyGraph":
        """Build a graph from an edge list; vertices = distinct endpoint ids.

        Pre-partitions edges by ``src`` so every superstep's message join
        (edges ⋈ vertices on src) reuses one co-partitioning instead of
        re-shuffling per iteration — the Spark analog of the reference
        precomputing ``adjloc`` once at load (partition.h:276-295).
        """
        edges = edges.select(
            F.col("src").cast("bigint").alias("src"),
            F.col("dst").cast("bigint").alias("dst"),
            F.col("weight").cast("double").alias("weight"),
        )
        if num_partitions:
            edges = edges.repartition(num_partitions, "src")
        vertices = (
            edges.select(F.col("src").alias("id"))
            .union(edges.select(F.col("dst").alias("id")))
            .distinct()
        )
        return PropertyGraph(vertices=vertices, edges=edges)

    def undirected(self) -> "PropertyGraph":
        """Symmetric closure: add the reverse of every edge.

        Dedups FULL (src, dst, weight) rows — matching the oracle's UNION
        closure. Deduping on (src, dst) alone would keep an arbitrary
        (nondeterministic) weight when parallel edges carry different
        weights.

        The closure is re-partitioned by ``src`` at the input's partition
        count: distinct()'s exchange hashes on all three columns at
        spark.sql.shuffle.partitions, which would otherwise both destroy
        the co-partitioning every superstep's message join reuses and
        override the |E|-proportional sizing picked at derivation
        (one-time cost here vs a per-superstep edge shuffle in the loop).

        The partition count is read via ``.rdd`` only when the edges plan is
        already a materialized LogicalRDD (the ``materialize=True`` path) —
        on a lazy plan that call would force physical planning and, under
        AQE, eagerly run upstream shuffle stages as a side effect of merely
        constructing the graph; lazy inputs fall back to the session's
        shuffle-partition setting."""
        rev = self.edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
        )
        from gmr_spark.plans.loop import is_checkpoint

        if is_checkpoint(self.edges):
            n_parts = self.edges.rdd.getNumPartitions()
        else:
            spark = self.edges.sparkSession
            try:
                n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
            except Exception:
                n_parts = spark.sparkContext.defaultParallelism
        return PropertyGraph(
            vertices=self.vertices,
            edges=(self.edges.unionByName(rev).distinct()
                   .repartition(n_parts, "src")),
        )

    def reverse(self) -> "PropertyGraph":
        """Transpose: every edge flipped (GraphX ``reverse``)."""
        return PropertyGraph(
            vertices=self.vertices,
            edges=self.edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
            ),
        )

    def map_vertices(self, **cols: F.Column) -> "PropertyGraph":
        """Column-expression transform of vertex attributes (GraphX
        ``mapVertices``) — stays inside whole-stage codegen."""
        v = self.vertices
        for name, expr in cols.items():
            v = v.withColumn(name, expr)
        return PropertyGraph(vertices=v, edges=self.edges)

    def subgraph(self, *, vpred: F.Column | None = None,
                 epred: F.Column | None = None) -> "PropertyGraph":
        """GraphX ``subgraph``: keep vertices satisfying ``vpred`` and edges
        satisfying ``epred`` whose BOTH endpoints survive. The endpoint
        check is two semi-joins — no edge data is widened, and both reuse
        the edges DF's src partitioning."""
        v = self.vertices.filter(vpred) if vpred is not None else self.vertices
        e = self.edges.filter(epred) if epred is not None else self.edges
        if vpred is not None:
            ids = v.select("id")
            e = (
                e.join(ids.withColumnRenamed("id", "src"), "src", "left_semi")
                .join(ids.withColumnRenamed("id", "dst"), "dst", "left_semi")
                .select("src", "dst", "weight")
            )
        return PropertyGraph(vertices=v, edges=e)

    def mask(self, other: "PropertyGraph") -> "PropertyGraph":
        """GraphX ``mask``: restrict this graph to the structure present in
        ``other`` (vertices/edges by key, attributes from ``self``)."""
        v = self.vertices.join(other.vertices.select("id"), "id", "left_semi")
        e = self.edges.join(other.edges.select("src", "dst"),
                            ["src", "dst"], "left_semi")
        return PropertyGraph(vertices=v, edges=e)

    def group_edges(self, agg: F.Column | None = None) -> "PropertyGraph":
        """GraphX ``groupEdges``: merge parallel edges (default: summed
        weight) — map-side combinable."""
        merged = self.edges.groupBy("src", "dst").agg(
            (agg if agg is not None else F.sum("weight")).alias("weight")
        )
        return PropertyGraph(vertices=self.vertices, edges=merged)

    def triplets(self) -> DataFrame:
        """GraphX ``triplets``: (src, src_attrs…, dst, dst_attrs…, weight).
        Two hash joins, both on the graph's existing partitioning keys."""
        sv = self.vertices.select(F.col("id").alias("src"),
                                  *[F.col(c).alias(f"src_{c}")
                                    for c in self.vertices.columns if c != "id"])
        dv = self.vertices.select(F.col("id").alias("dst"),
                                  *[F.col(c).alias(f"dst_{c}")
                                    for c in self.vertices.columns if c != "id"])
        return self.edges.join(sv, "src").join(dv, "dst")

    def outer_join_vertices(self, other: DataFrame) -> "PropertyGraph":
        """GraphX ``outerJoinVertices``: left-join extra vertex attributes
        keyed by ``id``."""
        return PropertyGraph(vertices=self.vertices.join(other, "id", "left"),
                             edges=self.edges)

    def aggregate_messages(self, *, to_dst: F.Column | None = None,
                           to_src: F.Column | None = None,
                           agg: F.Column, msg_name: str = "msg") -> DataFrame:
        """GraphX ``aggregateMessages`` — the primitive every Pregel
        superstep compiles to (SURVEY O6/O13). ``to_dst``/``to_src`` are
        column expressions over the triplet view (edge cols + ``src_*`` /
        ``dst_*`` vertex cols); ``agg`` reduces the ``msg`` column per
        receiving vertex. -> (id, agg)."""
        t = self.triplets()
        parts = []
        if to_dst is not None:
            parts.append(t.select(F.col("dst").alias("id"),
                                  to_dst.alias(msg_name)))
        if to_src is not None:
            parts.append(t.select(F.col("src").alias("id"),
                                  to_src.alias(msg_name)))
        if not parts:
            raise ValueError("at least one of to_dst/to_src is required")
        msgs = parts[0]
        for p in parts[1:]:
            msgs = msgs.unionByName(p)
        return msgs.groupBy("id").agg(agg.alias("agg"))

    def collect_neighbor_ids(self, *, direction: str = "out") -> DataFrame:
        """GraphX ``collectNeighborIds``: (id, neighbor_ids ARRAY<BIGINT>
        sorted ascending). Sorted for determinism; at scale prefer
        aggregate_messages — materialized adjacency lists are the
        TriangleCount-message antipattern (SURVEY §4.3)."""
        if direction == "out":
            pairs = self.edges.select(F.col("src").alias("id"),
                                      F.col("dst").alias("nb"))
        elif direction == "in":
            pairs = self.edges.select(F.col("dst").alias("id"),
                                      F.col("src").alias("nb"))
        else:
            raise ValueError("direction must be 'out' or 'in'")
        return (
            pairs.distinct().groupBy("id")
            .agg(F.sort_array(F.collect_list("nb")).alias("neighbor_ids"))
        )

    def num_vertices(self) -> int:
        return (self.n_vertices if self.n_vertices is not None
                else self.vertices.count())

    def num_edges(self) -> int:
        return (self.n_edges if self.n_edges is not None
                else self.edges.count())

    def out_degrees(self) -> DataFrame:
        """id, out_degree (vertices with no out-edges get 0)."""
        deg = self.edges.groupBy(F.col("src").alias("id")).agg(
            F.count("*").alias("out_degree")
        )
        return (
            self.vertices.select("id")
            .join(deg, "id", "left")
            .select("id", F.coalesce("out_degree", F.lit(0)).alias("out_degree"))
        )

    def in_degrees(self) -> DataFrame:
        deg = self.edges.groupBy(F.col("dst").alias("id")).agg(
            F.count("*").alias("in_degree")
        )
        return (
            self.vertices.select("id")
            .join(deg, "id", "left")
            .select("id", F.coalesce("in_degree", F.lit(0)).alias("in_degree"))
        )
