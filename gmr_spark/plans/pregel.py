"""Pregel superstep drivers — the Spark re-expression of the reference's
iteration engine (igmr.cpp:116-247 + gmr.h:222-334).

Two drivers share the loop runtime (``plans/loop.py``: checkpoints, the
loop conf, the size gate):

- :func:`run_dense` runs fixed-k programs in which every vertex is active
  in every superstep (PageRank, personalized PageRank, label propagation).
  A superstep is the reference's map / group / reduce / cover-mode write
  back as one join and one aggregation (two chained for LPA's mode): each
  vertex's previous value rides the message stream on a self-edge, so the
  state is read once.
- :func:`run_pregel` runs frontier programs to convergence (SSSP, BFS,
  landmarks, SCC colouring). One superstep maps to DataFrame ops:

  reference (MPI)                             this engine (Spark)
  ---------------------------------------     ----------------------------------
  census + active-only send                   frontier = vertices.filter("active")
    (partition.h:516-534, O5/O6)              msgs = edges ⋈ frontier on src
  MPI_Alltoallv exchange (igmr.cpp:202, O7)   shuffle (implicit in join/groupBy)
  sort + in-neighbor cache merge (O8/O9)      not materialized — the msgs DF is
    (gmr.h:128-167)                            the cache for this superstep
  user map (gmr.h:97, O10)                    program.messages() projection
  group + user reduce (gmr.h:300-313, O13)    msgs.groupBy(id).agg(...)
  vertex update accu/cover + threshold        program.update(): join back +
    (gmr.h:170-219, O14)                       coalesce / + ; |Δ|>1e-4 → active
  Allgather convergence test                  census of active rows riding the
    (igmr.cpp:139-152, O15)                    checkpoint job (one action)
  MPI_Barrier + tick metrics (O16/O20)        localCheckpoint + perf_counter

Iterative lineage control: the reference mutates arrays in place; Spark plans
grow per iteration, so the loops materialize every ``ci``-th superstep with
``localCheckpoint(eager=True)`` to truncate lineage (on a real cluster, swap
for ``checkpoint()`` against a reliable store via
``reliable_checkpoint_dir``). The drivers, not their callers, pick ``ci``:
``run_dense`` always uses 2; ``run_pregel`` uses 1 above the loop runtime's
``BIG_GRAPH_ROWS`` edges or when per-superstep metrics are collected, else 2
(SCALE.md, "Checkpoint cadence"). ``run_pregel`` reads a graph's edges in
place when they already are a checkpoint leaf, and snapshots them once
otherwise.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Protocol

from pyspark.sql import Column, DataFrame, functions as F

from gmr_spark.graph import PropertyGraph
from gmr_spark.plans import loop as runtime

# Above the loop runtime's BIG_GRAPH_ROWS the superstep joins are pinned
# to shuffled-hash, EXCEPT when the frontier is KNOWN (exact census, ci=1)
# to be small: then a hint-forced broadcast of the frontier is safe and the
# message join runs without any exchange — the frontier-size-adaptive
# strategy. Only exercised when the census is exact; at ci>1 the frontier
# can grow out-degree-fold between censuses and the hinted broadcast would
# have no size fallback. The cap is in CELLS (rows × state columns), not
# rows: program state width is unbounded (e.g. a multi-landmark program
# carries one column per landmark), and a row-count-only cap would let a
# wide-state frontier balloon past the driver's broadcast budget. 4M cells
# ≈ 32 MB of doubles + row overhead — two orders of magnitude under the
# 8 GiB broadcast limit, and ≈1.3M rows for the 3-column SSSP state (the
# class the G2 measurement locked in).
ADAPTIVE_BROADCAST_CELLS = 4_000_000
MAX_ITERATION = 120


class PregelProgram(Protocol):
    """The user-query surface — replaces the reference's ``GMR`` abstract class
    (initGraph/map/reduce/keyComp, gmr.h:92-123).

    CONTRACT — empty-frontier idempotence: below the size gate the driver
    tests convergence only every second superstep, so one superstep may run
    AFTER the frontier empties. A program must therefore be a no-op on an
    empty frontier: ``messages(empty, edges)`` produces no messages, and
    ``update(vertices, empty_agg)`` leaves every value unchanged and every
    ``active`` flag false. All shipped programs satisfy this: their update
    only changes values where a message arrived.
    """

    def init(self, vertices: DataFrame) -> DataFrame:
        """-> (id, value, active). Reference: initGraph, gmr.h:95."""
        ...

    def messages(self, frontier: DataFrame, edges: DataFrame) -> DataFrame:
        """-> (id, msg): messages grouped-to-be by destination ``id``.
        Reference: map + scatter, gmr.h:97 / partition.h:537-558."""
        ...

    def aggregate(self, msgs: DataFrame) -> DataFrame:
        """-> (id, agg). Reference: reduce, gmr.h:300-313."""
        ...

    def update(self, vertices: DataFrame, agg: DataFrame) -> DataFrame:
        """-> (id, value, active). Reference: updateGraph, gmr.h:170-219."""
        ...


@dataclass
class PregelResult:
    """``iterations`` counts supersteps RUN, which at a checkpoint interval
    of 2 can overshoot the convergence point by one no-op superstep
    (convergence is only observed at checkpoints). Values are exact either
    way — see the empty-frontier-idempotence contract on
    :class:`PregelProgram`."""

    vertices: DataFrame
    iterations: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


def run_pregel(
    graph: PropertyGraph,
    program: PregelProgram,
    *,
    max_iter: int = MAX_ITERATION,
    collect_metrics: bool = False,
) -> PregelResult:
    """Run ``program`` to convergence (no active vertices) or ``max_iter``.

    Cadence rule: the state is checkpointed every superstep (ci=1) when
    |E| exceeds the loop runtime's ``BIG_GRAPH_ROWS`` — which arms the
    exact-census adaptive frontier broadcast that wins at G2 class — and
    when ``collect_metrics`` asks for a census per superstep; otherwise
    every second superstep (ci=2), where job launches dominate and halving
    them wins (SCALE.md, "Checkpoint cadence").

    Leaf rule: edges that already are a checkpoint leaf
    (:func:`~gmr_spark.plans.loop.is_checkpoint`: derived
    ``materialize=True`` graphs, SCC's remainders) are read in place and
    left to their owner; other edges are snapshotted once per call and
    released on return. |E| comes from the snapshot's census; for a leaf,
    from ``graph.n_edges``, else from one count of the leaf.

    Scale notes (100 TB):
    - an edge snapshot runs under the session's AQE, before the loop conf
      applies, and a checkpoint materialized under AQE reports no
      partitioning: below the size gate the message join broadcasts the
      edge table, above it the join re-shuffles the edges every superstep.
    - per-superstep state is localCheckpointed (flat O(1) logical plan per
      superstep across the reference's 120-iteration cap, igmr.cpp:116).
    - ONE job per checkpoint: the convergence census (the reference's
      Allgather, igmr.cpp:139-152) rides the checkpoint's materializing job
      as an ``Observation`` metric instead of a second count() action.
    - each checkpoint's blocks are released as soon as the next one is
      materialized, and every block the call materialized except the
      returned state is released on every exit
      (:class:`~gmr_spark.plans.loop.LoopScope`).
    - at ci=2 the odd supersteps stay lazy, trading recompute inside the
      next checkpoint job for one fewer job launch + block write;
      convergence is then tested every second superstep, and a
      post-convergence superstep is a no-op (empty frontier -> no messages
      -> values unchanged), so results are identical. This driver reads
      each state twice (the message join and the update join), so a
      deferred superstep's subtree appears twice in the next one: ci=2 was
      ~1.8x faster than ci=1 on a 600k-vertex fixture (exchange reuse
      dedupes the doubled subtree), but ci=3 was ~5x SLOWER (the
      duplication nests — 4 evaluations of the oldest deferred step — and
      reuse stops covering it).
    """
    # edges: one flat LogicalRDD gives every superstep an O(1)-size plan —
    # persist() instead would drag the whole derivation subtree into each
    # superstep's analysis (measured 10x slowdown on small graphs)
    with runtime.LoopScope(graph.edges.sparkSession) as loop:
        if runtime.is_checkpoint(graph.edges):
            edges, n_edges = graph.edges, graph.n_edges
        else:
            edges, e_stats = loop.checkpoint(
                (graph.edges, {"n": F.count(F.lit(1))}))
            n_edges = e_stats["n"]
        # per-superstep state: localCheckpoint — the state subtree feeds both
        # the message path and the update join, so anything short of a full
        # lineage cut makes the logical plan DOUBLE every superstep
        # (exponential Catalyst analysis; measured hang by superstep ~8 on a
        # 6k-vertex graph).
        init_state = program.init(graph.vertices)
        census = {"n": F.count(F.lit(1))}
        if "active" in init_state.columns:
            census["n_active"] = F.sum(F.col("active").cast("long"))
        vertices, v_stats = loop.checkpoint((init_state, census))
        if n_edges is None:
            n_edges = edges.count()
        # the superstep joins are pinned (runtime.pin) on the SMALL sides we
        # control: the frontier for the O(E) message join, gated on |E|, and
        # agg for the O(V) update join, gated on |V|. Below the gate plans
        # are left untouched — Catalyst's measured-good fixture choices
        # (broadcast tiny frontiers/aggs) stand.
        big_edges = n_edges > runtime.BIG_GRAPH_ROWS
        interval = 1 if big_edges or collect_metrics else 2
        # exact frontier size for the adaptive join strategy: with ci=1 the
        # checkpoint census counts the NEXT superstep's frontier exactly, so
        # seed it from the init census and keep it current from each census
        # below. Below the gate the strategy stays off (None).
        last_n_active = v_stats.get("n_active") if big_edges else None
        max_broadcast_rows = ADAPTIVE_BROADCAST_CELLS // max(1, len(vertices.columns))
        loop.rows(n_edges)

        state = vertices  # the last materialized state
        metrics: list[dict] = []
        iterations = 0
        converged = False
        for i in range(max_iter):
            t0 = time.perf_counter()
            frontier = vertices.filter(F.col("active"))
            if last_n_active is not None and last_n_active <= max_broadcast_rows:
                # small-frontier supersteps (the long head and tail of a
                # BFS/SSSP on a high-diameter graph): broadcast the
                # frontier — the O(E) edge side streams in place with NO
                # exchange and no per-partition hash build of the state
                # side. Safe only because the census is exact (ci=1): the
                # hinted broadcast has no size fallback.
                frontier = frontier.hint("broadcast")
            else:
                # above the gate the frontier is the per-partition build
                # side of a ShuffledHashJoin and the pre-partitioned edge
                # side streams without an exchange
                frontier = runtime.pin(frontier, n_edges)
            msgs = program.messages(frontier, edges)
            agg = runtime.pin(program.aggregate(msgs), v_stats["n"])
            new_vertices = program.update(vertices, agg)

            iterations = i + 1
            at_checkpoint = iterations % interval == 0 or iterations == max_iter
            n_active: int | None = None
            if at_checkpoint:
                # the convergence census (the reference's Allgather payload,
                # igmr.cpp:139-152) rides the checkpoint job
                new_vertices, stats = loop.checkpoint(
                    (new_vertices, {"n_active": F.sum(F.col("active").cast("long"))}))
                loop.release(state)
                state = new_vertices
                n_active = stats["n_active"]
                if big_edges:
                    last_n_active = n_active  # exact next-frontier size
                converged = n_active == 0
            vertices = new_vertices
            if collect_metrics:
                metrics.append({"superstep": iterations,
                                "wall_s": time.perf_counter() - t0,
                                "n_active": n_active})
            if converged:
                break
        # the loop only exits at a checkpointed superstep, so the result is
        # the last materialized state
        loop.keep(state)
    return PregelResult(vertices=vertices, iterations=iterations,
                        converged=converged, metrics=metrics)


class DenseProgram(Protocol):
    """A fixed-k program in which every vertex sends along every out-edge in
    every superstep. The previous value reaches the reducer as ``own`` on
    the vertex's self-edge, so the write back is a column expression, with
    no join (the reference's cover mode, gmr.h:170-219)."""

    def init(self, vertices: DataFrame) -> DataFrame:
        """-> (id, value)."""
        ...

    def message(self, value: Column, pay: Column) -> Column:
        """The message a real edge with payload ``pay`` carries from a
        source holding ``value``."""
        ...

    def fold(self, msgs: DataFrame) -> DataFrame:
        """(id, msg, own) -> (id, agg, own). ``msg`` is null on the
        self-edge row and ``own`` on every other row."""
        ...

    def update(self) -> Column:
        """The new value, a column expression over (id, agg, own)."""
        ...


def dense_table(vertices: DataFrame, edges: DataFrame) -> DataFrame:
    """(src, dst, pay) edges plus one self-edge per vertex, marked by a null
    ``pay``, hash-partitioned by ``src`` at the session's shuffle partition
    count — the count every superstep's aggregation also uses."""
    selfs = vertices.select(F.col("id").alias("src"), F.col("id").alias("dst"),
                            F.lit(None).alias("pay"))
    return edges.select("src", "dst", "pay").unionByName(selfs).repartition("src")


def dense_superstep(table: DataFrame, state: DataFrame,
                    program: DenseProgram) -> DataFrame:
    """One superstep: ``table`` ⋈ ``state`` on src, one aggregation by dst,
    then the update. -> (id, value), hash-partitioned by id."""
    # both sides are hash-partitioned on the key: no exchange, no broadcast
    s = state.select(F.col("id").alias("sid"), "value").hint("shuffle_hash")
    self_edge = F.col("pay").isNull()
    msgs = table.join(s, F.col("src") == F.col("sid")).select(
        F.col("dst").alias("id"),
        F.when(~self_edge, program.message(F.col("value"), F.col("pay"))).alias("msg"),
        F.when(self_edge, F.col("value")).alias("own"))
    return program.fold(msgs).select("id", program.update().alias("value"))


def run_dense(graph: PropertyGraph, program: DenseProgram, *,
              k: int) -> DataFrame:
    """Run ``program`` for ``k`` supersteps over ``graph.edges`` (src, dst,
    pay: a non-null payload). -> (id, value).

    The self-edge table and the initial state are materialized once per
    call, hash-partitioned at the shuffle partition count the small-loop
    conf picked, with AQE off at every size
    (:meth:`~gmr_spark.plans.loop.LoopScope.keep_partitioning`), so no
    superstep re-shuffles the table. The state is checkpointed every second
    superstep (and after the last): each superstep reads its state once,
    so the deferred one is evaluated once inside the next checkpoint's
    job, not duplicated. A dense frontier arms no broadcast, so a
    per-superstep checkpoint only adds jobs (SCALE.md, "Checkpoint
    cadence"). The caller hints every join it adds to the graph's lineage
    (``pin``)."""
    spark = graph.edges.sparkSession
    n_edges = graph.n_edges if graph.n_edges is not None else graph.edges.count()
    with runtime.LoopScope(spark) as loop:
        loop.rows(n_edges)
        loop.keep_partitioning()
        table, state = loop.checkpoint(
            dense_table(graph.vertices, graph.edges),
            program.init(graph.vertices).repartition("id"))
        vertices = state
        for i in range(1, k + 1):
            vertices = dense_superstep(table, vertices, program)
            if i % 2 == 0 or i == k:
                vertices = loop.checkpoint(vertices)
                loop.release(state)
                state = vertices
        loop.keep(state)
    return state
