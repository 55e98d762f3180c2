"""Pregel superstep driver — the Spark re-expression of the reference's
iteration engine (igmr.cpp:116-247 + gmr.h:222-334).

One superstep of the reference maps to DataFrame ops:

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
  Allgather convergence test                  driver-side count of active rows
    (igmr.cpp:139-152, O15)                    (the one action per superstep)
  MPI_Barrier + tick metrics (O16/O20)        localCheckpoint + perf_counter

Iterative lineage control: the reference mutates arrays in place; Spark plans
grow per iteration, so each superstep ends with ``localCheckpoint(eager=True)``
to truncate lineage (on a real cluster, swap for ``checkpoint()`` against a
reliable store via ``reliable_checkpoint_dir``). This is the one genuinely
engine-y piece of code Catalyst cannot provide.
"""

from __future__ import annotations

import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Protocol

from pyspark.sql import DataFrame, Observation, functions as F

from gmr_spark.graph import PropertyGraph

# reference constants: gmr.h:29 (threshold), gmr.h:31-34 / igmr.cpp:116 (caps)
DEFAULT_THRESHOLD = 1e-4

# above this many edge/vertex rows the superstep joins are pinned to
# shuffled-hash (never broadcast): ~40 in-memory bytes/row puts 1.5M rows
# past the 64 MB autoBroadcastJoinThreshold with margin. See run_pregel.
BIG_GRAPH_ROWS = 1_500_000
# ... EXCEPT when the frontier is KNOWN (exact census, ci=1) to be small:
# then a hint-forced broadcast of the frontier is safe and the message join
# runs without any exchange — the frontier-size-adaptive strategy. Only
# exercised when the census is exact; at ci>1 the frontier can grow
# out-degree-fold between censuses and the hinted broadcast would have no
# size fallback. The cap is in CELLS
# (rows × state columns), not rows: program state width is unbounded (e.g.
# a multi-landmark program carries one column per landmark), and a
# row-count-only cap would let a wide-state frontier balloon past the
# driver's broadcast budget. 4M cells ≈ 32 MB of doubles + row overhead —
# two orders of magnitude under the 8 GiB broadcast limit, and ≈1.3M rows
# for the 3-column SSSP state (the class the G2 measurement locked in).
ADAPTIVE_BROADCAST_CELLS = 4_000_000
# Below BIG_GRAPH_ROWS the per-superstep cost is dominated by task-launch
# and AQE query-stage scheduling, not by data: fixed-k PageRank on the two
# heaviest sf0.1 bench graphs (1.2M edges, 600k vertices) measured
# 11.7-13.9 s under the session defaults (AQE on, 32 shuffle partitions)
# vs 6.1-9.6 s with AQE off + fewer shuffle partitions (min-of-2 per
# cell). So for small graphs the loop statically coalesces its shuffles to
# ~|E|/75k partitions — never above the session setting, which is cluster
# sizing the engine must respect — and turns per-stage adaptive planning
# off for the loop's duration (LoopScope.rows). The 75k divisor is the
# best cell of a swept band on the two 1.2M-edge graphs (|E|/150k →
# 12.5/9.6 s, /75k → 8.3/6.7, /40k → 8.1/8.3, AQE-off-only → 9.0/10.0);
# everything in the 8-32-partition band sits within host noise, so the
# constant is a centroid, not a cliff. Big graphs are untouched: AQE's skew-join splitting and runtime coalescing
# earn their scheduling overhead when a superstep moves O(100M) messages,
# and the G2 SCALE.md rows were measured with AQE on. This is the static
# analog of AQE's coalescing: the engine knows |E| exactly (counted on
# just-materialized blocks), so it can size once instead of paying
# per-stage re-planning ~3x per superstep.
LOOP_EDGES_PER_SHUFFLE_PARTITION = 75_000
MAX_ITERATION = 120


class PregelProgram(Protocol):
    """The user-query surface — replaces the reference's ``GMR`` abstract class
    (initGraph/map/reduce/keyComp, gmr.h:92-123).

    CONTRACT — empty-frontier idempotence: with ``checkpoint_interval=k > 1``
    the driver tests convergence only every k-th superstep, so up to k-1
    supersteps may run AFTER the frontier empties. A program must therefore
    be a no-op on an empty frontier: ``messages(empty, edges)`` produces no
    messages, and ``update(vertices, empty_agg)`` leaves every value
    unchanged and every ``active`` flag false. All shipped programs satisfy
    this (their update only changes values where a message arrived); a
    program that violates it (e.g. unconditional decay applied in update)
    must be run with ``checkpoint_interval=1``.
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
    """``iterations`` counts supersteps RUN, which with
    ``checkpoint_interval=k`` can overshoot the convergence point by up to
    k-1 no-op supersteps (convergence is only observed at checkpoints).
    Values are exact either way — see the empty-frontier-idempotence
    contract on :class:`PregelProgram`."""

    vertices: DataFrame
    iterations: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)


def _drop_checkpoint_blocks(df: DataFrame) -> None:
    """Unpersist the block store behind a localCheckpointed DataFrame.

    ContextCleaner reclaims dead checkpoint RDDs asynchronously; across a
    many-superstep loop the backlog of dead blocks measurably slows later
    jobs (3-5x observed), so the loop drops each superstep's
    blocks the moment its successor is materialized. Callers must never
    drop a state still referenced: a localCheckpointed RDD has no lineage
    to rebuild from.

    Reaches JVM internals (``queryExecution().analyzed().rdd()``); on a
    PySpark upgrade that breaks the API the fallback is a no-op that
    silently reinstates the retention pathology this exists to fix (a
    50 GB heap at 110M edges, algorithms/mst.py), so it WARNS once per
    process instead of passing silently.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        # non-checkpointed frames (e.g. an initial empty LocalRelation
        # threaded through a loop's state variable) are a legitimate no-op,
        # not an API failure — only LogicalRDD leaves hold persisted blocks
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return
        plan.rdd().unpersist(False)
    except Exception:
        _warn_internal_api_fallback("_drop_checkpoint_blocks")


def reset_plan_stats(df: DataFrame) -> DataFrame:
    """Re-leaf a just-``localCheckpoint``-ed DataFrame over the SAME
    persisted blocks, discarding the origin plan's propagated statistics.

    Why this exists: Spark 4's ``Dataset.localCheckpoint`` propagates the
    origin plan's *estimated* stats onto the new ``LogicalRDD`` leaf
    (``LogicalRDD.fromDataset`` → ``rewriteStatsAndConstraints``), and the
    size-only estimator models a join as the PRODUCT of its children's
    ``sizeInBytes``. An iterative loop whose step SELF-joins the previous
    checkpoint therefore squares the BigInt per iteration — digit count
    doubles, and past ~15 iterations the driver disappears into
    million-digit ``BigInteger.multiply`` calls inside the next
    checkpoint's stats rewrite (measured: the Borůvka pointer-jump
    fixpoint at G2 size pinned one driver thread for 20+ minutes in
    Toom-Cook multiplication while zero tasks ran). Small graphs are not
    exempt: the growth follows the iteration count, not the row count —
    without re-leafing, the 25-vertex nation_mesh MST's estimates passed
    6,000 digits by its 12th checkpoint and 3 million by its 22nd.

    The reset is zero-copy and JVM-only: the analyzed plan of a
    checkpointed frame IS a ``LogicalRDD`` whose ``rdd`` field holds the
    persisted ``InternalRow`` blocks; ``internalCreateDataFrame`` wraps
    that same RDD in a fresh leaf whose stats fall back to
    ``spark.sql.defaultSizeInBytes``. Falls back to the input unchanged if
    the internal API is unavailable (cost: driver CPU, not correctness) —
    WARNING once per process, because a silent fallback would reinstate
    the 20-minute BigInteger stall at the next G2-class run with no signal;
    ``tests/test_plans.py`` asserts the re-leafed
    plan actually IS a fresh LogicalRDD on this Spark version.

    CAVEAT (partitioning): ``localCheckpoint`` preserves the origin plan's
    ``outputPartitioning``/``ordering``; the re-leafed ``LogicalRDD`` built
    here does NOT — a join downstream of a re-leafed frame re-shuffles a
    side the checkpoint had co-located. Keep this helper off any path that
    relies on checkpoint-preserved partitioning (the current callers'
    re-leafed frames are the |V|-row side of hinted joins — broadcast, or
    shuffle_hash, which shuffles both sides by key regardless).
    """
    try:
        jdf = df._jdf
        plan = jdf.queryExecution().analyzed()
        jrdd = plan.rdd()  # the persisted block-backed RDD[InternalRow]
        jspark = df.sparkSession._jsparkSession
        new_jdf = jspark.internalCreateDataFrame(jrdd, plan.schema(), False)
        return DataFrame(new_jdf, df.sparkSession)
    except Exception:
        _warn_internal_api_fallback("reset_plan_stats")
        return df


# one warning per (process, helper): these fire inside per-superstep loops,
# so unbounded warnings would drown the log exactly when they matter most
_WARNED_FALLBACKS: set[str] = set()


def _warn_internal_api_fallback(helper: str) -> None:
    if helper in _WARNED_FALLBACKS:
        return
    _WARNED_FALLBACKS.add(helper)
    import warnings

    warnings.warn(
        f"gmr_spark.plans.pregel.{helper}: private Spark JVM API unavailable "
        "on this PySpark version; falling back to a no-op. Iterative loops "
        "on big graphs lose checkpoint-block release / stats re-leafing — "
        "expect retained-block memory growth and driver-side BigInteger "
        "stats stalls at 100M-edge scale (see the helper docstrings).",
        RuntimeWarning,
        stacklevel=3,
    )


# only one SparkContext can be live per process, so one lock covers every
# caller; held for the duration of each eager checkpoint call
_CHECKPOINT_LOCK = threading.Lock()
# open LoopScopes, innermost last (the engine's loops are driver-sequential)
_OPEN_SCOPES: list["LoopScope"] = []


def _persistent_rdd_ids(sc) -> set[int]:
    """Ids of every persisted RDD: one driver-side py4j map read,
    microseconds against a checkpoint job. The JVM map is a strong copy of
    the persisted-RDD table, so its proxies are detached at once: left to
    Python's cyclic GC, the copy would pin every persisted RDD against the
    ContextCleaner."""
    jmap = sc._jsc.getPersistentRDDs()
    keys = jmap.keySet()
    try:
        return {int(i) for i in keys.toArray()}
    finally:
        for proxy in (keys, jmap):
            sc._gateway.detach(proxy)


def _checkpoint_eager(frames: list[DataFrame]) -> list[DataFrame]:
    """``localCheckpoint(eager=True)`` of every frame; two or more frames
    have their materializing jobs submitted CONCURRENTLY (actions are only
    sequential because the driver calls them sequentially, and each small
    job leaves cores idle that the next one back-fills). The frames must
    not depend on each other.

    A failure inside a materializing job happens before any caller holds
    the result, so the call snapshots the persistent-RDD ids first and, on
    failure, unpersists every id added since — the jobs that succeeded
    included — then re-raises. That diff attributes every id persisted
    during the call to this call, so no other driver thread may persist
    RDDs meanwhile (unpersisting a live localCheckpoint is unrecoverable:
    it has no lineage). Concurrent entry from another thread raises
    RuntimeError up front; a raw ``persist`` on another thread cannot be
    detected. If the private JVM API is unavailable the checkpoints still
    run, without the failure-path release (WARNED once per process)."""
    if not _CHECKPOINT_LOCK.acquire(blocking=False):
        raise RuntimeError(
            "LoopScope.checkpoint: concurrent entry from another driver "
            "thread — the failure-path RDD-id diff would attribute that "
            "thread's checkpoints to this call. Run engine loops on one "
            "driver thread.")
    try:
        sc = frames[0].sparkSession.sparkContext
        try:
            before = _persistent_rdd_ids(sc)
        except Exception:
            _warn_internal_api_fallback("LoopScope.checkpoint")
            before = None
        try:
            if len(frames) == 1:
                return [frames[0].localCheckpoint(eager=True)]
            # leaving the pool waits out every job, so a one-sided failure
            # still lets the surviving job land inside the snapshot window
            with ThreadPoolExecutor(max_workers=len(frames)) as pool:
                futures = [pool.submit(df.localCheckpoint, True)
                           for df in frames]
                return [f.result() for f in futures]
        except BaseException:
            if before is not None:
                try:
                    jmap = sc._jsc.getPersistentRDDs()
                    for rdd_id in _persistent_rdd_ids(sc) - before:
                        jmap.get(rdd_id).unpersist(False)
                    sc._gateway.detach(jmap)
                except Exception:
                    _warn_internal_api_fallback("LoopScope.checkpoint")
            raise
    finally:
        _CHECKPOINT_LOCK.release()


class LoopScope:
    """The lifecycle of one iterative loop: its checkpoints and its conf.

    ``with LoopScope(spark) as loop:`` — the loop materializes state with
    :meth:`checkpoint`, drops superseded state with :meth:`release`, marks
    output with :meth:`keep`, and declares its size with :meth:`rows`.

    OWNERSHIP RULE: every frame ``checkpoint`` materializes is owned by the
    scope until the loop releases it or keeps it. On a clean exit the scope
    releases every frame it still owns and hands the kept ones to the
    enclosing scope, if one is open (a nested loop's output becomes the
    outer loop's state); with no enclosing scope they become the caller's.
    On an exception it releases everything it owns, kept frames included,
    and restores the conf, so no exit path strands blocks on the async
    ContextCleaner or leaves the session changed. A loop must never
    release a frame it still reads: a localCheckpoint has no lineage.
    """

    def __init__(self, spark):
        self.spark = spark
        self._held: list[DataFrame] = []
        self._outputs: list[DataFrame] = []
        self._saved_conf: dict[str, str] = {}

    def __enter__(self) -> "LoopScope":
        _OPEN_SCOPES.append(self)
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        _OPEN_SCOPES.remove(self)
        for df in self._held + self._outputs if exc_type else self._held:
            _drop_checkpoint_blocks(df)
        if exc_type is None and _OPEN_SCOPES:
            _OPEN_SCOPES[-1]._held.extend(self._outputs)
        for key, val in self._saved_conf.items():
            self.spark.conf.set(key, val)

    def rows(self, n_rows: int | None) -> None:
        """Apply the small-loop conf for a loop over ``n_rows`` rows (|E|
        for the graph loops) until the scope exits: below BIG_GRAPH_ROWS,
        shuffle partitions are coalesced to ~n_rows/75k (never above the
        session setting) and per-stage adaptive planning is off (see
        LOOP_EDGES_PER_SHUFFLE_PARTITION for the measurements). A big or
        unknown (None) size leaves the session conf alone. Called once the
        size is known, usually from the census of the loop's first
        checkpoint, so set-up jobs run under the session conf."""
        if n_rows is None or n_rows > BIG_GRAPH_ROWS:
            return
        target = max(4, -(-n_rows // LOOP_EDGES_PER_SHUFFLE_PARTITION))
        try:
            configured = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        except Exception:
            configured = self.spark.sparkContext.defaultParallelism
        if target < configured:
            self._set_conf("spark.sql.shuffle.partitions", str(target),
                           str(configured))
        self._set_conf("spark.sql.adaptive.enabled", "false",
                       self.spark.conf.get("spark.sql.adaptive.enabled", "true"))

    def _set_conf(self, key: str, value: str, saved: str) -> None:
        self._saved_conf.setdefault(key, saved)
        self.spark.conf.set(key, value)

    def checkpoint(self, *frames, releaf: bool = False):
        """Eagerly checkpoint 1..n independent frames (concurrent jobs for
        n > 1, see :func:`_checkpoint_eager`) and own the results. A frame
        given as ``(df, {name: aggregate Column})`` gets its census ridden
        on the checkpoint's job as an Observation, and comes back as
        ``(checkpoint, {name: value})`` with null aggregates read as 0.
        ``releaf`` re-leafs every result over its own blocks
        (:func:`reset_plan_stats`). One frame returns its result alone,
        several a tuple."""
        plans, observations = [], []
        for frame in frames:
            df, census = frame if isinstance(frame, tuple) else (frame, None)
            obs = None
            if census:
                obs = Observation()
                df = df.observe(obs, *[c.alias(k) for k, c in census.items()])
            plans.append(df)
            observations.append(obs)
        done = _checkpoint_eager(plans)
        if releaf:
            done = [reset_plan_stats(df) for df in done]
        self._held.extend(done)
        out = [
            (df, {k: 0 if v is None else v
                  for k, v in (obs.get.items() if obs else ())})
            if isinstance(frame, tuple) else df
            for frame, df, obs in zip(frames, done, observations)
        ]
        return out[0] if len(out) == 1 else tuple(out)

    def release(self, *frames: DataFrame) -> None:
        """Drop the blocks of superseded state now; every open scope stops
        owning it."""
        for df in frames:
            _drop_checkpoint_blocks(df)
            for scope in _OPEN_SCOPES:
                scope._held = [o for o in scope._held if o is not df]

    def keep(self, *frames: DataFrame) -> None:
        """Mark owned frames as output: a clean exit leaves their blocks."""
        for df in frames:
            if any(o is df for o in self._held):
                self._held = [o for o in self._held if o is not df]
                self._outputs.append(df)


def run_pregel(
    graph: PropertyGraph,
    program: PregelProgram,
    *,
    max_iter: int = MAX_ITERATION,
    early_stop: bool = True,
    collect_metrics: bool = False,
    checkpoint_interval: int | None = 2,
    edges_checkpointed: bool = False,
    n_edges: int | None = None,
) -> PregelResult:
    """Run ``program`` to convergence (no active vertices) or ``max_iter``.

    ``checkpoint_interval=None`` auto-picks the cadence from the edge count
    this function already takes on just-materialized checkpoint blocks
    (metadata-cheap): ci=1 above ``BIG_GRAPH_ROWS`` — arming the exact-census
    adaptive frontier broadcast that wins at G2 class (SCALE.md cadence
    sweep) — else ci=2, where job-launch overhead dominates and halving the
    job count wins. Callers with declared sizes need no extra scan.

    Scale notes (100 TB):
    - edges are hash-partitioned by ``src`` once and materialized once; the
      checkpointed LogicalRDD keeps its physical partitioning, so the
      per-superstep message join does not re-shuffle the edge side (small
      edge tables go broadcast instead, AQE's pick).
    - per-superstep state is localCheckpointed (flat O(1) logical plan per
      superstep across the reference's 120-iteration cap, igmr.cpp:116).
    - ONE job per superstep: the convergence census (the reference's
      Allgather, igmr.cpp:139-152) rides the checkpoint's materializing job
      as an ``Observation`` metric instead of a second count() action.
    - each superstep's checkpoint blocks are released as soon as the next
      superstep is materialized, and every block the call materialized
      except the returned state is released on every exit (:class:`LoopScope`).
    - ``checkpoint_interval=k`` materializes every k-th superstep only:
      intermediate supersteps stay lazy, trading recompute inside the next
      checkpoint job for k-1 fewer job launches + block writes. Convergence
      is then tested every k steps; extra post-convergence supersteps are
      no-ops (empty frontier -> no messages -> values unchanged), so results
      are identical. Measured on the 600k-vertex PageRank fixture: k=2 is
      ~1.8x faster than k=1 (exchange reuse dedupes the doubled state
      subtree, so one job runs ~2 supersteps of real work at half the
      launch+write overhead), but k=3 is ~5x SLOWER (the duplication nests
      — 4 evaluations of the oldest deferred step — and reuse stops
      covering it). Keep k=2.
      G2-scale crossover (4.8M V / 110M E full run, SCALE.md): the k=2
      advantage flattens and slightly inverts — k=1 171.8 s, k=2 183.9 s,
      k=3 200.6 s for PageRank k=10. When per-superstep work is O(100M)
      messages, saved job launches are noise and deferred lineage
      truncation costs ~7-16%. At cluster scale, measure the cadence at the
      target graph size rather than extrapolating from a small fixture.
    """
    # edges: materialized ONCE into a flat LogicalRDD. localCheckpoint keeps
    # the physical outputPartitioning (so a pre-repartitioned edge table
    # still co-locates with the message join) while giving every superstep an
    # O(1)-size plan — persist() instead would drag the whole derivation
    # subtree into each superstep's analysis (measured 10x slowdown on small
    # graphs). ``edges_checkpointed=True`` is the phase-loop contract (the
    # SCC peel): ``graph.edges`` is ALREADY an eager localCheckpoint the
    # caller owns, so no O(|E|) snapshot is copied per call and the caller's
    # blocks are left alone. The set-up censuses ride the two checkpoint
    # jobs as Observations; a caller that pre-checkpointed the edges passes
    # the edge census it already paid for via ``n_edges``, and only a
    # caller with neither pays a count job on its materialized blocks.
    with LoopScope(graph.edges.sparkSession) as loop:
        if edges_checkpointed:
            edges = graph.edges
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
        # Catalyst's size estimate for a checkpointed LogicalRDD is inherited
        # from the ORIGIN plan, and a generator-derived origin (spark.range →
        # explode) undercounts by |fanout|: at G2 scale (4.8M V / 110M E) the
        # static planner estimated the edge table under the 64 MB broadcast
        # threshold and tried to build a 5+ GB broadcast hash relation (driver
        # OOM). The engine KNOWS edges/vertices are the O(E)/O(V) relations,
        # so when their counted cardinality can't possibly fit a broadcast,
        # pin the superstep joins to shuffled-hash via hints on the SMALL
        # sides we control (frontier for the message join, agg for the update
        # join). Below the threshold, plans are left untouched — Catalyst's
        # measured-good fixture choices (broadcast tiny frontiers/aggs)
        # stand. (BIG_GRAPH_ROWS is module-level so tests can force this
        # branch on fixture graphs.)
        big_edges = n_edges > BIG_GRAPH_ROWS
        if checkpoint_interval is None:
            checkpoint_interval = 1 if big_edges else 2
        big_vertices = v_stats["n"] > BIG_GRAPH_ROWS
        # exact frontier size for the adaptive join strategy: with ci=1 the
        # checkpoint census counts the NEXT superstep's frontier exactly, so
        # seed it from the init census and keep it current from each census
        # below. At ci>1 it goes stale (None) between checkpoints and the
        # gate stays closed.
        last_n_active: int | None = None
        if (big_edges and early_stop and checkpoint_interval == 1
                and "n_active" in v_stats):
            last_n_active = v_stats["n_active"]
        max_broadcast_rows = ADAPTIVE_BROADCAST_CELLS // max(1, len(vertices.columns))
        loop.rows(n_edges)

        state = vertices  # the last materialized state
        metrics: list[dict] = []
        iterations = 0
        converged = False
        for i in range(max_iter):
            t0 = time.perf_counter()
            frontier = vertices.filter(F.col("active")) if early_stop else vertices
            if big_edges:
                if last_n_active is not None and last_n_active <= max_broadcast_rows:
                    # small-frontier supersteps (the long head and tail of a
                    # BFS/SSSP on a high-diameter graph): broadcast the
                    # frontier — the O(E) edge side streams in place with NO
                    # exchange and no per-partition hash build of the state
                    # side. Safe only because the census is exact (ci=1): the
                    # hinted broadcast has no size fallback.
                    frontier = frontier.hint("broadcast")
                else:
                    # forbid broadcasting either side of the O(E) message
                    # join: the hinted (frontier) side becomes the
                    # per-partition build side of a ShuffledHashJoin —
                    # O(V)/n_partitions rows per hash table — and the
                    # pre-partitioned edge side streams without an exchange.
                    frontier = frontier.hint("shuffle_hash")
            msgs = program.messages(frontier, edges)
            agg = program.aggregate(msgs)
            if big_vertices:
                # same for the O(V) update join: agg (≤ frontier-reachable
                # ids) is the build side; the state side streams.
                agg = agg.hint("shuffle_hash")
            new_vertices = program.update(vertices, agg)

            iterations = i + 1
            at_checkpoint = (iterations % checkpoint_interval == 0) or iterations == max_iter
            n_active: int | None = None
            if at_checkpoint:
                # the convergence census (the reference's Allgather payload,
                # igmr.cpp:139-152) rides the checkpoint job
                census = ({"n_active": F.sum(F.col("active").cast("long"))}
                          if early_stop else {})
                new_vertices, stats = loop.checkpoint((new_vertices, census))
                loop.release(state)
                state = new_vertices
                if early_stop:
                    n_active = stats["n_active"]
                    if checkpoint_interval == 1:
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


def apply_reduced(vertices: DataFrame, agg: DataFrame, *, accumulate: bool,
                  threshold: float = DEFAULT_THRESHOLD) -> DataFrame:
    """The reference's generic vertex-update semantics (gmr.h:170-219):
    merge reduce output into vertex values with *accumulate* (+=) or *cover*
    (=) mode (gmr.h:14,207-210); vertices not present in ``agg`` keep their
    value; ``active`` flips by |new-old| > threshold (gmr.h:182-206).

    ``agg`` schema: (id, agg).
    """
    joined = vertices.join(agg, "id", "left")
    if accumulate:
        new_value = F.when(F.col("agg").isNotNull(),
                           F.col("value") + F.col("agg")).otherwise(F.col("value"))
    else:
        new_value = F.coalesce(F.col("agg"), F.col("value"))
    return joined.select(
        "id",
        new_value.alias("value"),
        (F.abs(new_value - F.col("value")) > F.lit(threshold)).alias("active"),
    )
