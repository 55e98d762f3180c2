"""The iterative-loop runtime every engine loop runs on.

A loop materializes its state with ``localCheckpoint(eager=True)`` once per
step (the reference mutates arrays in place; Spark plans would grow per
iteration instead), and this module makes that loop's physical choices once
for every program:

- :class:`LoopScope` owns the loop's checkpoints and its conf: censuses ride
  the checkpoint jobs as Observations, superseded state is released as the
  loop advances, everything but the output is released on every exit, and
  the small-loop conf (:meth:`LoopScope.rows`) is restored on every exit;
- :func:`pin` is the one size gate: the join hint a loop's |V|-scaling side
  gets, from an exact row count the loop already holds;
- :func:`reset_plan_stats` re-leafs a checkpoint whose plan would otherwise
  carry a compounding size estimate.
"""

from __future__ import annotations

import threading
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation

# above this many rows a loop's joins are pinned to shuffled-hash (never
# broadcast): ~40 in-memory bytes/row puts 1.5M rows past the 64 MB
# autoBroadcastJoinThreshold with margin. Read at call time, so a test
# patches this module alone to force every loop's big-graph path.
BIG_GRAPH_ROWS = 1_500_000
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
# constant is a centroid, not a cliff. Big graphs are untouched: AQE's
# skew-join splitting and runtime coalescing earn their scheduling
# overhead when a superstep moves O(100M) messages, and the G2 SCALE.md
# rows were measured with AQE on. This is the static analog of AQE's
# coalescing: the engine knows |E| exactly (counted on
# just-materialized blocks), so it can size once instead of paying
# per-stage re-planning ~3x per superstep.
LOOP_EDGES_PER_SHUFFLE_PARTITION = 75_000


def pin(df: DataFrame, n_rows: int, *, releafed: bool = False) -> DataFrame:
    """The join hint for a loop's |V|- or |E|-scaling join side ``df``,
    from the exact count ``n_rows`` the loop gates on.

    Above ``BIG_GRAPH_ROWS``: ``shuffle_hash``. A checkpoint inherits its
    origin plan's size estimate, and a generator-derived origin undercounts
    by its fanout: at G2 size (4.8M V / 110M E) the planner, and AQE from
    runtime stats, chose a driver-built broadcast of a vertex-sized table,
    which OOM'd the driver. The hinted side becomes the per-partition build
    side of a ShuffledHashJoin and the other side streams.

    Below it: ``broadcast`` if ``df`` reads a re-leafed checkpoint
    (:func:`reset_plan_stats`), else ``df`` unchanged so Catalyst/AQE keep
    their own choice. A re-leafed side's estimate is
    ``spark.sql.defaultSizeInBytes``, and under the small-loop conf AQE is
    off, so without the hint the planner never broadcasts it and plans a
    SortMergeJoin (8 Exchanges per CC round on cc_cs against 1)."""
    if n_rows > BIG_GRAPH_ROWS:
        return df.hint("shuffle_hash")
    return df.hint("broadcast") if releafed else df


def is_checkpoint(df: DataFrame) -> bool:
    """Whether ``df`` is a checkpoint leaf: its analyzed plan is a
    ``LogicalRDD`` over persisted blocks (a ``localCheckpoint`` result,
    not a projection or filter of one). False, with a warning, when the
    private JVM API is unavailable, so callers take their non-leaf path."""
    try:
        return df._jdf.queryExecution().analyzed().getClass() \
            .getSimpleName() == "LogicalRDD"
    except Exception:
        _warn_internal_api_fallback("is_checkpoint")
        return False


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
        # non-checkpointed frames (e.g. an initial empty LocalRelation
        # threaded through a loop's state variable) are a legitimate no-op,
        # not an API failure — only LogicalRDD leaves hold persisted blocks
        if not is_checkpoint(df):
            return
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        _warn_internal_api_fallback("_drop_checkpoint_blocks")


def reset_plan_stats(df: DataFrame) -> DataFrame:
    """Re-leaf a just-``localCheckpoint``-ed DataFrame over the SAME
    persisted blocks, discarding the origin plan's propagated statistics.

    Why this exists: Spark 4's ``Dataset.localCheckpoint`` propagates the
    origin plan's *estimated* stats onto the new ``LogicalRDD`` leaf
    (``LogicalRDD.fromDataset`` → ``rewriteStatsAndConstraints``), and the
    size-only estimator models a join as the PRODUCT of its children's
    ``sizeInBytes``. The shape that compounds is a step that SELF-joins the
    previous checkpoint — the label kernel's pointer jumps
    (``cc.min_label_fixpoint``), whose estimate grows about 3x in bit
    length per checkpoint (12 → 13 → 44 → 140 → 417 → 1250 bits). Left
    alone, past ~15 iterations the driver disappears into million-digit
    ``BigInteger.multiply`` calls inside the next checkpoint's stats
    rewrite (measured: the Borůvka pointer-jump fixpoint at G2 size pinned
    one driver thread for 20+ minutes in Toom-Cook multiplication while
    zero tasks ran). The growth follows the iteration count, not the row
    count. The other loops' estimates grow at most additively and keep
    their stats, measured: k_core's semi-joins keep the left side's
    estimate, and SCC's backward membership adds a few bits per superstep
    (tests/test_plans.py pins both bounds).

    The reset is zero-copy and JVM-only: the analyzed plan of a
    checkpointed frame IS a ``LogicalRDD`` whose ``rdd`` field holds the
    persisted ``InternalRow`` blocks; ``internalCreateDataFrame`` wraps
    that same RDD in a fresh leaf whose stats fall back to
    ``spark.sql.defaultSizeInBytes``. Falls back to the input unchanged if
    the internal API is unavailable (cost: driver CPU, not correctness) —
    WARNING once per process, because a silent fallback would reinstate
    the 20-minute BigInteger stall at the next G2-class run with no signal;
    ``tests/test_plans.py`` asserts the re-leafed plan actually IS a fresh
    LogicalRDD on this Spark version.

    CAVEAT (partitioning): ``localCheckpoint`` preserves the origin plan's
    ``outputPartitioning``/``ordering``; the re-leafed ``LogicalRDD`` built
    here does NOT — a join downstream of a re-leafed frame re-shuffles a
    side the checkpoint had co-located. Keep this helper off any path that
    relies on checkpoint-preserved partitioning, and hint the re-leafed
    side through :func:`pin` with ``releafed=True``.
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
        f"gmr_spark.plans.loop.{helper}: private Spark JVM API unavailable "
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

    def keep_partitioning(self) -> None:
        """Turn per-stage adaptive planning off until the scope exits, at
        every size. A checkpoint materialized under AQE reports no output
        partitioning, so a loop whose steps join co-partitioned
        checkpoints would re-shuffle them every step (at 25M edges the
        dense PageRank loop wrote 2.7 GB of shuffle with AQE on against
        0.9 GB with it off). Every join such a loop plans must carry a
        hint (:func:`pin`): the static planner broadcasts from estimates."""
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
