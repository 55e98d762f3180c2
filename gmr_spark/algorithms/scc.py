"""Strongly connected components — forward-backward coloring.

The reference declares ``stronglyConnectedComponents`` as an empty stub whose
comment cites GraphX's operator list (algorithms.h:217-222); this is the
distributed coloring algorithm (Orzan; also GraphX's strategy) expressed in
DataFrames:

repeat until every vertex is assigned:
  0. *trim* — iteratively peel vertices with zero in- or out-degree in the
     remaining graph: they cannot sit on a cycle, so each is its own
     singleton SCC (standard FW-BW/Multistep pre-step; Slota et al. 2014,
     Hong et al. 2013 — public formulations). Bounded iterations per phase;
     the coloring loop below is complete without it.
  1. *color* phase — propagate ``min over vertices that reach v`` forward
     along edges over the unassigned subgraph (min-label Pregel loop). The
     ordering key is a SCRAMBLED (mix(id), id) struct, not the raw id: with
     raw min-id coloring an adversarial layout (ids increasing along the
     condensation order) makes every phase elect ONE root — the chain worst
     case peels one SCC per phase. Scrambling the key (Orzan's random-color
     idea) makes the per-phase root set the *prefix minima of a random
     order*, so an adversarial K-SCC chain peels in O(log K) expected
     phases instead of K (pinned by tests/test_fixtures_graph.py). The id
     tiebreak keeps the order total, so a mix collision costs nothing.
  2. vertices whose color equals their own key are SCC roots;
  3. *membership* phase — from each root, propagate backward along edges
     (dst to src), but only across vertices of the same color; every vertex
     reached is in the root's SCC (mutual reachability: forward via the
     color, backward via the walk);
  4. relabel each membership group by its minimum vertex id, assign, remove,
     repeat.

Output label = min vertex id of the SCC (deterministic, independent of the
scramble — only the PHASE STRUCTURE depends on it).

Scale: each phase is two ``run_pregel`` loops (coloring, membership) over
the remainder's edge checkpoint, read in place, plus the trim's semi-joins.
The superstep count of one coloring pass is bounded by the remaining graph's
directed diameter — a condensation CHAIN of depth D forces ≥D supersteps in
phase 1 regardless of scrambling (label propagation is latency-bound on
deep condensations; that bound is intrinsic to the algorithm class, not this
plan). Every checkpoint is owned by a LoopScope (plans/loop.py), which
releases superseded remainders as the peel advances and everything but
the output on any exit. The checkpoints keep their stats: the membership
state's size estimate grows additively (tests/test_plans.py pins the
bound), so no step re-leafs. The trim's |V|-scaling join sides go through
the loop runtime's gate (plans/loop.pin) on the phase's remaining vertex
count; ``run_pregel`` gates its own.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from gmr_spark.graph import PropertyGraph
from gmr_spark.plans.loop import LoopScope, pin
from gmr_spark.plans.pregel import PregelProgram, PregelResult, run_pregel


def _scramble(c: Column) -> Column:
    """Deterministic 64-bit scramble of a vertex id: Spark's builtin
    ``xxhash64`` (JVM-side, fixed seed — stable across sessions). A plain
    xorshift is NOT enough here: on small consecutive ids its left-shifts
    never interact (no carries), so it is order-PRESERVING exactly where the
    adversarial layouts live — measured, a 16-SCC increasing-id chain still
    peeled 16 phases under xorshift, 5 under xxhash64. Hash collisions cost
    nothing: the coloring key is the (mix, id) STRUCT, so the order stays
    total and the root stays unique."""
    return F.xxhash64(c)


class _ColorProgram:
    """Directed min-propagation of the (mix, id) struct key: value converges
    to the minimum key over all vertices that reach v (including itself).
    ``scramble=False`` degrades to raw min-id coloring (kept for the
    adversarial-layout phase-count test)."""

    def __init__(self, scramble: bool = True):
        self.scramble = scramble

    def _key(self, idc: Column) -> Column:
        mix = _scramble(idc) if self.scramble else idc
        return F.struct(mix.alias("m"), idc.alias("rid"))

    def init(self, vertices: DataFrame) -> DataFrame:
        return vertices.select(
            "id", self._key(F.col("id")).alias("value"),
            F.lit(True).alias("active"),
        )

    def messages(self, frontier: DataFrame, edges: DataFrame) -> DataFrame:
        f = frontier.select(F.col("id").alias("fid"), F.col("value").alias("fkey"))
        return edges.join(f, F.col("src") == F.col("fid")).select(
            F.col("dst").alias("id"), F.col("fkey").alias("msg")
        )

    def aggregate(self, msgs: DataFrame) -> DataFrame:
        return msgs.groupBy("id").agg(F.min("msg").alias("agg"))

    def update(self, vertices: DataFrame, agg: DataFrame) -> DataFrame:
        improved = F.col("agg").isNotNull() & (F.col("agg") < F.col("value"))
        return vertices.join(agg, "id", "left").select(
            "id",
            F.when(improved, F.col("agg")).otherwise(F.col("value")).alias("value"),
            improved.alias("active"),
        )


class _MemberProgram:
    """Backward walk from each color root through same-colored vertices:
    ``member`` marks the vertices that reach their color's root, i.e. the
    members of the root's SCC. Messages travel edges backward (to ``src``
    from a frontier ``dst``), so no reversed edge table is built."""

    def init(self, colors: DataFrame) -> DataFrame:
        root = F.col("color") == F.col("id")
        return colors.select("id", "color", root.alias("member"),
                             root.alias("active"))

    def messages(self, frontier: DataFrame, edges: DataFrame) -> DataFrame:
        f = frontier.select(F.col("id").alias("fid"), F.col("color").alias("fcolor"))
        return edges.join(f, F.col("dst") == F.col("fid")).select(
            F.col("src").alias("id"), F.col("fcolor").alias("msg"))

    def aggregate(self, msgs: DataFrame) -> DataFrame:
        return msgs.groupBy("id").agg(F.collect_set("msg").alias("agg"))

    def update(self, vertices: DataFrame, agg: DataFrame) -> DataFrame:
        newly = ~F.col("member") & F.coalesce(
            F.array_contains(F.col("agg"), F.col("color")), F.lit(False))
        return vertices.join(agg, "id", "left").select(
            "id", "color", (F.col("member") | newly).alias("member"),
            newly.alias("active"))


def _fixpoint(vertices: DataFrame, edges: DataFrame, n_edges: int,
              program: PregelProgram, max_iter: int,
              phase: str) -> PregelResult:
    """``run_pregel`` of ``program`` over the remainder (``edges`` is its
    checkpoint, read in place), raising unless it converged: a coloring
    short of its fixpoint can elect a false root, and a membership short of
    it leaves members behind, and either silently splits an SCC."""
    result = run_pregel(
        PropertyGraph(vertices=vertices, edges=edges, n_edges=n_edges),
        program, max_iter=max_iter)
    if not result.converged:
        raise RuntimeError(
            f"SCC {phase} did not converge within max_iter={max_iter} "
            "supersteps — raise max_iter (deep condensations need >= their "
            "directed diameter)")
    return result


def _trim_pass(remaining_v: DataFrame, remaining_e: DataFrame,
               n_remaining: int, n_rem_e: int, max_trim_iter: int,
               loop: LoopScope):
    """Peel vertices with zero in- or out-degree in the remaining graph —
    each is a singleton SCC labeled by itself. Returns
    (remaining_v, remaining_e, n_remaining, n_rem_e, trimmed_parts,
    n_iters, n_trimmed); every checkpoint it lands, new remainders and
    trimmed parts alike, is owned by the caller's ``loop``. The no-op
    pass — every phase of an all-cyclic graph pays it — costs ONE job (the
    keep checkpoint; its census rides that job and the dropped count is
    derived from the caller's census, so the anti-join materializes only
    when something trimmed). Its join sides are pinned on the remaining
    vertex count."""
    trimmed_parts: list[DataFrame] = []
    n_trimmed = 0
    for it in range(max_trim_iter):
        has_out = remaining_e.select(F.col("src").alias("id")).distinct()
        has_in = remaining_e.select(F.col("dst").alias("id")).distinct()
        keep, keep_stats = loop.checkpoint((
            remaining_v
            .join(pin(has_out, n_remaining), "id", "left_semi")
            .join(pin(has_in, n_remaining), "id", "left_semi"),
            {"n": F.count(F.lit(1))}))
        n_keep = keep_stats["n"]
        n_dropped = n_remaining - n_keep
        if n_dropped == 0:
            loop.release(keep)
            return (remaining_v, remaining_e, n_remaining, n_rem_e,
                    trimmed_parts, it, n_trimmed)
        # `dropped` and the new edge remainder both read only the just-landed
        # `keep` checkpoint plus the previous remainders — independent, so
        # their two materializing jobs run CONCURRENTLY; the edge census
        # rides the new remainder's checkpoint job so the phase's pregel
        # coloring can skip its own edge count
        dropped, (new_e, e_stats) = loop.checkpoint(
            remaining_v.join(keep, "id", "left_anti").select(
                "id", F.col("id").alias("scc")),
            (remaining_e
             .join(pin(keep.select(F.col("id").alias("src")), n_remaining),
                   "src", "left_semi")
             .join(pin(keep.select(F.col("id").alias("dst")), n_remaining),
                   "dst", "left_semi")
             .select("src", "dst"),
             {"n": F.count(F.lit(1))}),
        )
        trimmed_parts.append(dropped)
        n_trimmed += n_dropped
        n_remaining = n_keep
        loop.release(remaining_v, remaining_e)
        remaining_v, remaining_e = keep, new_e
        n_rem_e = e_stats["n"]
    return (remaining_v, remaining_e, n_remaining, n_rem_e, trimmed_parts,
            max_trim_iter, n_trimmed)


def strongly_connected_components(graph: PropertyGraph, *, max_iter: int = 120,
                                  max_phases: int = 50, trim_iters: int = 4,
                                  scramble: bool = True,
                                  metrics_out: dict | None = None) -> DataFrame:
    """-> (id BIGINT, scc BIGINT) with scc = min vertex id in the SCC.

    ``trim_iters`` bounds the per-phase trim loop (0 disables);
    ``scramble=False`` reverts to raw min-id coloring (adversarial id
    layouts then peel one SCC per phase — exposed for the phase-count
    test, never for production use). ``metrics_out``, if given, receives
    ``phases``, ``color_supersteps`` (total), ``trim_iters_run`` and
    ``trimmed`` counters. Raises RuntimeError if vertices remain unassigned
    after ``max_phases`` — raise the cap rather than return a silently
    partial labeling.
    """
    stats = {} if metrics_out is None else metrics_out
    stats.update(phases=0, color_supersteps=0, trim_iters_run=0, trimmed=0)
    spark = graph.edges.sparkSession
    with LoopScope(spark) as loop:
        # the opening censuses ride the checkpoint jobs, and the two
        # independent snapshots materialize CONCURRENTLY
        (remaining_v, v_stats), (remaining_e, e_stats) = loop.checkpoint(
            (graph.vertices.select("id"), {"n": F.count(F.lit(1))}),
            (graph.edges.select("src", "dst"), {"n": F.count(F.lit(1))}),
        )
        # the |V|-scaling sides are pinned while the remainder is genuinely
        # big; re-counted per phase as the peel shrinks it
        n_remaining, n_rem_e = v_stats["n"], e_stats["n"]
        parts: list[DataFrame] = []
        for _ in range(max_phases):
            if trim_iters > 0 and n_remaining > 0:
                (remaining_v, remaining_e, n_remaining, n_rem_e, trimmed,
                 t_it, t_n) = _trim_pass(remaining_v, remaining_e,
                                         n_remaining, n_rem_e,
                                         trim_iters, loop)
                parts.extend(trimmed)
                stats["trim_iters_run"] += t_it
                stats["trimmed"] += t_n
            if n_remaining == 0:
                break
            colored = _fixpoint(remaining_v, remaining_e,
                                n_rem_e, _ColorProgram(scramble), max_iter,
                                "color propagation")
            stats["color_supersteps"] += colored.iterations
            colors = colored.vertices.select(
                "id", F.col("value.rid").alias("color"))
            membership = _fixpoint(colors, remaining_e, n_rem_e,
                                   _MemberProgram(), max_iter,
                                   "backward membership")
            members = membership.vertices.filter("member").select("id", "color")
            # relabel each membership group by its min vertex id — the
            # declared output contract, independent of the scramble
            scc_min = members.groupBy("color").agg(F.min("id").alias("scc"))
            part = loop.checkpoint(
                members.join(scc_min, "color").select("id", "scc"))
            parts.append(part)
            stats["phases"] += 1
            member_ids = part.select("id")
            # the next phase's censuses ride these checkpoint jobs, and the
            # two remainders both read only the just-landed `part`
            # checkpoint plus the previous remainders, so their
            # materializing jobs run CONCURRENTLY
            (new_v, v_stats), (new_e, e_stats) = loop.checkpoint(
                (remaining_v.join(member_ids, "id", "left_anti"),
                 {"n": F.count(F.lit(1))}),
                (remaining_e.join(member_ids.withColumnRenamed("id", "src"),
                                  "src", "left_anti")
                 .join(member_ids.withColumnRenamed("id", "dst"),
                       "dst", "left_anti")
                 .select("src", "dst"),
                 {"n": F.count(F.lit(1))}),
            )
            loop.release(remaining_v, remaining_e)
            remaining_v, remaining_e = new_v, new_e
            n_rem_e = e_stats["n"]
            # the coloring result and the membership state are dead once
            # part landed (part is a fresh checkpoint)
            loop.release(colored.vertices, membership.vertices)
            n_remaining = v_stats["n"]
        else:
            if n_remaining > 0:
                raise RuntimeError(
                    f"SCC did not assign every vertex within max_phases="
                    f"{max_phases}; raise the cap for extremely deep "
                    "condensations"
                )
        loop.keep(*parts)
    out = spark.createDataFrame([], "id bigint, scc bigint")
    for part in parts:
        out = out.unionByName(part)
    return out
