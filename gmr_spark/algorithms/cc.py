"""Connected components — min-id label propagation + pointer jumping.

The reference declares ``connectedComponents`` but ships an empty stub
(algorithms.h:210); the semantics implemented here are the classic
GraphX/Pregel ones its roadmap cites (algorithms.h:217-222): every vertex's
label converges to the minimum vertex id in its (weakly) connected component.

:func:`min_label_fixpoint` is the one label-propagation kernel: connected
components, dedup clusters (through :func:`connected_components`) and
Borůvka's per-phase component merge (``mst.py``) all run it. Each ROUND
applies
  (1) one min-neighbor propagation step
      ``label' = min(label, min over in-neighbors' labels)``, then
  (2) pointer jumps ``label = label[label]``, each of which halves every
      label chain's depth,
so rounds are O(log n) rather than O(diameter) — a 10k-vertex path
converges in a handful of rounds, pinned by a property test on exactly
that graph. Invariants: labels only decrease, ``label[v] ≤ v``, and every
label is the id of a vertex in v's component; the fixpoint where
propagation finds no improvement is exactly "every component shares its
minimum id as label". Labels are monotone, so "changed" ≡ "decreased", and
a converged run equals the K-step bounded propagation the DuckDB oracle
unrolls for any K past convergence.

Loop shape: one concurrent set-up pair (the initial labels and the edge
snapshot, each with its row census); then ONE checkpoint job per round that
fuses the propagation step with TWO pointer jumps; then extra T∘T∘T jump
jobs only while the last jump still improved something. Both convergence
censuses ride the round's checkpoint as Observations. Every jump resolves
through the MATERIALIZED previous label table — its build side is a plain
scan of persisted blocks, applied sequentially (l1 = T[l0], l2 = T[l1]).
That is load-bearing: jumping through the just-updated LAZY table
self-references the propagation subtree and duplicates it into the plan
(measured 4x: 12 → 25 stages per job, an mst row 8.2 → 73.4 s).

Physical policy, decided once from the set-up census: the loop runs under
:meth:`LoopScope.rows` of the edge count, and every |V|-row join side goes
through the loop runtime's gate, :func:`~gmr_spark.plans.loop.pin`, on the
larger of the two counts, as a re-leafed side — ``broadcast`` below the
gate, ``shuffle_hash`` above it. This is the one loop that re-leafs its
round checkpoints (:func:`reset_plan_stats`): the jumps self-join the
previous checkpoint, so the propagated size estimate would otherwise grow
about 3x in bit length per checkpoint. The set-up pair keeps its plan: the
propagation join reuses the edge snapshot's ``src`` partitioning. The
set-up pair itself runs under the conf of the caller's scope, since no size
is known before it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from gmr_spark.graph import PropertyGraph
from gmr_spark.plans.loop import LoopScope, pin

_JUMP_CAP = 64  # > log2 of any feasible |V|; trips only on a logic bug


def _scan_jumps(df: DataFrame, lookup: DataFrame,
                keep: list[str], n_rows: int) -> DataFrame:
    """Two sequential pointer jumps over ``df(id, label, *keep)``, each
    resolving through ``lookup`` — a MATERIALIZED label table whose scan
    (pinned on the loop's ``n_rows``) is the build side of both joins.
    Returns (id, label, *keep, _j1) where ``_j1`` is the label after the FIRST
    jump: the last jump changing nothing ≡ jump fixpoint w.r.t. this
    table. Every label is a vertex id present in ``lookup.id``, so the
    lookups always match; ``left`` + coalesce keeps a no-match a
    value-identity rather than a row drop."""
    j1 = (
        df.join(pin(lookup.select(F.col("id").alias("label"),
                                  F.col("label").alias("_l1")),
                    n_rows, releafed=True),
                "label", "left")
        .select("id", F.coalesce("_l1", F.col("label")).alias("label"), *keep)
    )
    return (
        j1.join(pin(lookup.select(F.col("id").alias("label"),
                                  F.col("label").alias("_l2")),
                    n_rows, releafed=True),
                "label", "left")
        .select("id", F.coalesce("_l2", F.col("label")).alias("label"),
                *keep, F.col("label").alias("_j1"))
    )


def min_label_fixpoint(nodes: DataFrame, edges: DataFrame,
                       max_iter: int) -> tuple[DataFrame, dict]:
    """Min-id label per connected component of ``nodes (id)`` under the
    symmetric ``edges (src, dst)``. Returns the kept ``(id, label)``
    checkpoint — owned by the enclosing :class:`LoopScope`, if any — and
    counters: ``rounds`` (propagation steps), ``jump_joins`` (two per
    checkpoint job) and ``converged``. The edges are snapshotted once at
    set-up: callers pass a lazy plan (e.g. ``undirected()``'s closure, two
    Exchanges over 2|E| rows) that every round would otherwise re-run."""
    stats = {"rounds": 0, "jump_joins": 0, "converged": False}
    with LoopScope(nodes.sparkSession) as loop:
        (labels, v_stats), (edges, e_stats) = loop.checkpoint(
            (nodes.select("id", F.col("id").alias("label")),
             {"n": F.count(F.lit(1))}),
            (edges.select("src", "dst"), {"n": F.count(F.lit(1))}),
        )
        loop.rows(e_stats["n"])
        n_rows = max(v_stats["n"], e_stats["n"])
        for _ in range(max_iter):
            nbr_min = (
                edges.join(pin(labels.select(F.col("id").alias("src"),
                                             F.col("label").alias("slabel")),
                               n_rows, releafed=True), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("slabel").alias("nlabel"))
            )
            prop = (
                labels.join(pin(nbr_min, n_rows, releafed=True), "id", "left")
                .select(
                    "id",
                    F.least("label", F.coalesce("nlabel", "label")).alias("label"),
                    F.col("label").alias("_pre"),
                )
            )
            # n_improved (vs the pre-round labels; rounds start at jump
            # fixpoint, so 0 means nothing changed) is the outer fixpoint
            # test, n_jump2 (vs the first jump) says whether to keep jumping
            obs = Observation()
            prev, labels = labels, loop.checkpoint(
                _scan_jumps(prop, labels, ["_pre"], n_rows)
                .observe(
                    obs,
                    F.sum((F.col("label") < F.col("_pre")).cast("long"))
                    .alias("n_improved"),
                    F.sum((F.col("label") < F.col("_j1")).cast("long"))
                    .alias("n_jump2"),
                )
                .drop("_pre", "_j1"),
                releaf=True,
            )
            loop.release(prev)
            stats["rounds"] += 1
            stats["jump_joins"] += 2
            res = obs.get
            if (res["n_improved"] or 0) == 0:
                stats["converged"] = True
                break

            jumping = (res["n_jump2"] or 0) > 0
            for _ in range(_JUMP_CAP):
                if not jumping:
                    break
                jump_obs = Observation()
                prev, labels = labels, loop.checkpoint(
                    _scan_jumps(labels.select("id", "label"), labels, [], n_rows)
                    .observe(jump_obs,
                             F.sum((F.col("label") < F.col("_j1"))
                                   .cast("long")).alias("n_jump2"))
                    .drop("_j1"),
                    releaf=True,
                )
                loop.release(prev)
                stats["jump_joins"] += 2
                jumping = (jump_obs.get["n_jump2"] or 0) > 0
        loop.keep(labels)
    return labels, stats


def connected_components(graph: PropertyGraph, *, max_iter: int = 120,
                         undirected: bool = True) -> DataFrame:
    """-> (id BIGINT, component BIGINT). Treats the graph as undirected
    (weak components) unless ``undirected=False`` (caller already
    symmetric).

    A builder census (``n_edges``, carried by every derived graph) sizes
    the kernel's set-up pair as well, like MST's enclosing scope does: on
    the session conf AQE splits the set-up's closure shuffles into jobs of
    their own (measured on cc_cs: +2 jobs, +0.3-0.5 s per call)."""
    g = graph.undirected() if undirected else graph
    with LoopScope(graph.edges.sparkSession) as loop:
        # the symmetric closure at most doubles |E|
        loop.rows(None if graph.n_edges is None
                  else graph.n_edges * (2 if undirected else 1))
        labels, _ = min_label_fixpoint(g.vertices, g.edges, max_iter)
        loop.keep(labels)
    return labels.select("id", F.col("label").alias("component"))
