"""Connected components — min-id label propagation + pointer jumping.

The reference declares ``connectedComponents`` but ships an empty stub
(algorithms.h:210); the semantics implemented here are the classic
GraphX/Pregel ones its roadmap cites (algorithms.h:217-222): every vertex's
label converges to the minimum vertex id in its (weakly) connected component.

Algorithm (round-3 verdict item 4 — the 100 TB long-chain hardening): each
ROUND alternates
  (1) one min-neighbor propagation step
      ``label' = min(label, min over in-neighbors' labels)``, then
  (2) pointer doubling to fixpoint: ``label = label[label]`` repeated until
      unchanged — each doubling join halves every label-chain's depth, so a
      chain of length L collapses in ceil(log2 L) |V|-row joins.
Plain propagation needs O(diameter) supersteps (a 10k-vertex path = 10k
edge-join rounds); with jumping, rounds = O(log n) — pinned by a property
test on exactly that path graph. MST's label collapse uses the same trick
(mst.py:24-27). Invariants: labels only decrease, ``label[v] ≤ v``, and
every label is the id of a vertex in v's component; the fixpoint where
propagation finds no improvement is exactly "every component shares its
minimum id as label".

Driver-action shape (r15 final, guide §1.2 step 1 + §5): each ROUND is ONE
checkpoint-materializing job fusing the propagation step with TWO pointer
jumps, where every jump resolves through the MATERIALIZED previous label
checkpoint (the join's lookup side is always a plain scan of the persisted
blocks, applied sequentially: l1 = T[l0], l2 = T[l1]). That detail is
load-bearing: the first r15 draft jumped through the *just-updated lazy*
table, whose self-reference duplicated the whole propagation subtree into
the plan 4x (measured: 12 → 25 stages per checkpoint job, mst row 8.2 →
73.4 s in a clean A/B window) — sequential composition against the
materialized scan gets the extra resolution depth at one cheap O(V) join
each, no duplication. Extra jump JOBS (same two-scan-join shape, tripling
resolution depth per job — T := T∘T∘T over the materialized table) run
only while the last jump still improved something; the old r14 loop paid
one job per propagation step plus one job per jump plus a final no-op
confirm jump. Convergence censuses ride the checkpoints as Observations
(two sums per job: any-decrease vs the pre-round labels for the outer
fixpoint, any-decrease in the last jump for the inner one); labels are
monotone non-increasing and ``label[v] ≤ v``, so "changed" ≡ "decreased"
and the fixpoint (and therefore the declared result) is IDENTICAL to the
one-step-per-job loop's.

Determinism: labels decrease monotonically, so a converged run equals the
K-step bounded propagation for any K ≥ convergence step — the DuckDB oracle
unrolls K steps of ``label = min(own, min(neighbor labels))`` (unchanged by
the jumping rewrite, which only accelerates convergence to the same
fixpoint).

Scale: the propagation join reuses the edges' src partitioning; the jump
join touches only the |V|-row label table; every round localCheckpoints to
cut lineage (same cadence policy as run_pregel).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from gmr_spark.graph import PropertyGraph
from gmr_spark.plans.pregel import BIG_GRAPH_ROWS, LoopScope

_JUMP_CAP = 64  # > log2 of any feasible |V|; trips only on a logic bug


def _scan_jumps(df: DataFrame, lookup: DataFrame,
                keep: list[str], *, small: bool = False) -> DataFrame:
    """Two sequential pointer jumps over ``df(id, label, *keep)``, each
    resolving through ``lookup`` — a MATERIALIZED (checkpointed) label
    table whose scan is the build side of both joins, so the plan never
    duplicates an unmaterialized subtree (the r15-draft trap; see module
    docstring). Returns (id, label, *keep, _j1) where ``_j1`` is the label
    after the FIRST jump — the inner-loop census compares the final label
    against it (the last jump changing nothing ≡ jump fixpoint reached
    w.r.t. this table). Every label is a vertex id present in
    ``lookup.id`` (the loop invariant), so the lookup inner-joins always
    match; ``left`` + coalesce keeps the no-match case a value-identity
    rather than a row drop, belt-and-braces. Monotonicity: the lookup
    table satisfies ``label[v] ≤ v``, so each jump can only decrease.

    ``small`` broadcast-hints the lookup sides: under the loop's small
    conf (:meth:`LoopScope.rows`) AQE is off, so without the hint Catalyst
    plans every jump as a SortMergeJoin over a checkpoint scan with
    unknowable stats — measured on cc_cs (|V|=16k): 8 Exchanges + sorts
    per fused round vs 1 with the hints (guide §3.1: pick the strategy
    deliberately). Callers set it only when the vertex census proves the
    label table is broadcastable."""
    _h = (lambda d: d.hint("broadcast")) if small else (lambda d: d)
    j1 = (
        df.join(_h(lookup.select(F.col("id").alias("label"),
                                 F.col("label").alias("_l1"))), "label", "left")
        .select("id", F.coalesce("_l1", F.col("label")).alias("label"), *keep)
    )
    return (
        j1.join(_h(lookup.select(F.col("id").alias("label"),
                                 F.col("label").alias("_l2"))), "label", "left")
        .select("id", F.coalesce("_l2", F.col("label")).alias("label"),
                *keep, F.col("label").alias("_j1"))
    )


def _cc_labels(g: PropertyGraph, max_iter: int,
               *, small: bool = False) -> tuple[DataFrame, dict]:
    """Fused propagate + scan-jump loop over (id, label). Returns the
    converged label table and counters for the property test: ``rounds``
    (propagation steps) and ``jump_joins`` (jump joins — two per
    checkpoint job, each against the materialized table).

    ``small`` (set by :func:`connected_components` when BOTH censuses are
    known and under ``BIG_GRAPH_ROWS``) broadcast-hints every |V|-row side:
    the label lookup in the propagation/jump joins and the aggregated
    neighbor-min table. Join strategy does not change the fixpoint — only
    which side builds the hash table.

    The edge set is checkpointed ONCE up front (concurrently with the
    initial labels — two independent snapshots): the caller hands a LAZY
    plan (typically ``undirected()``'s union+distinct, 2 Exchanges over
    2|E| rows) that the propagation join would otherwise re-execute EVERY
    round. The returned label fixpoint is itself a checkpoint with no
    lineage into the edge snapshot."""
    _h = (lambda d: d.hint("broadcast")) if small else (lambda d: d)
    stats = {"rounds": 0, "jump_joins": 0, "converged": False}
    with LoopScope(g.edges.sparkSession) as loop:
        labels, edges = loop.checkpoint(
            g.vertices.select("id", F.col("id").alias("label")),
            g.edges.select("src", "dst"),
        )
        for _ in range(max_iter):
            # (1) one min-neighbor propagation step + (2) two pointer jumps
            # through the PREVIOUS materialized label table, all in ONE
            # checkpoint-materializing job (the propagation subtree is
            # evaluated exactly once; the jump joins' build sides are scans
            # of the persisted blocks). Both censuses ride it as
            # Observations: n_improved (final < pre-round — the outer
            # fixpoint test; rounds start at jump fixpoint, so 0 here means
            # neither propagation nor jumps changed anything) and n_jump2
            # (final < post-first-jump — whether more jump jobs are needed).
            nbr_min = (
                edges.join(_h(labels.select(F.col("id").alias("src"),
                                            F.col("label").alias("slabel"))),
                           "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("slabel").alias("nlabel"))
            )
            prop = (
                labels.join(_h(nbr_min), "id", "left")
                .select(
                    "id",
                    F.least("label", F.coalesce("nlabel", "label")).alias("label"),
                    F.col("label").alias("_pre"),
                )
            )
            obs = Observation()
            prev, labels = labels, loop.checkpoint(
                _scan_jumps(prop, labels, ["_pre"], small=small)
                .observe(
                    obs,
                    F.sum((F.col("label") < F.col("_pre")).cast("long"))
                    .alias("n_improved"),
                    F.sum((F.col("label") < F.col("_j1")).cast("long"))
                    .alias("n_jump2"),
                )
                .drop("_pre", "_j1")
            )
            loop.release(prev)
            stats["rounds"] += 1
            stats["jump_joins"] += 2
            res = obs.get
            if (res["n_improved"] or 0) == 0:
                stats["converged"] = True
                break

            # extra jump jobs (T := T∘T∘T over the just-materialized table)
            # only while the LAST jump still improved something
            jumping = (res["n_jump2"] or 0) > 0
            for _ in range(_JUMP_CAP):
                if not jumping:
                    break
                jump_obs = Observation()
                prev, labels = labels, loop.checkpoint(
                    _scan_jumps(labels.select("id", "label"), labels, [],
                                small=small)
                    .observe(jump_obs,
                             F.sum((F.col("label") < F.col("_j1"))
                                   .cast("long")).alias("n_jump2"))
                    .drop("_j1")
                )
                loop.release(prev)
                stats["jump_joins"] += 2
                jumping = (jump_obs.get["n_jump2"] or 0) > 0
        loop.keep(labels)
    return labels, stats


def connected_components(graph: PropertyGraph, *, max_iter: int = 120,
                         undirected: bool = True) -> DataFrame:
    """-> (id BIGINT, component BIGINT). Treats the graph as undirected
    (weak components) unless ``undirected=False`` (caller already symmetric).

    When the caller's graph carries a builder census (``n_edges`` — every
    derived graph does), the label loop runs under the same |E|-scoped
    physical conf as every other iterative loop (:meth:`LoopScope.rows`:
    statically coalesced shuffles + per-stage adaptive planning off below
    BIG_GRAPH_ROWS; on session defaults AQE turned each fused round into
    one job per query stage). With AQE off, Catalyst has no runtime sizes
    for the checkpoint-scan join sides and falls back to SortMergeJoin
    everywhere — measured on cc_cs: 8 Exchanges + sorts per fused round —
    so when BOTH censuses additionally prove the |V|-row sides
    broadcastable (≤ BIG_GRAPH_ROWS), the loop broadcast-hints them: 1
    Exchange per round (the neighbor-min groupBy, the one fundamental
    shuffle). Census-less graphs run on the session conf rather than pay
    count jobs for it."""
    g = graph.undirected() if undirected else graph
    n_edges = graph.n_edges
    if n_edges is not None and undirected:
        n_edges *= 2  # symmetric closure upper bound
    small = (n_edges is not None and n_edges <= BIG_GRAPH_ROWS
             and graph.n_vertices is not None
             and graph.n_vertices <= BIG_GRAPH_ROWS)
    with LoopScope(graph.edges.sparkSession) as loop:
        loop.rows(n_edges)
        labels, _ = _cc_labels(g, max_iter, small=small)
        loop.keep(labels)
    return labels.select("id", F.col("label").alias("component"))
