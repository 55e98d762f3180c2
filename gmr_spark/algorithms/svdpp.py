"""SVD++ collaborative filtering (GraphX-library parity, round-4 verdict
item 6: the reference's roadmap cites GraphX's algorithm list,
algorithms.h:217-222, and SVDPlusPlus was its one member with no
counterpart here).

Model (Koren 2008, the formulation GraphX ships):

    pred(u,i) = mu + b_u + b_i + q_i . (p_u + |N(u)|^-1/2 * sum_{j in N(u)} y_j)

Training is DETERMINISTIC BATCH gradient descent — each iteration computes
every edge's error against the previous iteration's state and applies the
per-user/per-item gradient sums in one update (documented divergence from
GraphX's per-edge sequential-ish updates, which are order-dependent and
cannot be reproduced by a SQL twin). Factor init is a closed-form hash of
the id (no RNG), so the DuckDB oracle (oracle.svdpp_sql) replays the exact
same arithmetic unrolled; both engines round predictions to 6 places at the
end only (the PageRank-twin float-tolerance contract).

Scale shape: per iteration, 1 groupBy per side keyed on user/item ids plus
edge-state joins on the same keys; state tables are O(|users| + |items|)
and, when they fit an executor (_STATE_BROADCAST_CAP), every state-side
join is hint-broadcast so the rating-edge table never shuffles for them —
above the cap the joins fall back to partial+final aggregated shuffles.
Lineage is cut per iteration with a localCheckpoint owned by a LoopScope
(plans/loop.py), as in every engine loop.

The rating bipartite graph is derived from TPC-H: u = o_custkey,
i = l_partkey over orders |><| lineitem (distinct pairs), synthetic
deterministic rating r = (u*7 + i*13) % 5 + 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from gmr_spark.sources.tables import load_tables

SVDPP_GAMMA = 0.01   # learning rate
SVDPP_LAMBDA = 0.02  # L2 regularization
SVDPP_RANK = 2       # factor dimensions (f); oracle unrolls per-dim columns
SVDPP_ITERS = 2      # batch GD iterations; oracle unrolls per iteration

# User/item state rows (id, bias, rank floats) are tiny next to the rating
# edge table, but they sit behind localCheckpoint so Catalyst can't size
# them and every state join shuffles the edges. Below this cap the state
# side is hint-broadcast instead (~2M rows * ~60 B ≈ 120 MB relation —
# executor-safe); above it (web-scale user counts) the joins keep the
# shuffled plan, which is the only shape that works there.
_STATE_BROADCAST_CAP = 2_000_000


def _init_expr(idcol: str, mult: int, dmult: int, d: int) -> F.Column:
    """Closed-form deterministic init in [-48/970, 48/970] — shared, via the
    same formula text, with oracle.svdpp_sql."""
    return ((F.col(idcol) * mult + d * dmult) % 97 - 48) / 970.0


def rating_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, i, r): the derived customer->part rating graph."""
    t = load_tables(spark, sf_dir)
    return (
        t["orders"].select(F.col("o_orderkey").alias("ok"),
                           F.col("o_custkey").alias("u"))
        .join(t["lineitem"].select(F.col("l_orderkey").alias("ok"),
                                   F.col("l_partkey").alias("i")), "ok")
        .select("u", "i").distinct()
        .withColumn("r", ((F.col("u") * 7 + F.col("i") * 13) % 5 + 1)
                    .cast("double"))
    )


def svdpp(spark: SparkSession, sf_dir: str, *, rank: int = SVDPP_RANK,
          iters: int = SVDPP_ITERS, gamma: float = SVDPP_GAMMA,
          lam: float = SVDPP_LAMBDA) -> DataFrame:
    """-> (u, i, rating, pred): every rating edge of the TPC-H-derived
    bipartite graph with its SVD++ prediction after ``iters`` deterministic
    batch-GD iterations, pred ROUND(., 6)."""
    return svdpp_train(spark, rating_edges(spark, sf_dir), rank=rank,
                       iters=iters, gamma=gamma, lam=lam)


def svdpp_train(spark: SparkSession, rating_edges_df: DataFrame, *,
                rank: int = SVDPP_RANK, iters: int = SVDPP_ITERS,
                gamma: float = SVDPP_GAMMA, lam: float = SVDPP_LAMBDA,
                state_broadcast_cap: int | None = None,
                iter_times: list[float] | None = None) -> DataFrame:
    """Train on an arbitrary ``(u, i, r)`` rating-edge DataFrame — the
    dataset-independent core ``svdpp`` wraps (the ``svdpp`` family of
    scripts/scale.py feeds
    a 60M-edge synthetic graph through it to prove both join strategies at
    G2-class size). ``state_broadcast_cap`` overrides _STATE_BROADCAST_CAP
    so the above-cap shuffle fallback can be forced in-process for A/B
    runs; join strategy never changes the arithmetic (final ROUND(.,6)
    absorbs summation-order float drift — the oracle-twin contract).
    ``iter_times`` (optional) collects per-iteration wall seconds."""
    import time as _time

    from gmr_spark.plans.loop import LoopScope

    cap = _STATE_BROADCAST_CAP if state_broadcast_cap is None else state_broadcast_cap
    dims = range(rank)
    with LoopScope(spark) as loop:
        # the setup censuses (n_edges, |users|, |items|) and mu all ride
        # their checkpoints' materializing jobs as Observations. mu's
        # sum-then-divide is arithmetically the agg's sum/count expression;
        # the declared query's ratings are integer-valued doubles, whose sum
        # is exact in any order, and for arbitrary float ratings the final
        # ROUND(.,6) absorbs summation-order drift (the oracle-twin
        # contract, as with the join strategies).
        edges, e_stats = loop.checkpoint(
            (rating_edges_df, {"sr": F.sum("r"), "n": F.count(F.lit(1))}))
        mu = float(e_stats["sr"]) / e_stats["n"]
        n_edges = e_stats["n"]

        # the two state tables read only the edge checkpoint and are
        # mutually independent — their materializing jobs run CONCURRENTLY
        (users, u_stats), (items, i_stats) = loop.checkpoint(
            (edges.groupBy("u").agg(F.count(F.lit(1)).alias("nu")).select(
                "u", "nu", F.lit(0.0).alias("bu"),
                *[_init_expr("u", 31, 17, d).alias(f"p{d}") for d in dims],
            ), {"n": F.count(F.lit(1))}),
            (edges.select("i").distinct().select(
                "i", F.lit(0.0).alias("bi"),
                *[_init_expr("i", 37, 19, d).alias(f"q{d}") for d in dims],
                *[_init_expr("i", 41, 23, d).alias(f"y{d}") for d in dims],
            ), {"n": F.count(F.lit(1))}),
        )

        # size-gated broadcast for every state-side join (see
        # _STATE_BROADCAST_CAP): per-user and per-item tables — including the
        # derived aggregates imp/uagg/g/iagg/yagg, whose row counts are bounded
        # by the state tables' — ride map-side joins against the edge table when
        # they fit; join strategy does not change the arithmetic (the float
        # drift from summation order is absorbed by the final ROUND(.,6), the
        # same contract the oracle twin already relies on).
        small_state = max(u_stats["n"], i_stats["n"]) <= cap
        if small_state:
            def st(df: DataFrame) -> DataFrame:
                return F.broadcast(df)
        else:
            def st(df: DataFrame) -> DataFrame:
                return df

        def _imp(u_state: DataFrame, i_state: DataFrame) -> DataFrame:
            """(u, imp0..): the implicit-feedback term |N(u)|^-1/2 * sum y_j."""
            return (
                edges.join(st(i_state.select("i", *[f"y{d}" for d in dims])), "i")
                .groupBy("u").agg(*[F.sum(f"y{d}").alias(f"sy{d}") for d in dims])
                .join(st(u_state.select("u", "nu")), "u")
                .select("u", *[
                    (F.col(f"sy{d}") / F.sqrt(F.col("nu"))).alias(f"imp{d}")
                    for d in dims
                ])
            )

        def _errs(u_state: DataFrame, i_state: DataFrame, imp: DataFrame) -> DataFrame:
            """(u, i, err, q*, pimp*): per-edge residual against current state."""
            dot = None
            for d in dims:
                term = F.col(f"q{d}") * (F.col(f"p{d}") + F.col(f"imp{d}"))
                dot = term if dot is None else dot + term
            return (
                edges.join(st(u_state), "u").join(st(i_state), "i").join(st(imp), "u")
                .select(
                    "u", "i",
                    (F.col("r") - (F.lit(mu) + F.col("bu") + F.col("bi") + dot))
                    .alias("err"),
                    *[F.col(f"q{d}") for d in dims],
                    *[(F.col(f"p{d}") + F.col(f"imp{d}")).alias(f"pimp{d}")
                      for d in dims],
                )
            )

        # |ratings|-scoped physical conf for the GD loop; a no-op past the
        # big-graph threshold (the 60M-edge SCALE.md runs are unaffected).
        # The returned prediction join is lazy and evaluates after the
        # scope restores the conf — only the loop's shuffles run under it.
        loop.rows(n_edges)
        for _ in range(iters):
            _t0 = _time.perf_counter()
            imp = _imp(users, items)
            # materialized even on the broadcast path: errs/uagg each have
            # multiple consumers in SEPARATE actions, and an A/B showed the
            # re-derivation (3 consumers re-running the edge join) costs
            # more than the two checkpoint jobs (14.5 s vs 11.9 s for the
            # full query at sf0.1)
            errs = loop.checkpoint(_errs(users, items, imp))

            # one aggregate serves both the p/b update and the y gradient
            # (g_u = sp_u / sqrt(nu)) — materialized so the two consumers
            # scan a tiny per-user table instead of re-deriving errs
            uagg = loop.checkpoint(errs.groupBy("u").agg(
                F.sum("err").alias("se"),
                *[F.sum(F.col("err") * F.col(f"q{d}")).alias(f"sp{d}")
                  for d in dims],
            ))
            # new_users and new_items below both read only already-landed
            # checkpoints (users/items/edges/errs/uagg) and are independent
            # of each other — their two checkpoint jobs run CONCURRENTLY
            new_users = users.join(st(uagg), "u").select(
                "u", "nu",
                (F.col("bu") + gamma * (F.col("se") - lam * F.col("bu")))
                .alias("bu"),
                *[
                    (F.col(f"p{d}")
                     + gamma * (F.col(f"sp{d}") - lam * F.col(f"p{d}")))
                    .alias(f"p{d}")
                    for d in dims
                ],
            )

            iagg = errs.groupBy("i").agg(
                F.sum("err").alias("se"),
                *[F.sum(F.col("err") * F.col(f"pimp{d}")).alias(f"sq{d}")
                  for d in dims],
            )
            # y gradient: g_u[d] = sp_u[d]/sqrt(nu) broadcast back to every
            # item the user rated (membership join on the edge table)
            g = (
                uagg.join(st(users.select("u", "nu")), "u")
                .select("u", *[
                    (F.col(f"sp{d}") / F.sqrt(F.col("nu"))).alias(f"g{d}")
                    for d in dims
                ])
            )
            yagg = (
                edges.join(st(g), "u")
                .groupBy("i").agg(*[F.sum(f"g{d}").alias(f"t{d}") for d in dims])
            )
            new_items = items.join(st(iagg), "i").join(st(yagg), "i").select(
                "i",
                (F.col("bi") + gamma * (F.col("se") - lam * F.col("bi")))
                .alias("bi"),
                *[
                    (F.col(f"q{d}")
                     + gamma * (F.col(f"sq{d}") - lam * F.col(f"q{d}")))
                    .alias(f"q{d}")
                    for d in dims
                ],
                *[
                    (F.col(f"y{d}")
                     + gamma * (F.col(f"t{d}") - lam * F.col(f"y{d}")))
                    .alias(f"y{d}")
                    for d in dims
                ],
            )
            new_users, new_items = loop.checkpoint(new_users, new_items)
            loop.release(users, items, errs, uagg)
            users, items = new_users, new_items
            if iter_times is not None:
                iter_times.append(round(_time.perf_counter() - _t0, 1))

        loop.keep(edges, users, items)
        imp = _imp(users, items)
        dot = None
        for d in dims:
            term = F.col(f"q{d}") * (F.col(f"p{d}") + F.col(f"imp{d}"))
            dot = term if dot is None else dot + term
        return (
            edges.join(st(users), "u").join(st(items), "i").join(st(imp), "u")
            .select(
                "u", "i", F.col("r").alias("rating"),
                F.round(F.lit(mu) + F.col("bu") + F.col("bi") + dot, 6)
                .alias("pred"),
            )
        )
