"""Workload definitions: which engine queries a pass runs, and which derived
graphs set-up materializes before the first pass."""

from __future__ import annotations

import random
from collections.abc import Iterator
from dataclasses import dataclass


# --seconds the warm-pass counts below are stated for (the run_seconds of
# BENCHMARK.json). A run makes a fixed number of warm passes, so its sample
# count does not depend on how fast the host happens to be.
REFERENCE_SECONDS = 24.0


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    # graphs derived (and memoized) during set-up, so passes measure the
    # algorithms and set-up measures the derivation
    graphs: tuple[str, ...] = ()
    # warm passes at REFERENCE_SECONDS, scaled linearly for other --seconds
    warm_passes_ref: int = 3

    def warm_passes(self, seconds: float) -> int:
        return max(2, round(self.warm_passes_ref * seconds / REFERENCE_SECONDS))


WORKLOADS = {
    w.name: w
    for w in (
        # Pregel loops over localCheckpoints: a fixed-k loop where every
        # vertex is active every superstep, plus label and peeling
        # fixpoints that run many small census-carrying checkpoint jobs.
        # Warm, kcore_cs runs fastest and pagerank_geo slowest, so the
        # median execution is one of cc_cs's.
        Workload(
            name="graph_loops",
            queries=("pagerank_geo", "cc_cs", "kcore_cs"),
            graphs=("geo", "cs"),
            warm_passes_ref=4,
        ),
        # JVM-only relational plans (driver overhead per short query) mixed
        # with LLM-data operators on Arrow/mapInPandas workers, including
        # the memoized MinHash dedup checkpoint chain.
        Workload(
            name="tpch_llm",
            queries=(
                "q1_pricing_summary", "q3_top_orders", "q5_nation_revenue",
                "q6_forecast_revenue", "q18_large_orders", "window_running",
                "merge_upsert_orders", "dedup_minhash", "cosine_topk_arrow",
                "multimodal_audio",
            ),
        ),
    )
}


def pass_orders(workload: Workload, seed: int) -> Iterator[list[str]]:
    """Query order of each successive pass: a seeded permutation per pass.
    Every pass runs every query exactly once."""
    rng = random.Random(seed)
    while True:
        order = list(workload.queries)
        rng.shuffle(order)
        yield order
