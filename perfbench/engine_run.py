"""One benchmark session in a fresh driver process: set-up, a cold pass, then
warm passes; the last warm pass also checks each result against its DuckDB
oracle, after the timed save.

Started by ``run.py``, which owns the process tree and reports the metrics.
Creates the ``--oracle-start`` file just before the last warm pass, so that
``run.py`` stops sampling memory before any oracle work. Writes its
measurements as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import sys
import time
import traceback


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--data", required=True)
    p.add_argument("--cores", type=int, required=True)
    p.add_argument("--t0", type=float, required=True,
                   help="time.monotonic() when the parent started this process")
    p.add_argument("--oracle-start", required=True)
    p.add_argument("--out", required=True)
    return p.parse_args()


class Session:
    def __init__(self, args: argparse.Namespace):
        self.args = args
        self.trace = bool(args.trace)
        self.executions: list[dict] = []
        self.failures: list[dict] = []
        self.checked: list[dict] = []
        self.setup: dict[str, float] = {}

    # -- set-up ----------------------------------------------------------
    def set_up(self) -> None:
        from gmr_spark.queries import all_oracles, all_queries
        from gmr_spark.session import get_session
        from gmr_spark.sources.derive import derive_graph
        from gmr_spark.sources.tables import register_views

        from workloads import WORKLOADS

        self.workload = WORKLOADS[self.args.workload]
        t = time.monotonic()
        self.spark = get_session("perfbench", cpus=self.args.cores)
        self.setup["session_start_s"] = time.monotonic() - t
        # log4j chatter from deliberately dropped checkpoint blocks
        self.spark.sparkContext.setLogLevel("ERROR")
        self.probe = None
        if self.trace:
            from probes import SparkProbe

            self.probe = SparkProbe(self.spark)
        sf = self.args.data
        t = time.monotonic()
        register_views(self.spark, sf)
        self.setup["views_s"] = time.monotonic() - t
        if self.probe:
            self.spark.sparkContext.setJobGroup("setup:derive", "derive graphs")
            self.probe.new_jobs("setup:derive")
        t = time.monotonic()
        for g in self.workload.graphs:
            derive_graph(self.spark, sf, g, materialize=True)
        self.setup["derive_s"] = time.monotonic() - t
        if self.probe:
            self.setup["derive_jobs"] = len(self.probe.new_jobs("setup:derive"))
            self.spark.sparkContext.setJobGroup("bench", "untraced")
        registry = all_queries()
        self.queries = {n: registry[n] for n in self.workload.queries}
        oracles = all_oracles()
        self.oracle_sql = {n: oracles[n] for n in self.workload.queries}
        self.setup["setup_s"] = time.monotonic() - self.args.t0

    def _oracle(self):
        import duckdb

        from gmr_spark.sources.tables import TABLES

        con = duckdb.connect()
        con.execute(f"SET threads = {self.args.cores}")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.args.data}/{t}.parquet'")
        return con

    # -- passes ------------------------------------------------------------
    def _cleanup(self) -> None:
        # the policy bench.py applies after every query
        self.spark.catalog.clearCache()
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def _execute(self, pass_no: int, name: str, traced: bool,
                 oracle=None) -> None:
        """Time one query into the noop sink; with a DuckDB connection
        ``oracle``, then compare its frame with the oracle, untimed."""
        rec: dict = {"pass": pass_no, "query": name, "traced": traced}
        counters = (self.probe.measure(f"p{pass_no}:{name}") if traced
                    else contextlib.nullcontext({}))
        df = None
        try:
            with counters as layer:
                t0 = time.monotonic()
                df = self.queries[name](self.spark, self.args.data)
                t1 = time.monotonic()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.monotonic()
            rec.update(call_s=t1 - t0, save_s=t2 - t1, latency_s=t2 - t0,
                       **layer)
            self.executions.append(rec)
            if oracle is not None:
                from tests.oracle_check import compare

                # the rule of the correctness tests: same columns, rows and
                # type classes, exact values
                compare(df, oracle, self.oracle_sql[name])
        except Exception as exc:
            rec["error"] = f"{type(exc).__name__}: {exc}".splitlines()[0]
            self.failures.append({"pass": pass_no, "query": name,
                                  "error": rec["error"]})
            traceback.print_exc()
        if oracle is not None:
            self.checked.append({"query": name, "error": rec.get("error")})
        del df
        t = time.monotonic()
        self._cleanup()
        rec["cleanup_s"] = time.monotonic() - t

    def run_pass(self, pass_no: int, order: list[str], step) -> None:
        from gmr_spark.operators.dedup import clear_dedup_memo

        # each pass starts without the dedup memo; the graph memo stays
        clear_dedup_memo()
        for name in order:
            step(pass_no, name)

    def run(self) -> dict:
        from workloads import pass_orders

        self.set_up()
        orders = pass_orders(self.workload, self.args.seed)
        ran: list[list[str]] = []

        def one(step) -> None:
            order = next(orders)
            self.run_pass(len(ran), order, step)
            ran.append(order)

        one(lambda p, n: self._execute(p, n, traced=False))  # cold pass
        t_warm = time.monotonic()
        # a fixed number of warm passes sized to --seconds. A traced run
        # traces every warm pass, so its schedule matches an untraced run's.
        n_warm = self.workload.warm_passes(self.args.seconds)
        for _ in range(n_warm - 1):
            one(lambda p, n: self._execute(p, n, traced=self.trace))
        open(self.args.oracle_start, "w").close()
        con = self._oracle()
        try:
            one(lambda p, n: self._execute(p, n, self.trace, oracle=con))
        finally:
            con.close()
        measured_s = time.monotonic() - t_warm
        return {
            "workload": self.workload.name,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "cores": self.args.cores,
            "orders": ran,
            "measured_s": measured_s,
            "setup": self.setup,
            "checked": self.checked,
            "failures": self.failures,
            "executions": self.executions,
        }


def main() -> int:
    args = _args()
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    session = Session(args)
    try:
        result = session.run()
    finally:
        spark = getattr(session, "spark", None)
        if spark is not None:
            spark.stop()
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
