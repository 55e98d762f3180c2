#!/usr/bin/env python3
"""gmr_spark benchmark: one run of one workload.

    python3 perfbench/run.py --workload graph_loops --seed 1 --seconds 24 --trace 0

Run from the repository root. Starts one driver process (``engine_run.py``)
on ``local[<cores>]`` over the tables in ``perfbench/data/sf0.01``, samples
the resident memory of its process tree (driver, JVM, Python workers), stops
every process it started, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones. The full record (pass orders, per-query timings and counters, oracle
verdicts) is written to ``perfbench/work/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from probes import children, stat_fields  # noqa: E402
DATA = os.path.join(HERE, "data", "sf0.01")
WORK = os.path.join(HERE, "work")
CHILD_TIMEOUT_S = 165
PAGE = os.sysconf("SC_PAGE_SIZE")
MB = 1024 * 1024


def _args(workloads) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children(pid))
    return out


def _group_members(pgid: int) -> list[int]:
    """Live processes in process group ``pgid`` (field 5 of /proc/pid/stat)."""
    out = []
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            f = stat_fields(pid)
            if f is not None and int(f[2]) == pgid and f[0] != "Z":
                out.append(int(pid))
    return out


def _rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except OSError:
            pass
    return total * PAGE / MB


class RssSampler(threading.Thread):
    """Peak summed RSS of the child and all its descendants, until the file
    ``until`` appears."""

    def __init__(self, pid: int, until: str, interval_s: float = 0.2):
        super().__init__(daemon=True)
        self.pid = pid
        self.until = until
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.stop = threading.Event()

    def run(self) -> None:
        while not self.stop.wait(self.interval_s):
            if os.path.exists(self.until):
                return
            self.peak_mb = max(self.peak_mb, _rss_mb(_tree(self.pid)))


def _steal_ticks() -> int:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def _stop_group(pgid: int) -> None:
    """Kill whatever is left of the child's process group and wait until
    every member has ended."""
    deadline = time.monotonic() + 10
    sig = signal.SIGTERM
    while _group_members(pgid):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        if time.monotonic() > deadline - 5:
            sig = signal.SIGKILL
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes of group {pgid} did not exit")
        time.sleep(0.1)


def tail_latency(samples: dict[str, list[float]]) -> tuple[float, str, int]:
    """(latency, rule, n) over the warm executions, ``samples`` keyed by
    query. The latency at the highest percentile that has at least ten
    executions beyond it; below 21 executions that percentile would not lie
    above the median, so the slowest query's median latency stands in."""
    xs = sorted(x for v in samples.values() for x in v)
    n = len(xs)
    if n < 21:
        return (max(statistics.median(v) for v in samples.values()),
                "slowest query median", n)
    return xs[n - 11], f"p{100.0 * (n - 10) / n:.1f}", n


def _pass_sums(res: dict) -> dict[int, float]:
    sums: dict[int, float] = {}
    for e in res["executions"]:
        sums[e["pass"]] = sums.get(e["pass"], 0.0) + e["latency_s"]
    return sums


def end_to_end(res: dict) -> dict:
    by_query: dict[str, list[float]] = {}
    for e in res["executions"]:
        if e["pass"] >= 1:
            by_query.setdefault(e["query"], []).append(e["latency_s"])
    warm = [x for v in by_query.values() for x in v]
    sums = _pass_sums(res)
    tail, rule, n = tail_latency(by_query)
    res["tail"] = {"rule": rule, "samples": n}
    return {
        "pass_s": (statistics.median(v for p, v in sums.items() if p >= 1), "s"),
        "query_p50_s": (statistics.median(warm), "s"),
        "query_tail_s": (tail, "s"),
        "cold_pass_s": (sums[0], "s"),
        "setup_s": (res["setup"]["setup_s"], "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "exact_frac": (1.0 - res["failed"] / res["attempted"], "ratio"),
    }


# per-layer metric -> (per-query record key, unit); summed over a pass
_SUMMED = {
    "queries.call_s": ("call_s", "s"),
    "sink.save_s": ("save_s", "s"),
    "spark.jobs": ("jobs", "count"),
    "spark.stages": ("stages", "count"),
    "spark.tasks": ("tasks", "count"),
    "spark.shuffle_read_mb": ("shuffle_read_mb", "MB"),
    "spark.shuffle_write_mb": ("shuffle_write_mb", "MB"),
    "spark.task_run_s": ("task_run_s", "s"),
    "spark.task_cpu_s": ("task_cpu_s", "s"),
    "spark.gc_s": ("gc_s", "s"),
    "spark.spill_mb": ("spill_mb", "MB"),
    "plans.blocks_left": ("blocks_left", "count"),
    "plans.conf_drift": ("conf_drift", "count"),
    "python.worker_cpu_s": ("python_worker_cpu_s", "s"),
    "driver.cpu_s": ("driver_cpu_s", "s"),
    "jvm.cpu_s": ("jvm_cpu_s", "s"),
}


def per_layer(res: dict) -> dict:
    s = res["setup"]
    out = {
        "session.start_s": (s["session_start_s"], "s"),
        "sources.views_s": (s["views_s"], "s"),
        "sources.derive_s": (s["derive_s"], "s"),
        "sources.derive_jobs": (s["derive_jobs"], "count"),
    }
    traced = sorted({e["pass"] for e in res["executions"] if e["traced"]})
    by_pass = {p: [e for e in res["executions"] if e["pass"] == p] for p in traced}
    for name, (key, unit) in _SUMMED.items():
        out[name] = (statistics.median(sum(e[key] for e in by_pass[p])
                                       for p in traced), unit)
    out["spark.storage_peak_mb"] = (statistics.median(
        max(e["storage_peak_mb"] for e in by_pass[p]) for p in traced), "MB")
    cores = res["cores"]
    out["spark.slot_util"] = (statistics.median(
        sum(e["task_run_s"] for e in by_pass[p])
        / (cores * sum(e["latency_s"] for e in by_pass[p])) for p in traced),
        "ratio")
    # pass_s of this traced run; an untraced run of the same workload and
    # seed gives the tracing overhead as the difference
    sums = _pass_sums(res)
    out["trace.pass_s"] = (statistics.median(sums[p] for p in traced), "s")
    return out


def main() -> int:
    from workloads import WORKLOADS

    args = _args(WORKLOADS)
    if not os.path.isfile(os.path.join(ROOT, "gmr_spark", "__init__.py")):
        print("perfbench: gmr_spark/ not found next to perfbench/; run from "
              "a checkout of the repository", file=sys.stderr)
        return 2
    if not os.path.isdir(DATA):
        print(f"perfbench: input tables missing under {DATA}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    spark_dir = os.path.join(WORK, "spark")
    out_dir = os.path.join(WORK, "out")
    shutil.rmtree(spark_dir, ignore_errors=True)
    for d in ("local", "tmp", "cwd"):
        os.makedirs(os.path.join(spark_dir, d))
    os.makedirs(out_dir, exist_ok=True)
    child_out = os.path.join(out_dir, f"{tag}.child.json")
    # created by the child just before the warm pass that also runs the
    # oracle check; memory is sampled until then, so DuckDB does not count
    oracle_start = os.path.join(spark_dir, "oracle-start")
    if os.path.exists(child_out):
        os.remove(child_out)

    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in [env.get("PYTHONPATH")] if p]),
        # below host RAM; sf0.01 needs a small fraction of it
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_GRAFT_CPUS": str(cores),
        # one thread per Python worker, so the workers' BLAS and Arrow pools
        # add no threads beyond the task slots
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        # Spark's and Python's working files stay inside perfbench/work
        "SPARK_LOCAL_DIRS": os.path.join(spark_dir, "local"),
        "TMPDIR": os.path.join(spark_dir, "tmp"),
        # no hsperfdata file under the system /tmp either
        "PYSPARK_SUBMIT_ARGS": "--driver-java-options " + shlex.quote(
            f"-Djava.io.tmpdir={spark_dir}/tmp -XX:-UsePerfData") + " pyspark-shell",
    })
    cmd = [sys.executable, os.path.join(HERE, "engine_run.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", DATA, "--cores", str(cores),
           "--oracle-start", oracle_start, "--out", child_out]
    steal0 = _steal_ticks()
    with open(os.path.join(out_dir, f"{tag}.log"), "w") as log:
        t0 = time.monotonic()
        child = subprocess.Popen(cmd + ["--t0", repr(t0)], cwd=os.path.join(spark_dir, "cwd"),
                                 env=env, stdout=log, stderr=subprocess.STDOUT,
                                 start_new_session=True)
        sampler = RssSampler(child.pid, oracle_start)
        sampler.start()
        try:
            code = child.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            sampler.stop.set()
            sampler.join()
            _stop_group(child.pid)
            child.wait()
    wall_s = time.monotonic() - t0
    # share of the host's CPU time taken by other guests during the run
    steal = (_steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK") / (wall_s * os.cpu_count())
    if code != 0 or not os.path.exists(child_out):
        why = "timed out" if code is None else f"exited with {code}"
        print(f"perfbench: engine session {why}; see {log.name}", file=sys.stderr)
        return 1

    with open(child_out) as fh:
        res = json.load(fh)
    # executions with a known outcome: every one of the last warm pass, which
    # is compared with the oracle, plus earlier ones that raised. Earlier
    # executions that returned are not compared, so they count neither way.
    res["attempted"] = len(res["checked"]) + sum(
        f["pass"] < len(res["orders"]) - 1 for f in res["failures"])
    res["failed"] = len(res["failures"])
    res["peak_rss_mb"] = sampler.peak_mb
    res["host"] = {"wall_s": wall_s, "steal_frac": steal}
    metrics = per_layer(res) if args.trace else end_to_end(res)
    res["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    if args.trace:
        untraced = os.path.join(out_dir, tag[:-1] + "0.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["metrics"]["pass_s"]["value"]
            res["trace_overhead_s"] = metrics["trace.pass_s"][0] - base
            print(f"perfbench: tracing overhead on pass_s "
                  f"{res['trace_overhead_s']:+.3f} s against {untraced}",
                  file=sys.stderr)
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump(res, fh, indent=1)
    os.remove(child_out)
    for f in res["failures"]:
        print(f"perfbench: FAILED pass {f['pass']} {f['query']}: {f['error']}",
              file=sys.stderr)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": res["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
