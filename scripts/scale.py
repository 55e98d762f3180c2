#!/usr/bin/env python
"""One harness for every scale row in SCALE.md.

    python scripts/scale.py <family>[,<family>...] [--size N] [--cpus C]
                            [--scratch DIR] [--sf-dir DIR]

A family builds a deterministic input (``scale_data.py``), runs one engine
surface on it and asserts a closed-form or cross-checked property before it
reports, so a row is a verified result and not only a wall clock. Families
live in ``scale_graph.py`` and ``scale_corpus.py``; each is
``fn(spark, size, scratch, **construction)``.

The harness does the shared parts once: the session, the calibration probe
before and after the run (a drifting pair flags a throttled host, so read
the row's walls as upper bounds), each family's wall time and Spark
counters, and one JSON line on stdout. The counters come from perfbench's
``SparkProbe`` (jobs, stages, tasks, shuffle MB). They cover what Spark's
status store still holds (``spark.ui.retainedJobs`` and
``spark.ui.retainedStages``, 1,000 each by default): ``evicted_stages``
counts the stages of the family's jobs that the store had already dropped,
so a stage sum cut short shows there, apart from ``reused_stages``, the
stages Spark skipped because their shuffle output was reused. A row whose
job count reached the store's job limit carries ``jobs_truncated``: jobs
evicted from the store are missing from every counter.

``--size`` replaces the family's primary size (vertices, leaves, documents,
vectors, files, rows, events, orders or users); without it each family runs
at its SCALE.md row's size. Everything else about the input stays at the
row's values.
"""

from __future__ import annotations

import argparse
import inspect
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import scale_corpus  # noqa: E402
import scale_graph  # noqa: E402

# the synthetic corpus borrows its other tables from here; they do not
# enter any family's result, so the repo's committed sf0.01 copy serves
SF_DIR = os.path.join(ROOT, "perfbench", "data", "sf0.01")
FAMILIES = {**scale_graph.FAMILIES, **scale_corpus.FAMILIES}
COUNTERS = ("jobs", "stages", "evicted_stages", "reused_stages", "tasks",
            "shuffle_read_mb", "shuffle_write_mb")


def _probe(spark):
    """perfbench's ``SparkProbe``, with its skipped-stage count split into
    stages the status store evicted and stages skipped for shuffle reuse."""
    from py4j.protocol import Py4JJavaError

    from perfbench.probes import SparkProbe

    class Probe(SparkProbe):
        def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
            t = super().stage_totals(job_ids)
            tracker = self.sc.statusTracker()
            infos = [tracker.getJobInfo(j) for j in job_ids]
            t["evicted_stages"] = t["reused_stages"] = 0
            for s in {s for i in infos if i is not None for s in i.stageIds}:
                try:
                    status = self.store.lastStageAttempt(s).status().toString()
                except Py4JJavaError:
                    t["evicted_stages"] += 1
                    continue
                t["reused_stages"] += status == "SKIPPED"
            return t

    return Probe(spark)


def run(spark, names: list[str], size: int | None, scratch: str,
        sf_dir: str) -> dict:
    """Run ``names`` in order on ``spark``; -> the JSON row."""
    from gmr_spark.session import calibration_probe

    probe = _probe(spark)
    retained_jobs = int(spark.sparkContext.getConf().get(
        "spark.ui.retainedJobs", "1000"))
    calibration_probe(spark)  # warm codegen, so the probe measures the host
    out: dict = {"cpus": spark.sparkContext.defaultParallelism,
                 "calibration_sec": calibration_probe(spark), "families": {}}
    for name in names:
        fn, default_size = FAMILIES[name]
        n = size or default_size
        kw = {"sf_dir": sf_dir} if "sf_dir" in inspect.signature(fn).parameters else {}
        t0 = time.perf_counter()
        with probe.measure(f"scale: {name}") as counters:
            row = fn(spark, n, os.path.join(scratch, name), **kw)
        out["families"][name] = {
            "size": n, "wall_s": round(time.perf_counter() - t0, 1),
            "counters": {k: round(counters[k], 1) for k in COUNTERS}, **row}
        # past retainedJobs the store drops its oldest tenth, so a family
        # whose own jobs were dropped keeps 90-100% of retainedJobs
        if counters["jobs"] >= retained_jobs - retained_jobs // 10:
            out["families"][name]["jobs_truncated"] = True
        print(f"{name}: {json.dumps(out['families'][name])[:400]}",
              file=sys.stderr)
    out["calibration_post_sec"] = calibration_probe(spark)
    return out


def main(argv: list[str] | None = None) -> None:
    listing = "\n".join(
        f"  {name:<12} {fn.__module__}: default size {size:,}"
        + (f", min size {fn.min_size:,}" if hasattr(fn, "min_size") else "")
        for name, (fn, size) in FAMILIES.items())
    p = argparse.ArgumentParser(
        description=__doc__.split("\n\n")[0],
        epilog="families:\n" + listing,
        formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("families", help="comma-separated family names")
    p.add_argument("--size", type=int,
                   help="primary size for every family named (default: each "
                        "family's SCALE.md row size)")
    p.add_argument("--cpus", help="local cores (default: $SPARK_GRAFT_CPUS or 32)")
    p.add_argument("--scratch", default="/tmp/gmr_scale",
                   help="directory for generated corpora and graph files")
    p.add_argument("--sf-dir", default=SF_DIR,
                   help="dataset whose tables the synthetic corpus borrows "
                        "(default: perfbench/data/sf0.01)")
    args = p.parse_args(argv)
    names = [n for n in args.families.split(",") if n]
    unknown = [n for n in names if n not in FAMILIES]
    if unknown or not names:
        p.error(f"unknown family {unknown}; known: {', '.join(FAMILIES)}")

    from gmr_spark.session import get_session

    spark = get_session("gmr_scale", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps(run(spark, names, args.size, args.scratch, args.sf_dir)))


if __name__ == "__main__":
    main()
