"""SparkSession factory.

Replaces the reference's MPI_Init/rank discovery (igmr.cpp:45-47). Config is
tuned for the harness's local[32] single-JVM mode but every knob is the one
you'd set on a real cluster too (AQE, skew join, shuffle partitions ~ cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


# cgroup v2, then v1: the memory limit of the process's own cgroup
_CGROUP_MEMORY_LIMITS = ("/sys/fs/cgroup/memory.max",
                         "/sys/fs/cgroup/memory/memory.limit_in_bytes")


def _memory_limit() -> int:
    """The bytes this process may use: the host's physical memory, or its
    cgroup's memory limit where that is smaller (v2 writes ``max`` and v1 a
    huge number when there is none)."""
    limit = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    for path in _CGROUP_MEMORY_LIMITS:
        try:
            with open(path) as f:
                limit = min(limit, int(f.read()))
        except (OSError, ValueError):
            pass
    return limit


def _driver_memory(limit_bytes: int) -> str:
    """The default driver heap for a process that may use ``limit_bytes``
    of memory: half of it in whole GiB, at least 1g and at most 16g. A heap
    sized to the whole host starves everything else on it (a 16g default
    grew the JVM to 13.5 GB RSS on a 15 GB host at quarter scale), and
    above 16g G1 stalled for seconds at a time growing and shrinking the
    heap (five 48g sessions each hit at least one 25-70 s spike on an
    8-15 s Pregel query; 8-16g sessions ran 20+ times without one)."""
    return f"{max(1, min(16, limit_bytes // 2 // 2**30))}g"


def get_session(app_name: str = "gmr_spark", cpus: str | int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    At 100 TB scale the same settings apply, minus ``master`` and
    ``driver.memory`` which the cluster manager owns:
    - AQE on: runtime partition coalescing + skew-join splitting stands in for
      the reference's hand-balanced hash partitioning (partition.h:51-78).
    - shuffle.partitions ~= total cores locally; on a 1000-executor cluster
      this should be 2-3x total cores (or left to AQE's coalescing).
    - Arrow enabled: every Pandas-UDF operator (dedup, multimodal) rides Arrow.
    """
    cpus = str(cpus or _DEFAULT_CPUS)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.default.parallelism", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # scale probes that need a different heap set SPARK_GRAFT_DRIVER_MEM
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                or _driver_memory(_memory_limit()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # explicit-hint broadcasts (adaptive frontier, triangle closure
        # probe) collect their build side through the driver; the 1g default
        # caps them far below what a 48g driver can host. On a cluster the
        # driver's owner sets this alongside driver.memory.
        .config("spark.driver.maxResultSize", "8g")
    )
    # NOT set here, deliberately — spark.shuffle.accurateBlockThreshold
    # (static core conf). At >= spark.shuffle.minNumPartitionsToHighlyCompress
    # (2000) reduce partitions, map statuses AVERAGE every block below that
    # threshold (100 MB default), so AQE skew-join goes blind to hot keys
    # whose per-map blocks are smaller — measured at 110M rows: the same
    # join splits at 1024 partitions and pays 6.9x the wall unsplit at 2048
    # (SCALE.md round 8). The fix is workload-sized, not a constant: the
    # threshold must sit below hot_key_total_bytes / n_map_tasks, but every
    # block ABOVE it costs 8 exact bytes per map status, and a blanket low
    # value at 10k-maps x 10k-partitions scale rebuilds the driver-memory
    # problem the 2000-partition cutoff exists to avoid. Deployments relying
    # on AQE skew-join at >2000 partitions set it per job.
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _prewarm_python_workers(spark)
    return spark


# app ids whose Python worker pool was already pre-warmed — getOrCreate can
# hand the same live session back any number of times
_PREWARMED_APPS: set[str] = set()


def _prewarm_python_workers(spark: SparkSession) -> None:
    """Fork-and-warm the per-slot Python worker pool at session start
    (optimization guide §4.5): one trivial pandas-UDF stage across every
    task slot, so the pool behind ``spark.python.worker.reuse`` is populated
    and each worker has paid its interpreter fork + pandas/numpy import
    BEFORE the first real Arrow stage runs.

    Measured (r15, sf0.1): the first Arrow-UDF jobs of a fresh session run
    ~1.8-1.9 s for a sub-ms kernel on one task (two such jobs in
    ``ann_ivf_pq``'s plan), and the first PARALLEL Arrow stage forks ~29
    cold workers at once — all pure worker cold-start billed to whichever
    ANN/multimodal query runs first. The warm-up pays the same cost once,
    at session creation, where every later caller amortizes it; on a real
    cluster the same stage warms each executor's pool."""
    app_id = spark.sparkContext.applicationId
    if app_id in _PREWARMED_APPS:
        return
    _PREWARMED_APPS.add(app_id)
    try:
        # mapInPandas, not a pandas_udf: this module has
        # ``from __future__ import annotations``, which turns UDF type
        # hints into strings that pyspark's hint inference cannot resolve
        # (UNSUPPORTED_SIGNATURE) — mapInPandas declares its schema
        # explicitly and still rides the same Arrow worker path, so the
        # fork + pandas/pyarrow/numpy import is paid identically.
        def _touch(batches):
            import numpy  # noqa: F401 — the Arrow kernels' import, paid here

            yield from batches

        n = spark.sparkContext.defaultParallelism
        spark.sparkContext.setJobDescription("session: python worker prewarm")
        try:
            (spark.range(n, numPartitions=n).mapInPandas(_touch, "id long")
             .write.format("noop").mode("overwrite").save())
        finally:
            spark.sparkContext.setJobDescription(None)
    except Exception:
        # warm-up is an optimization, never a gate: a failure (e.g. a
        # pandas-less driver env) must not block session creation
        import warnings

        warnings.warn("gmr_spark.session: python worker pre-warm failed; "
                      "first Arrow stage will pay worker cold-start",
                      RuntimeWarning, stacklevel=2)


def calibration_probe(spark: SparkSession) -> float:
    """Fixed synthetic workload (~0.16-0.25 s on an unloaded 32-core host):
    the shared host-health probe bench.py and scripts/scale.py record
    before/after their runs. ONE definition on purpose — the SCALE.md
    host-noise methodology compares probe values across artifacts, so the
    workload must never drift between call sites. Callers run it once to
    warm codegen, then record the second call."""
    import time

    t0 = time.perf_counter()
    spark.range(0, 200_000_000, 1, 32).selectExpr("sum(id * 3 % 7)").collect()
    return round(time.perf_counter() - t0, 3)
