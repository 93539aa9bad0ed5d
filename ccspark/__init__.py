"""ccspark — a from-scratch PySpark-native crawl/analytics engine.

Capabilities mirror kandreadou/cc-warc-examples (see SURVEY.md): a URL
frontier + fetch scheduler (URL-seen dedup, politeness, robots, priority
queue) over tables of interleaved text+media documents, plus the
reference's analytics surface (tag/word/server counts, host frequencies,
n-gram scoring) re-expressed as idiomatic DataFrame/SQL plans.

Everything is DataFrame-first: Catalyst plans the physical execution; the
only Python on the hot path is vectorized Arrow/pandas UDFs (one URL
canonicalization pass with its priority features, bloom build/probe).
"""

from __future__ import annotations

import os

__version__ = "0.1.0"

#: Number of bloom/seen hash partitions, sized as if for 10^10 keys
#: (BASELINE.md: P=256 at bench scale; scale-up arithmetic documented there).
DEFAULT_SEEN_PARTITIONS = 256


def _host_cpus() -> int:
    """CPUs this process may run on (nproc: honours affinity masks)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _driver_mem() -> str:
    """Half of the host's MemTotal, capped at 16g. In local mode the
    driver JVM hosts every executor thread, so a flat 16g heap on a
    16 GiB host leaves no room for the Python workers or the OS."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f
                      if ln.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return "16g"
    return f"{max(1024, min(16384, kb // 2048))}m"


def get_spark(app_name: str = "ccspark", master: str | None = None,
              shuffle_partitions: int | None = None, extra: dict | None = None):
    """Build the engine's SparkSession with the configs the design assumes.

    AQE on (skew-join splitting + partition coalescing), Arrow on (all
    pandas UDF exchange), UTC session TZ (duckdb oracle parity). Sized to
    the host unless overridden: master local[nproc] (SPARK_GRAFT_CPUS),
    driver memory half of MemTotal up to 16g (CCSPARK_DRIVER_MEM).
    """
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS") or _host_cpus()
    master = master or f"local[{cpus}]"
    # Python workers are separate processes and don't inherit the driver's
    # sys.path — propagate the package root so UDFs deserialize anywhere.
    # (On a real cluster, ship the package with spark-submit --py-files.)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker_pp = pkg_root + os.pathsep + os.environ.get("PYTHONPATH", "")
    shuffle_partitions = shuffle_partitions or int(os.environ.get(
        "CCSPARK_SHUFFLE_PARTITIONS", str(min(64, max(8, os.cpu_count() or 8)))))
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE's empty-relation propagation ELIMINATES CollectMetrics nodes
        # on runtime-empty branches, so Observation.get would hang/fail on
        # empty rounds; the shortcut is worth less than reliable metrics
        .config("spark.sql.adaptive.optimizer.excludedRules",
                "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size: bigger batches cut JVM↔Python socket round-
        # trips (expensive under syscall-intercepting sandboxes), smaller
        # ones bound each Python worker's batch memory. 32k was fastest
        # in the batch-size sweep (BENCH.md).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "32768")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("CCSPARK_DRIVER_MEM") or _driver_mem())
        .config("spark.executorEnv.PYTHONPATH", worker_pp)
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
