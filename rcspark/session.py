"""SparkSession factory with the engine's standard configuration.

Local mode here; on a real cluster the same builder flags ride along with
``spark-submit --py-files`` (scripts/submit_crawl.sh). Arrow is mandatory —
every Python-side operator in this engine is a vectorized pandas/Arrow UDF
(BASELINE.json input_hint: "no per-row Python").
"""

from __future__ import annotations

import os
from collections.abc import Mapping

from pyspark.sql import SparkSession

# rows per Arrow batch handed to a pandas UDF; schedule.wave_partitions
# sizes a crawl wave's seq fan-out and kept-row reads in these batches
ARROW_BATCH_ROWS = 65536

# local mode: the driver heap IS the executor heap. Half the host's RAM
# leaves the rest to the Python workers (Arrow batches, pandas UDFs) and
# the OS. The 48g cap is the old fixed default, sized for local[32] on a
# 128 GiB host, where 8g GC-thrashed (BENCH/SCALING.md).
DRIVER_HEAP_SHARE = 0.5
DRIVER_HEAP_CAP_GIB = 48
DRIVER_HEAP_FALLBACK = "4g"  # RAM size unreadable

# generated classes Spark keeps compiled (static; Spark's default is 100).
# One crawl wave compiles about 166, so at 100 they evict one another
# before the next wave reuses them; 2,000 holds a wave's working set with
# room for the per-wave classes that inline the wave number.
CODEGEN_CACHE_ENTRIES = 2000

# Spark forks its Python workers from this daemon, which has the engine's
# UDF modules and their numpy/pandas/pyarrow imports already loaded, and
# with Spark's pyspark/py4j/spark-core archives off its path (a worker
# re-read them all before every task; see pydaemon). The workers' path
# names this package's root, so the daemon starts whatever the driver's
# working directory is.
PYTHON_DAEMON_MODULE = "rcspark.pydaemon"
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _mem_total_bytes() -> int | None:
    """Physical RAM: MemTotal from /proc/meminfo, else sysconf, else None."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError, IndexError):
        pass
    try:
        return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):
        return None


def resource_defaults(
    env: Mapping[str, str],
    cpu_count: int | None,
    mem_total_bytes: int | None,
) -> tuple[int, str]:
    """(local[n] cores, driver heap) for a host with `cpu_count` CPUs and
    `mem_total_bytes` of RAM. SPARK_GRAFT_CPUS and RCSPARK_DRIVER_MEM in
    `env` override the sized values."""
    cores = int(env.get("SPARK_GRAFT_CPUS") or max(1, cpu_count or 1))
    heap = env.get("RCSPARK_DRIVER_MEM")
    if not heap:
        if mem_total_bytes is None:
            heap = DRIVER_HEAP_FALLBACK
        else:
            gib = int(mem_total_bytes * DRIVER_HEAP_SHARE) >> 30
            heap = f"{max(1, min(DRIVER_HEAP_CAP_GIB, gib))}g"
    return cores, heap


def get_spark(
    app: str = "rcspark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    default_cores, heap = resource_defaults(
        os.environ, os.cpu_count(), _mem_total_bytes()
    )
    cores = cores or default_cores
    shuffle_partitions = shuffle_partitions or cores
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", heap)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.daemon.module", PYTHON_DAEMON_MODULE)
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
        .getOrCreate()
    )
