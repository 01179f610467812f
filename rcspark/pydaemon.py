"""Spark's Python worker daemon with the engine's imports done once.

``session.get_spark`` names this module in ``spark.python.daemon.module``.
Spark forks every Python worker from the daemon, so each worker starts with
numpy, pandas, pyarrow and the engine's UDF modules already imported instead
of importing them itself (pandas alone takes about 0.5 s).

Run as the daemon, it first takes the archives Spark puts on the workers'
path (``pyspark.zip``, the py4j zip, the spark-core jar) off ``sys.path``,
as long as ``pyspark`` and ``py4j`` still import from a directory without
them. A worker calls ``importlib.invalidate_caches()`` before every task,
and on Python 3.11 every ``zipimporter`` in ``sys.path_importer_cache``
then re-reads its archive's whole central directory: 16 re-reads and
about 0.28 s per task on a 4-vCPU host. The workers fork with the
collector's view of the preloaded heap frozen, so the ``gc.collect()`` a
reused worker runs after each task skips it.
"""

import gc
import os
import sys
from importlib.machinery import PathFinder

# packages the worker imports from Spark's archives if no directory has them
WORKER_PACKAGES = ("pyspark", "py4j")


def without_archives(path: list[str]) -> list[str]:
    """`path` minus its file entries (zip and jar archives), if every
    WORKER_PACKAGES package is then a regular package in a directory on it;
    else `path` unchanged."""
    dirs = [p for p in path if not os.path.isfile(p)]
    for name in WORKER_PACKAGES:
        spec = PathFinder.find_spec(name, dirs)
        if spec is None or spec.origin is None:
            return path
    return dirs


def drop_archives() -> None:
    """Take this process's archive path entries, and their importers, off
    the import system (see `without_archives`)."""
    kept = without_archives(sys.path)
    for p in set(sys.path) - set(kept):
        sys.path_importer_cache.pop(p, None)
    sys.path[:] = kept


if __name__ == "__main__":
    drop_archives()

import numpy  # noqa: E402,F401
import pandas  # noqa: E402,F401
import pyarrow  # noqa: E402,F401
from pyspark import daemon  # noqa: E402

from rcspark import dedup, fetch, parse, schedule  # noqa: E402,F401

if __name__ == "__main__":
    gc.freeze()
    daemon.manager()
