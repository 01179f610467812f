"""Spark's Python worker daemon with the engine's imports done once.

``session.get_spark`` names this module in ``spark.python.daemon.module``.
Spark forks every Python worker from the daemon, so each worker starts with
numpy, pandas, pyarrow and the engine's UDF modules already imported instead
of importing them itself (pandas alone takes about 0.5 s).
"""

import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401
from pyspark import daemon

from rcspark import dedup, fetch, parse, schedule  # noqa: F401

if __name__ == "__main__":
    daemon.manager()
