"""The Python worker daemon of the engine's sessions.

Spark forks each Python worker from one daemon process
(``spark.python.daemon.module``, set in ``session.get_spark``). This is
``pyspark.daemon`` with two changes for the workers it forks:

- numpy, pandas and pyarrow are imported first, so a worker forked after
  the idle pool evicted its predecessor starts with them loaded, in pages
  it shares with the daemon, instead of paying their import again
  (~0.35 s for pandas alone).
- A worker calls ``importlib.invalidate_caches()`` before every task
  (``pyspark.worker_util.setup_spark_files``). On Python 3.11 that makes
  each ``zipimporter`` re-read its archive's whole directory: with
  pyspark imported from Spark's ``pyspark.zip`` that is 14 re-reads,
  ~0.11 s of CPU per task. The archives on a worker's path do not change
  while it lives (a py-file Spark adds is a new path, read on its first
  import), so the workers keep the directories they have read.
"""

import zipimport

import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401
from pyspark import daemon


def _keep_directory(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` for archives that do not change."""


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _keep_directory
    daemon.manager()
