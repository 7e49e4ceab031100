"""PySpark worker daemon that learns the zip-archive stamps before it forks.

Spark starts it as ``python -m prefix_filter_spark.worker_daemon`` when
``spark.python.daemon.module`` names it, which ``get_spark`` sets when
the workers can import the package. Importing the package installs
``session._install_zip_stat_check``; one ``importlib.invalidate_caches()``
then reads each archive once and keeps its stamp. Every worker the
daemon forks inherits both, so no task start re-reads an unchanged
archive: not a worker's first task, not a task of PySpark's own, and
not under ``spark.python.worker.reuse=false``. It imports neither
pandas nor pyarrow: pyarrow starts a thread, and the daemon forks.
"""

import importlib

import prefix_filter_spark  # noqa: F401  (installs the stamp check)

if __name__ == "__main__":
    from pyspark import daemon

    importlib.invalidate_caches()
    daemon.manager()
