"""Fixed per-task cost of a pandas UDF on local Spark.

Measures, for one checkout of the library:

- ``jvm_agg``: ``sum(id * 0)`` over 1k cached rows, all in the JVM —
  the floor of one Spark job;
- ``udf_1k`` / ``udf_1m``: the same aggregate over a trivial pandas UDF
  that returns zeros, over 1k and 1M cached rows. The UDF references
  the package, so its worker imports the library when it unpickles the
  UDF, as it does for every library UDF;
- ``local_list``: a count over a 3-row ``createDataFrame(<local
  list>)`` frame, whose scan is a task of PySpark's own that imports
  nothing of the library;
- ``invalidate``: the time of ``importlib.invalidate_caches()`` inside
  a task that has imported the library, with the number of
  ``zipimport._read_directory`` calls it makes and the number of zip
  importers the worker holds. PySpark makes that call at the start of
  every task.

Each figure is the median of 7 timed runs after two untimed warm-up
runs. ``--reuse`` sets ``spark.python.worker.reuse`` (default
``true``); with ``false`` every task runs in a freshly forked worker.
The result is one row of ``BENCH/task_overhead.md``, keyed by
``--label`` and ``--reuse``; other rows are kept, so a parent and a
change row can be measured back to back:

    python tools/task_overhead.py --label change
    python tools/task_overhead.py --label parent --checkout ../parent
    python tools/task_overhead.py --label change --reuse false

``--checkout`` names the checkout whose ``prefix_filter_spark`` the
driver and the workers import (default: the one holding this tool).
The row is written to this tool's checkout.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(HERE, "BENCH", "task_overhead.md")
REPS = 7
COLUMNS = (
    "label", "reuse", "python", "jvm_agg 1k ms", "udf 1k ms", "udf 1M ms",
    "local_list 3 ms", "invalidate ms", "reads/task", "zip importers",
)


def _median_ms(fn) -> float:
    for _ in range(2):
        fn()
    times = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def measure(reuse: str) -> dict:
    from pyspark.sql import functions as F

    import prefix_filter_spark

    spark = prefix_filter_spark.get_spark(
        app_name="task-overhead",
        cores=min(4, os.cpu_count() or 4),
        extra_conf={"spark.python.worker.reuse": reuse},
    )

    @F.pandas_udf("long")
    def zeros(ids: pd.Series) -> pd.Series:
        assert prefix_filter_spark.__version__  # imports the library
        return pd.Series(np.zeros(len(ids), dtype=np.int64))

    def invalidate_cost(batches):
        import importlib
        import zipimport

        assert prefix_filter_spark.__version__
        for _ in batches:
            pass
        calls = []
        real = zipimport._read_directory

        def counting(path):
            calls.append(path)
            return real(path)

        zipimport._read_directory = counting
        try:
            t0 = time.perf_counter()
            importlib.invalidate_caches()
            ms = (time.perf_counter() - t0) * 1e3
        finally:
            zipimport._read_directory = real
        importers = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        yield pd.DataFrame(
            {"ms": [ms], "reads": [len(calls)], "importers": [importers]}
        )

    small = spark.range(1_000).cache()
    big = spark.range(1_000_000).cache()
    small.count(), big.count()

    def agg(df, col):
        return lambda: df.select(col.alias("v")).agg(F.sum("v")).collect()

    row = {
        "jvm_agg 1k ms": _median_ms(agg(small, F.col("id") * 0)),
        "udf 1k ms": _median_ms(agg(small, zeros("id"))),
        "udf 1M ms": _median_ms(agg(big, zeros("id"))),
        "local_list 3 ms": _median_ms(
            lambda: spark.createDataFrame([(1,), (2,), (3,)], "a long").count()
        ),
    }
    one = small.coalesce(1)
    # collect, not first(): a task cut short by a limit may not return
    # its worker to the pool, so the next run would start a fresh one
    runs = [
        one.mapInPandas(invalidate_cost, "ms double, reads long, importers long").collect()[0]
        for _ in range(REPS + 2)
    ][2:]
    row["invalidate ms"] = statistics.median(r.ms for r in runs)
    row["reads/task"] = statistics.median(r.reads for r in runs)
    row["zip importers"] = max(r.importers for r in runs)
    spark.stop()
    return row


def write_row(row: dict) -> None:
    head = "| " + " | ".join(COLUMNS) + " |"
    rows = {}
    if os.path.exists(OUT):
        for line in open(OUT):
            cells = [c.strip() for c in line.strip().strip("|").split("|")]
            if line.startswith("| ") and line.strip() != head and len(cells) == len(COLUMNS):
                rows[cells[0], cells[1]] = line.rstrip("\n")
    rows[row["label"], row["reuse"]] = "| " + " | ".join(
        f"{row[c]:.1f}" if isinstance(row[c], float) else str(row[c]) for c in COLUMNS
    ) + " |"
    with open(OUT, "w") as f:
        f.write(
            "# Fixed per-task cost of a pandas UDF\n\n"
            "`python tools/task_overhead.py --label <label> [--reuse true|false]"
            " [--checkout DIR]`;"
            " medians of timed runs after two warm-up runs. Columns are"
            " defined in the tool's docstring.\n\n"
        )
        f.write(head + "\n|" + "---|" * len(COLUMNS) + "\n")
        f.write("\n".join(rows.values()) + "\n")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--label", required=True)
    ap.add_argument("--checkout", default=HERE)
    ap.add_argument("--reuse", choices=("true", "false"), default="true")
    args = ap.parse_args()
    checkout = os.path.abspath(args.checkout)
    # the workers run in the driver's directory and put it first on
    # their path: run there so they import the same checkout
    os.chdir(checkout)
    sys.path.insert(0, checkout)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (checkout, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    row = measure(args.reuse)
    row["label"], row["reuse"] = args.label, args.reuse
    row["python"] = ".".join(map(str, sys.version_info[:3]))
    write_row(row)
    print(row)
    return 0


if __name__ == "__main__":
    sys.exit(main())
