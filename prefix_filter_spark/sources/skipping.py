"""Composed data skipping: min/max (range) + membership (point) file
pruning in one read path.

The two skipping indexes in this library are complementary:

- ``sources/zorder.py`` lays a table out so parquet per-file min/max
  footer statistics become TIGHT for every z-dimension — range
  predicates prune files, but a point predicate over a high-cardinality
  key still survives in every file whose [min, max] straddles it;
- ``sources/file_index.py`` answers point/membership predicates with a
  per-file AMQ state — zero false negatives, but it knows nothing
  about ranges.

``skipping_read`` applies BOTH to a mixed predicate (the common shape:
``key IN (...) AND ts BETWEEN a AND b``) and reads only files that
survive every pruner; the result is proven identical to filtering the
full scan (conservative pruners, exact predicates re-applied on the
survivors).

Stats come from the parquet FOOTERS via pyarrow (``file_minmax_stats``)
— a metadata-only pass, no data pages read, distributed over the file
list with one task per file batch (at 10^6 files this is a listing-
sized job; on an Iceberg deployment the same numbers come from the
manifest and the pruning logic is unchanged). Stats are stored as a
plain DataFrame ``(file, col, vmin double, vmax double)``: numeric
columns only, exact for |v| < 2^53 (document ids, timestamps, counts —
every pruning column in the testdata); wider values degrade
CONSERVATIVELY via outward rounding, never losing a file that matches.

Reference scope: no counterpart in TomerEven/Prefix-Filter; this is
the engine's table-maintenance family (zorder + file_index + iceberg
manifest) composed into the one call a query planner needs.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prefix_filter_spark.sources.file_index import (
    FileIndexConfig,
    _decode_file_uri,
    hash_probe_keys,
    prune_files,
)

STATS_SCHEMA = "file string, col string, vmin double, vmax double"


def _resolve_files(spark: SparkSession, src) -> list[str]:
    """A directory path, an explicit file list, or a snapshot table's
    content — every skipping entry point takes any of the three (pass
    ``iceberg.content_files(table)`` to skip over a snapshot table)."""
    if isinstance(src, (list, tuple)):
        return sorted(src)
    return sorted(spark.read.parquet(src).inputFiles())


def file_minmax_stats(
    spark: SparkSession, path, cols: list[str]
) -> DataFrame:
    """(file, col, vmin, vmax) per data file from parquet footers —
    metadata-only (no data pages), distributed one task per file chunk.
    Min/max are rounded OUTWARD (floor/ceil to the containing float)
    so pruning stays conservative for integers beyond 2^53.
    ``path``: directory, file list, or a snapshot table's
    ``content_files`` (see ``_resolve_files``)."""
    files = _resolve_files(spark, path)
    want = list(cols)

    def scan(batches):
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for fname in pdf["f"]:
                md = pq.ParquetFile(_decode_file_uri(fname)).metadata
                name_to_idx = {
                    md.schema.column(i).name: i for i in range(md.num_columns)
                }
                for col in want:
                    idx = name_to_idx.get(col)
                    if idx is None:
                        continue
                    lo, hi = math.inf, -math.inf
                    ok = True
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(idx).statistics
                        if st is None or not st.has_min_max:
                            ok = False
                            break
                        try:
                            lo = min(lo, float(st.min))
                            hi = max(hi, float(st.max))
                        except (TypeError, ValueError):
                            ok = False  # non-numeric column: unprunable
                            break
                    if ok and md.num_row_groups:
                        # outward rounding: conservative for ints >2^53
                        rows.append(
                            (fname, col, math.floor(lo), math.ceil(hi))
                        )
                    else:
                        # no stats -> unprunable sentinel row (file
                        # always survives the range pruner)
                        rows.append((fname, col, -math.inf, math.inf))
            yield pd.DataFrame(rows, columns=["file", "col", "vmin", "vmax"])

    fdf = spark.createDataFrame([(f,) for f in files], "f string").repartition(
        max(1, min(len(files), 64))
    )
    return fdf.mapInPandas(scan, schema=STATS_SCHEMA)


def range_prune(
    stats_df: DataFrame, ranges: dict[str, tuple[float, float]]
) -> list[str]:
    """Files whose [vmin, vmax] intersects EVERY requested [lo, hi] —
    a file missing a stats row for some column is kept (conservative).
    Distributed filter over the stats table; only names collect."""
    if not ranges:
        return sorted(
            r["file"] for r in stats_df.select("file").distinct().collect()
        )
    conds = None
    for col, (lo, hi) in ranges.items():
        miss = (
            (F.col("col") == F.lit(col))
            & ((F.col("vmax") < F.lit(float(lo))) | (F.col("vmin") > F.lit(float(hi))))
        )
        conds = miss if conds is None else (conds | miss)
    dead = stats_df.where(conds).select("file").distinct()
    alive = stats_df.select("file").distinct().join(dead, "file", "left_anti")
    return sorted(r["file"] for r in alive.collect())


def skipping_read(
    spark: SparkSession,
    path,
    key_col: str | None = None,
    keys: list | None = None,
    ranges: dict[str, tuple[float, float]] | None = None,
    *,
    index_df: DataFrame | None = None,
    stats_df: DataFrame | None = None,
    cfg: FileIndexConfig | None = None,
) -> DataFrame:
    """Read only the files that can match ``key_col IN keys AND
    (every range)``, then apply the exact predicate — identical to
    filtering the full scan (each pruner is zero-FN; the final filter
    is exact), scanning only the INTERSECTION of the pruners'
    survivor sets.

    ``index_df``: a ``build_file_index`` table for ``key_col`` (point
    pruning; skipped when absent or no keys given). ``stats_df``: a
    ``file_minmax_stats`` table (range pruning; skipped when absent or
    no ranges). Composition beats either alone whenever the predicates
    are independent: survivors multiply, P(both) ~ P(point)*P(range).
    """
    cfg = cfg or FileIndexConfig()
    all_files = _resolve_files(spark, path)
    survivors = {_decode_file_uri(f) for f in all_files}
    if index_df is not None and key_col is not None and keys:
        hashes = hash_probe_keys(spark, keys, cfg.seed)
        hits = prune_files(index_df, np.asarray(hashes), cfg)
        survivors &= {_decode_file_uri(f) for f in hits}
    if stats_df is not None and ranges:
        alive = range_prune(stats_df, ranges)
        survivors &= {_decode_file_uri(f) for f in alive}

    pred = None
    if key_col is not None and keys:
        pred = F.col(key_col).isin(keys)
    for col, (lo, hi) in (ranges or {}).items():
        c = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
        pred = c if pred is None else (pred & c)
    if pred is None:
        raise ValueError("skipping_read needs keys and/or ranges")

    if not survivors:
        # an empty result planned on the JVM (a false filter folds to an
        # empty local relation): no Python task runs to produce it
        first = [_decode_file_uri(f) for f in all_files[:1]]
        return spark.read.parquet(*(first or [path])).where(F.lit(False)).where(pred)
    return spark.read.parquet(*sorted(survivors)).where(pred)


def skip_ratios(
    spark: SparkSession,
    path,
    key_col: str,
    keys: list,
    ranges: dict[str, tuple[float, float]],
    index_df: DataFrame,
    stats_df: DataFrame,
    cfg: FileIndexConfig | None = None,
) -> dict:
    """{'n_files', 'point_only', 'range_only', 'combined'} — fraction
    of files SKIPPED by each pruner alone and by their intersection
    (the gate artifact: combined >= max(point, range))."""
    cfg = cfg or FileIndexConfig()
    all_files = {_decode_file_uri(f) for f in _resolve_files(spark, path)}
    n = len(all_files)
    hashes = hash_probe_keys(spark, keys, cfg.seed)
    point = {_decode_file_uri(f) for f in prune_files(index_df, np.asarray(hashes), cfg)}
    rng = {_decode_file_uri(f) for f in range_prune(stats_df, ranges)}
    both = point & rng
    return {
        "n_files": n,
        "point_only": 1.0 - len(point & all_files) / n,
        "range_only": 1.0 - len(rng & all_files) / n,
        "combined": 1.0 - len(both & all_files) / n,
    }
