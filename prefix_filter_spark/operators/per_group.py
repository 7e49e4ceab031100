"""Per-group sketch builds with explicit salted repartitioning.

The north-star shape: 'each executor builds per-partition filter/sketch
shards with explicit salted repartitioning for skewed `source` keys,
then tree-merges shards'. A naive groupBy(source).applyInPandas pins
the hot source (50% of a 10^12-row corpus) on one reducer; instead:

  phase 1: groupBy(source, salt) — the hot group fans out over
           ``salt_buckets`` reducers, each builds a partial sketch
           (vectorized pandas);
  phase 2: groupBy(source) merges the tiny partials (associative, so
           the fan-out is semantically free).

Works for every estimate sketch in the library (HLL, CMS, KLL,
t-digest, DDSketch, Misra-Gries, KMV, AMS, Frequent Directions): the
config says which (``cfg.family``).
"""

from __future__ import annotations

import time

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prefix_filter_spark.plans.salting import salt_col
from prefix_filter_spark.sketches import base

GROUP_SCHEMA = (
    "group string, state binary, n_rows long, n_partials long, build_ns long"
)


def sketch_by_group(
    df: DataFrame,
    group_col: str,
    value_col,
    cfg,
    *,
    salt_on: str,
    salt_buckets: int = 16,
) -> DataFrame:
    """-> (group, state, n_rows, n_partials, build_ns) — one ``cfg``
    sketch per group, built skew-safely. NULL values are skipped
    (``n_rows`` still counts their rows)."""
    col = F.col(value_col) if isinstance(value_col, str) else value_col
    salted = df.select(
        F.col(group_col).alias("group"),
        col.alias("v"),
        salt_col(salt_on, salt_buckets).alias("_salt"),
    )
    merge = cfg.family.merge_states

    def build_partial(table: pa.Table) -> pa.Table:
        # Arrow, not pandas: a nullable bigint column would reach pandas
        # as float64 and lose the bits above 2^53
        t0 = time.perf_counter_ns()
        acc = cfg.family.accumulator(cfg)
        acc.update(base.non_null_values(table.column("v"), vector_rows=cfg.family.vector_rows))
        return pa.table(
            {
                "group": table.column("group").slice(0, 1),
                "state": pa.array([acc.to_bytes()], pa.binary()),
                "n_rows": pa.array([table.num_rows], pa.int64()),
                "n_partials": pa.array([1], pa.int64()),
                "build_ns": pa.array([time.perf_counter_ns() - t0], pa.int64()),
            }
        )

    partials = salted.groupBy("group", "_salt").applyInArrow(
        build_partial, schema=GROUP_SCHEMA
    )

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        t0 = time.perf_counter_ns()
        states = [bytes(s) for s in pdf["state"]]
        merged = merge(states, cfg, 0) if len(states) > 1 else states[0]
        return pd.DataFrame(
            {
                "group": [pdf["group"].iloc[0]],
                "state": [merged],
                "n_rows": [int(pdf["n_rows"].sum())],
                "n_partials": [len(states)],
                "build_ns": [int(pdf["build_ns"].sum()) + time.perf_counter_ns() - t0],
            }
        )

    return partials.groupBy("group").applyInPandas(merge_group, schema=GROUP_SCHEMA)
