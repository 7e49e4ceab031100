"""Distributed probe paths over shard-state DataFrames.

Two regimes (SURVEY.md §7 'Broadcast size for probe UDFs'):

- broadcast probe (functions.register_contains_udf): state rides a
  broadcast; probes stay wherever they are — right when total state
  fits comfortably per executor (<= a few hundred MB).
- join probe (here): probes are routed to their shard row by the same
  Catalyst shard expression and evaluated inside one grouped pandas
  pass per shard — right when the filter state is too large to
  broadcast (e.g. 10^12 keys -> ~1.5 TB of PD arrays across shards).
  Each shard's state is held exactly once per group; the shuffle moves
  only (h, shard_id) pairs, never the state.

Both paths produce identical answers (pytest-verified).
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from prefix_filter_spark.hashing import as_u64
from prefix_filter_spark.plans.sharding import hashed_key_col, shard_col, widen_key_col

# probe_fn(state_bytes, shard_id, h_u64_array) -> bool array
ProbeFn = Callable[[bytes, int, np.ndarray], np.ndarray]


def probe_via_join(
    probes: DataFrame,
    key_col,
    shards_df: DataFrame,
    *,
    seed: int,
    num_shards: int,
    probe_fn: ProbeFn,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """-> (<id_cols...>, h bigint, contains boolean).

    One shuffle of the probe stream (hash-partitioned by shard, same
    routing as the build), plus a co-grouped join against the single
    state row per shard via cogroup (state never replicated per probe
    row).
    """
    id_cols = id_cols or []
    h = hashed_key_col(widen_key_col(probes, key_col), seed)
    keyed = probes.select(
        *id_cols, h.alias("h"), shard_col(h, num_shards).alias("shard_id")
    )
    state_side = shards_df.select("shard_id", "state")

    out_schema = ", ".join(
        [f"{c} {t}" for c, t in zip(id_cols, _types_of(probes, id_cols))]
        + ["h bigint", "contains boolean"]
    )

    def eval_group(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0:
            return pd.DataFrame(columns=[*id_cols, "h", "contains"])
        res = np.zeros(len(left), dtype=bool)
        if len(right):
            sid = int(left["shard_id"].iloc[0])
            state = bytes(right["state"].iloc[0])
            res = probe_fn(state, sid, as_u64(left["h"].to_numpy()))
        out = left[[*id_cols, "h"]].copy()
        out["contains"] = res
        return out

    return (
        keyed.groupBy("shard_id")
        .cogroup(state_side.groupBy("shard_id"))
        .applyInPandas(eval_group, schema=out_schema)
    )


def _types_of(df: DataFrame, cols: list[str]) -> list[str]:
    m = dict(df.dtypes)
    return [m[c] for c in cols]


def probe_fn_for(cfg) -> ProbeFn:
    """probe_via_join kernel for the filter ``cfg`` configures, from the
    same family record the broadcast handle (base.ShardedFilter) uses:
    prepare the group's shard state — header check, decode — then probe
    it. Both probe regimes therefore run the same per-shard code."""
    family = cfg.family

    def fn(state: bytes, shard_id: int, h: np.ndarray) -> np.ndarray:
        return family.probe_state(cfg, family.prepare_state(cfg, state), shard_id, h)

    return fn
