import numpy as np
import pytest
from pyspark.sql import functions as F

from prefix_filter_spark.hashing import as_u64
from prefix_filter_spark.plans.sharding import hashed_key_col
from prefix_filter_spark.sketches import blocked_bloom as bb

N = 50_000


@pytest.mark.parametrize("block_bytes", [32, 64])
def test_zero_fn_and_fpr(spark, block_bytes):
    cfg = bb.BlockedBloomConfig(
        n_capacity=N, bits_per_key=10, block_bytes=block_bytes, num_shards=8, seed=2
    )
    keys = spark.range(N).select(F.col("id").alias("key"))
    handle = bb.ShardedBlockedBloom.from_df(cfg, bb.build_blocked_bloom(keys, "key", cfg))
    h = keys.select(hashed_key_col("key", cfg.seed).alias("h")).toPandas()["h"].to_numpy()
    assert handle.contains_h(h).all()
    probes = (
        spark.range(10**9, 10**9 + 200_000)
        .select(hashed_key_col(F.col("id"), cfg.seed).alias("h"))
        .toPandas()["h"]
        .to_numpy()
    )
    fpr = handle.contains_h(probes).mean()
    # blocked bloom pays ~2-4x classic bloom FPR at same bpk (reference
    # trade-off); bound loose but non-vacuous
    assert fpr < 0.05, fpr


def test_merge_bit_identical():
    cfg = bb.BlockedBloomConfig(n_capacity=10_000, num_shards=4, seed=3)
    rng = np.random.default_rng(0)
    keys = as_u64(rng.integers(0, 2**63, 10_000, dtype=np.int64))
    full = bb.build_state(cfg, 0, np.unique(keys))
    parts = np.array_split(keys, 5)
    partials = [bb.build_state(cfg, 0, np.unique(p)) for p in parts]
    import random

    for t in range(3):
        s = list(partials)
        random.Random(t).shuffle(s)
        while len(s) > 1:
            s = [bb.merge_states(s[:2])] + s[2:]
        assert s[0] == full
