"""Binary fuse filter: zero FN, FPR ~ 2^-f, density approaching the
paper's ~1.13*f bits/key at large shard sizes, partition-invariant
build, merge-raises, registry — same harness as test_xor.py."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from prefix_filter_spark.plans.sharding import hashed_key_col
from prefix_filter_spark.sketches import bfuse

N_KEYS = 40_000


@pytest.fixture(scope="module")
def built(spark):
    keys = spark.range(N_KEYS).select(F.col("id").alias("key"))
    cfg = bfuse.BFuseConfig(n_capacity=N_KEYS, fingerprint_bits=8, num_shards=4, seed=7)
    handle = bfuse.ShardedBFuse.from_df(cfg, bfuse.build_bfuse(keys, "key", cfg))
    return keys, cfg, handle


def _hashes(df, col, seed):
    return df.select(hashed_key_col(col, seed).alias("h")).toPandas()["h"].to_numpy()


def test_zero_false_negatives_and_fpr(spark, built):
    keys, cfg, handle = built
    assert handle.contains_h(_hashes(keys, "key", cfg.seed)).all()
    probes = spark.range(10_000_000, 10_000_000 + 100_000).select(
        F.col("id").alias("key")
    )
    fpr = handle.contains_h(_hashes(probes, "key", cfg.seed)).mean()
    assert fpr <= cfg.theoretical_fpr() * 1.5 + 1e-4, fpr


def test_density_beats_xor_at_large_n():
    """The fuse layout's reason to exist: at >= 500k keys per shard it
    lands near the paper's ~1.13 factor, denser than xor's 1.23."""
    rng = np.random.default_rng(3)
    keys = np.sort(np.unique(rng.integers(0, 2**63, 500_000, dtype=np.uint64)))
    cfg = bfuse.BFuseConfig(n_capacity=len(keys), fingerprint_bits=8, num_shards=1)
    st = bfuse.build_state(cfg, 0, keys)
    bpk = 8 * len(st) / len(keys)
    assert bpk < 9.5, bpk  # xor is 9.84 at any n
    assert bfuse._contains_in_state(st, keys).all()


def test_build_partition_invariant(spark, built):
    keys, cfg, _ = built
    a = {
        (r["shard_id"], bytes(r["state"]))
        for r in bfuse.build_bfuse(keys, "key", cfg).collect()
    }
    b = {
        (r["shard_id"], bytes(r["state"]))
        for r in bfuse.build_bfuse(keys.repartition(13), "key", cfg).collect()
    }
    assert a == b


def test_small_and_empty_shards():
    for n in (0, 1, 2, 100):
        rng = np.random.default_rng(n + 1)
        keys = (
            np.sort(np.unique(rng.integers(0, 2**63, n, dtype=np.uint64)))
            if n
            else np.array([], dtype=np.uint64)
        )
        cfg = bfuse.BFuseConfig(n_capacity=max(n, 4), fingerprint_bits=8, num_shards=1)
        st = bfuse.build_state(cfg, 0, keys)
        if n:
            assert bfuse._contains_in_state(st, keys).all()


def test_merge_raises_and_registry():
    with pytest.raises(ValueError, match="not mergeable"):
        bfuse.merge_states([b"a", b"b"])
    from prefix_filter_spark.registry import Capability, info, supports

    assert info("bfuse8").name == "bfuse"
    assert supports("bfuse", Capability.LOOKUP)
    assert not supports("bfuse", Capability.ADD)
