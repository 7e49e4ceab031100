import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from prefix_filter_spark.hashing import as_u64
from prefix_filter_spark.plans.sharding import hashed_key_col
from prefix_filter_spark.sketches import two_choice as tc

N = 80_000


@pytest.fixture(scope="module")
def cfg():
    return tc.TwoChoiceConfig(n_capacity=N, num_shards=16, seed=8)


def test_zero_fn_and_fpr(spark, cfg):
    keys = spark.range(N).select(F.col("id").alias("key"))
    handle = tc.ShardedTwoChoice.from_df(cfg, tc.build_two_choice(keys, "key", cfg))
    h = keys.select(hashed_key_col("key", cfg.seed).alias("h")).toPandas()["h"].to_numpy()
    assert handle.contains_h(h).all(), "false negatives"
    probes = (
        spark.range(7 * 10**9, 7 * 10**9 + 200_000)
        .select(hashed_key_col(F.col("id"), cfg.seed).alias("h"))
        .toPandas()["h"]
        .to_numpy()
    )
    fpr = handle.contains_h(probes).mean()
    # ~2 buckets x 16 slots x 2^-12 x small const; assert a loose bound
    assert fpr <= 0.02, fpr


def test_little_overflow_at_design_load(cfg):
    rng = np.random.default_rng(1)
    keys = as_u64(rng.integers(0, 2**63, N // cfg.num_shards, dtype=np.int64))
    state = tc.build_state(cfg, 0, np.unique(keys))
    _, _, _, _, overflow, _, _ = tc._parse_state(state)
    assert len(overflow) < len(keys) * 0.01  # two-choice keeps overflow tiny


def test_merge_bit_identical_any_order(cfg):
    rng = np.random.default_rng(2)
    keys = as_u64(rng.integers(0, 2**63, 20_000, dtype=np.int64))
    full = tc.build_state(cfg, 0, np.unique(keys))
    parts = np.array_split(keys, 6)
    partials = [tc.build_state(cfg, 0, np.unique(p)) for p in parts]
    for t in range(4):
        s = list(partials)
        r = random.Random(t)
        r.shuffle(s)
        while len(s) > 1:
            i = r.randrange(len(s) - 1)
            a, b = s.pop(i), s.pop(i)
            s.insert(i, tc.merge_states([a, b], cfg))
        assert s[0] == full, t


def test_arrival_order_free(cfg):
    rng = np.random.default_rng(3)
    keys = as_u64(rng.integers(0, 2**63, 10_000, dtype=np.int64))
    a = tc.build_state(cfg, 0, np.unique(keys))
    b = tc.build_state(cfg, 0, np.unique(rng.permutation(keys)))
    assert a == b


def test_remove_keys_distributed(spark, cfg):
    """Delete support (TC-shortcut.hpp:251-264 parity): removed keys
    drop out, every remaining key still answers true (zero FN), and
    removing never-inserted keys is a no-op modulo pair collisions."""
    keys = spark.range(N).select(F.col("id").alias("key"))
    shards = tc.build_two_choice(keys, "key", cfg).cache()
    to_remove = keys.where(F.col("key") % 10 == 3)  # 10% of keys
    after = tc.remove_keys(to_remove, "key", cfg, shards).cache()
    handle = tc.ShardedTwoChoice.from_df(cfg, after)

    # lineage honesty: n_keys is recounted from the rebuilt state, so
    # post-delete it must track the surviving population (not the
    # pre-delete upper bound), modulo pair-collision collateral
    n_before = sum(r["n_keys"] for r in shards.select("n_keys").collect())
    n_after = sum(r["n_keys"] for r in after.select("n_keys").collect())
    n_removed = to_remove.count()
    assert n_after < n_before
    assert abs(n_after - (n_before - n_removed)) <= 0.01 * N, (n_before, n_after)

    from prefix_filter_spark.plans.sharding import hashed_key_col

    kept = keys.where(F.col("key") % 10 != 3)
    h_kept = kept.select(hashed_key_col("key", cfg.seed).alias("h")).toPandas()["h"].to_numpy()
    # fingerprint-granularity delete: a kept key sharing its (bucket,fp)
    # pair with a removed key is deleted with it (documented caveat, same
    # class as reference cuckoo deletes). Expected collateral rate here
    # ~ removed_pairs/pair_space ~ 3e-4; assert an order above that.
    kept_rate = handle.contains_h(h_kept).mean()
    assert kept_rate > 1 - 3e-3, kept_rate
    h_rm = to_remove.select(hashed_key_col("key", cfg.seed).alias("h")).toPandas()["h"].to_numpy()
    still = handle.contains_h(h_rm).mean()
    assert still < 0.02, still  # residual = fp-collision rate only

    # removing keys never inserted leaves members intact
    ghosts = spark.range(9 * 10**9, 9 * 10**9 + 5_000).select(F.col("id").alias("key"))
    after2 = tc.remove_keys(ghosts, "key", cfg, after)
    h2 = tc.ShardedTwoChoice.from_df(cfg, after2)
    assert h2.contains_h(h_kept).mean() > 0.999


def test_remove_on_uncompacted_partials(spark, cfg):
    """Deleting from a shards DF holding multiple per-batch partial rows
    per shard must merge first (base.remove_keys_sharded contract)."""
    keys_a = spark.range(0, 20_000).select(F.col("id").alias("key"))
    keys_b = spark.range(20_000, 40_000).select(F.col("id").alias("key"))
    partials = tc.build_two_choice(keys_a, "key", cfg).unionByName(
        tc.build_two_choice(keys_b, "key", cfg)
    )
    dead = spark.range(0, 2_000).select(F.col("id").alias("key"))
    after = tc.remove_keys(dead, "key", cfg, partials)
    handle = tc.ShardedTwoChoice.from_df(cfg, after)
    hd = dead.select(hashed_key_col("key", cfg.seed).alias("h")).toPandas()["h"].to_numpy()
    assert not handle.contains_h(hd).any(), "deleted keys resurrected from a dropped partial"
    alive = (
        spark.range(2_000, 40_000)
        .select(hashed_key_col(F.col("id"), cfg.seed).alias("h"))
        .toPandas()["h"].to_numpy()
    )
    assert (~handle.contains_h(alive)).sum() <= 20


def test_config_and_geometry_validation(cfg):
    import pytest as _pytest

    with _pytest.raises(ValueError):
        tc.TwoChoiceConfig(n_capacity=1000, fp_bits=15)
    other = tc.TwoChoiceConfig(n_capacity=N, num_shards=16, seed=99)
    st = tc.build_state(cfg, 0, np.arange(100, dtype=np.uint64))
    with _pytest.raises(ValueError):
        tc.merge_states([st], other)  # same geometry, different seed
    with _pytest.raises(ValueError):
        tc._contains_in_state(other, st, np.arange(10, dtype=np.uint64))
