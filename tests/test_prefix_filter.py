"""Prefix filter end-to-end: zero FN (hard check, smart_tests.hpp:440-449),
FPR within the published-ballpark bound, merge associativity bit-identical,
SQL registration.
"""

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from prefix_filter_spark.hashing import as_u64
from prefix_filter_spark.plans.sharding import hashed_key_col
from prefix_filter_spark.sketches import prefix_filter as pf

N_KEYS = 100_000


@pytest.fixture(scope="module")
def cfg():
    # capacity == inserted count -> PDs run at the design load 0.95
    return pf.PrefixFilterConfig(n_capacity=N_KEYS, num_shards=16, seed=11)


@pytest.fixture(scope="module")
def keys_df(spark):
    return spark.range(N_KEYS).select(F.col("id").alias("key"))


@pytest.fixture(scope="module")
def built(spark, keys_df, cfg):
    shards_df = pf.build_prefix_filter(keys_df, "key", cfg)
    return pf.ShardedPrefixFilter.from_df(cfg, shards_df)


def _hashes(spark, df, col, seed):
    return df.select(hashed_key_col(col, seed).alias("h")).toPandas()["h"].to_numpy()


def test_zero_false_negatives(spark, keys_df, cfg, built):
    h = _hashes(spark, keys_df, "key", cfg.seed)
    got = built.contains_h(h)
    assert got.all(), f"{(~got).sum()} false negatives"


def test_fpr_within_bound(spark, cfg, built):
    probes = spark.range(50_000_000, 50_000_000 + 200_000).select(F.col("id").alias("key"))
    h = _hashes(spark, probes, "key", cfg.seed)
    fpr = built.contains_h(h).mean()
    # L1 ~ 2^-8 * expected-run-length + spare path; paper-ballpark < 0.6%
    assert fpr <= 0.006, fpr


def test_bits_per_key(cfg, built):
    bpk = built.byte_size() * 8 / N_KEYS
    # 33B per PD / 23.75 keys-per-PD + ~0.8 spare bits ≈ 12; allow slack
    assert bpk < 15, bpk


def test_merge_associativity_bit_identical(cfg):
    rng = np.random.default_rng(5)
    keys = as_u64(rng.integers(0, 2**63, 30_000, dtype=np.int64))
    shard_id = 3
    full = pf.build_state(cfg, shard_id, np.unique(keys))
    parts = np.array_split(keys, 6)
    partials = [pf.build_state(cfg, shard_id, np.unique(p)) for p in parts]
    for trial in range(4):
        states = list(partials)
        r = random.Random(trial)
        r.shuffle(states)
        while len(states) > 1:
            i = r.randrange(len(states) - 1)
            a, b = states.pop(i), states.pop(i)
            states.insert(i, pf.merge_states([a, b], cfg, shard_id))
        assert states[0] == full, f"merge order {trial} diverged"


def test_merge_preserves_overflow_flag(cfg):
    """A partial that overflowed keeps the PD overflowed after merging
    with a subset partial, even if the merged retained set fits."""
    rng = np.random.default_rng(9)
    keys = as_u64(rng.integers(0, 2**63, 40_000, dtype=np.int64))
    a = pf.build_state(cfg, 0, np.unique(keys))
    sub = np.unique(keys[:100])
    b = pf.build_state(cfg, 0, sub)
    merged = pf.merge_states([a, b], cfg, 0)
    assert merged == a  # b ⊆ a ⇒ merge is a no-op, incl. flags & spare


def test_sql_and_yes_workload(spark, keys_df, cfg, built):
    """'yes' lookup workload (fill_vec_by_samples analogue,
    /root/reference/Tests/smart_tests.cpp:113-152): sample inserted keys
    with replacement — all must be found."""
    from prefix_filter_spark.functions import register_contains_udf

    fn = register_contains_udf(spark, "pf_contains_h", built, cfg.seed)
    yes = keys_df.sample(withReplacement=True, fraction=0.3, seed=7)
    n = yes.count()
    assert yes.where(fn("key")).count() == n


def test_tc_spare_variant(spark, keys_df):
    """PF[TC] — the reference's flagship assembly (example.cpp:4-5):
    prefix filter with a two-choice spare."""
    cfg = pf.PrefixFilterConfig(n_capacity=N_KEYS, num_shards=16, seed=11, spare_kind="tc")
    built = pf.ShardedPrefixFilter.from_df(cfg, pf.build_prefix_filter(keys_df, "key", cfg))
    h = _hashes(spark, keys_df, "key", cfg.seed)
    assert built.contains_h(h).all(), "PF[TC] false negatives"
    probes = spark.range(80_000_000, 80_000_000 + 200_000).select(F.col("id").alias("key"))
    fpr = built.contains_h(_hashes(spark, probes, "key", cfg.seed)).mean()
    assert fpr <= 0.006, fpr
    # merge associativity holds with the TC spare too
    rng = np.random.default_rng(6)
    keys = as_u64(rng.integers(0, 2**63, 20_000, dtype=np.int64))
    full = pf.build_state(cfg, 2, np.unique(keys))
    parts = [pf.build_state(cfg, 2, np.unique(p)) for p in np.array_split(keys, 4)]
    merged = pf.merge_states(parts, cfg, 2)
    assert merged == full


def test_cuckoo_spare_variant(spark, keys_df):
    """PF[CF12-Flex] — the reference's third published assembly
    (main-perf.cpp:16-31: Prefix_Filter<CuckooFilterStable<u64,12>>,
    spare sizing wrappers.hpp:529-546): prefix filter with a stable
    cuckoo-filter spare."""
    cfg = pf.PrefixFilterConfig(
        n_capacity=N_KEYS, num_shards=16, seed=11, spare_kind="cuckoo"
    )
    built = pf.ShardedPrefixFilter.from_df(cfg, pf.build_prefix_filter(keys_df, "key", cfg))
    h = _hashes(spark, keys_df, "key", cfg.seed)
    assert built.contains_h(h).all(), "PF[CF12] false negatives"
    probes = spark.range(90_000_000, 90_000_000 + 200_000).select(F.col("id").alias("key"))
    fpr = built.contains_h(_hashes(spark, probes, "key", cfg.seed)).mean()
    assert fpr <= 0.006, fpr
    # merge associativity holds with the cuckoo spare too
    rng = np.random.default_rng(7)
    keys = as_u64(rng.integers(0, 2**63, 20_000, dtype=np.int64))
    full = pf.build_state(cfg, 2, np.unique(keys))
    parts = [pf.build_state(cfg, 2, np.unique(p)) for p in np.array_split(keys, 4)]
    merged = pf.merge_states(parts, cfg, 2)
    assert merged == full


@pytest.mark.parametrize("kind", ["bbf", "impala512"])
def test_blocked_spare_variants(spark, keys_df, kind):
    """PF[BBF-Fixed] and PF[Impala512] — the reference's remaining two
    Prefix_Filter assemblies (main-fpp.cpp:20,23; spare sizing
    wrappers.hpp:564-569,578-593): register-blocked spares, OR-merge."""
    cfg = pf.PrefixFilterConfig(
        n_capacity=N_KEYS, num_shards=16, seed=11, spare_kind=kind
    )
    built = pf.ShardedPrefixFilter.from_df(cfg, pf.build_prefix_filter(keys_df, "key", cfg))
    h = _hashes(spark, keys_df, "key", cfg.seed)
    assert built.contains_h(h).all(), f"PF[{kind}] false negatives"
    probes = spark.range(70_000_000, 70_000_000 + 200_000).select(F.col("id").alias("key"))
    fpr = built.contains_h(_hashes(spark, probes, "key", cfg.seed)).mean()
    assert fpr <= 0.008, fpr  # blocked spares trade ~2x spare FPR for speed
    rng = np.random.default_rng(8)
    keys = as_u64(rng.integers(0, 2**63, 20_000, dtype=np.int64))
    full = pf.build_state(cfg, 2, np.unique(keys))
    parts = [pf.build_state(cfg, 2, np.unique(p)) for p in np.array_split(keys, 4)]
    merged = pf.merge_states(parts, cfg, 2)
    assert merged == full


def test_state_config_mismatch_raises(spark):
    import pytest as _pytest
    import numpy as np

    cfg = pf.PrefixFilterConfig(n_capacity=20_000, num_shards=4, seed=5)
    keys = spark.range(20_000).select(F.col("id").alias("key"))
    handle = pf.ShardedPrefixFilter.from_df(
        cfg, pf.build_prefix_filter(keys, "key", cfg)
    )
    for bad in (
        pf.PrefixFilterConfig(n_capacity=20_000, num_shards=4, seed=6),
        pf.PrefixFilterConfig(n_capacity=20_000, num_shards=4, seed=5, spare_kind="tc"),
    ):
        bad_handle = pf.ShardedPrefixFilter(bad, handle.states)
        with _pytest.raises(ValueError):
            bad_handle.contains_h(np.arange(10, dtype=np.uint64))


@pytest.mark.parametrize("kind", ["xor", "ribbon"])
def test_static_spare_assemblies(spark, keys_df, kind):
    """PF[Xor8] and PF[Ribbon8] — assemblies the reference cannot
    express (its spare needs incremental Adds; the batch build knows
    each shard's full eviction set, so a static build-once spare
    works): zero FN, tight FPR, and merge_states raises with the
    build-once message."""
    cfg = pf.PrefixFilterConfig(
        n_capacity=N_KEYS, num_shards=16, seed=11, spare_kind=kind
    )
    built = pf.ShardedPrefixFilter.from_df(
        cfg, pf.build_prefix_filter(keys_df, "key", cfg)
    )
    h = _hashes(spark, keys_df, "key", cfg.seed)
    assert built.contains_h(h).all(), f"PF[{kind}] false negatives"
    probes = spark.range(80_000_000, 80_000_000 + 200_000).select(
        F.col("id").alias("key")
    )
    fpr = built.contains_h(_hashes(spark, probes, "key", cfg.seed)).mean()
    assert fpr <= 0.006, fpr
    rng = np.random.default_rng(9)
    keys = as_u64(rng.integers(0, 2**63, 20_000, dtype=np.int64))
    parts = [pf.build_state(cfg, 2, np.unique(p)) for p in np.array_split(keys, 4)]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="build-once"):
        pf.merge_states(parts, cfg, 2)
