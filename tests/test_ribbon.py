"""Ribbon filter end-to-end: zero false negatives, FPR ~ 2^-f, the
paper's ~(1+eps)f bits/key (densest static filter in the family),
partition-invariant build, linear-system semantics verified against a
brute-force GF(2) checker, and loud rejection of merge /
config-mismatch probes.

Same harness shape as the reference FPR tests
(/root/reference/Tests/smart_tests.hpp:434-454): insert all,
hard-assert zero FN, measure yes-ratio on disjoint probes.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from prefix_filter_spark.plans.sharding import hashed_key_col
from prefix_filter_spark.sketches import ribbon

N_KEYS = 40_000


@pytest.fixture(scope="module")
def keys_df(spark):
    return spark.range(N_KEYS).select(F.col("id").alias("key"))


@pytest.fixture(scope="module")
def built(spark, keys_df):
    cfg = ribbon.RibbonConfig(
        n_capacity=N_KEYS, fingerprint_bits=8, num_shards=16, seed=7
    )
    shards_df = ribbon.build_ribbon(keys_df, "key", cfg)
    handle = ribbon.ShardedRibbon.from_df(cfg, shards_df)
    return cfg, handle


def _hashes(spark, df, col, seed):
    pdf = df.select(hashed_key_col(col, seed).alias("h")).toPandas()
    return pdf["h"].to_numpy()


def test_zero_false_negatives(spark, keys_df, built):
    cfg, handle = built
    h = _hashes(spark, keys_df, "key", cfg.seed)
    assert handle.contains_h(h).all(), "false negative detected"


def test_fpr_within_bound(spark, built):
    cfg, handle = built
    probes = spark.range(10_000_000, 10_000_000 + 100_000).select(
        F.col("id").alias("key")
    )
    h = _hashes(spark, probes, "key", cfg.seed)
    fpr = handle.contains_h(h).mean()
    assert fpr <= cfg.theoretical_fpr() * 1.5 + 1e-4, fpr


def test_bits_per_key_beats_xor_and_bfuse(built):
    """The point of adding ribbon: (1 + 0.10) * 8 = 8.8 bits/key. The
    sharded fixture (2.5k keys/shard) pays the fixed w-slot + header
    cost 16 times, so assert the loose bound here and the tight
    sub-binary-fuse bound at a realistic single-shard size below."""
    cfg, handle = built
    bpk = handle.byte_size() * 8 / N_KEYS
    assert bpk <= 8 * 1.18, bpk


def test_density_beats_bfuse_at_scale():
    rng = np.random.default_rng(9)
    keys = np.sort(np.unique(rng.integers(0, 2**63, 100_000, dtype=np.uint64)))
    cfg = ribbon.RibbonConfig(
        n_capacity=len(keys), fingerprint_bits=8, num_shards=1, seed=1
    )
    st = ribbon.build_state(cfg, 0, keys)
    bpk = len(st) * 8 / len(keys)
    # (1+eps)f + w/n + header: 8.8 + ~0.01 — under bfuse's ~1.13f = 9.04
    assert bpk <= 8 * 1.13, bpk
    assert ribbon._contains_in_state(st, keys).all()


def test_build_partition_invariant(spark, keys_df, built):
    cfg, _ = built
    a = {
        (r["shard_id"], bytes(r["state"]))
        for r in ribbon.build_ribbon(keys_df, "key", cfg).collect()
    }
    b = {
        (r["shard_id"], bytes(r["state"]))
        for r in ribbon.build_ribbon(keys_df.repartition(13), "key", cfg).collect()
    }
    assert a == b


def test_solution_satisfies_linear_system():
    """Brute-force GF(2) check of the banded solve: for every inserted
    key, XOR of Z[start+j] over the coefficient bits must equal the
    fingerprint — checked bit-by-bit in plain Python, independent of
    the vectorized probe path."""
    rng = np.random.default_rng(3)
    keys = np.sort(np.unique(rng.integers(0, 2**62, 2_000, dtype=np.uint64)))
    cfg = ribbon.RibbonConfig(
        n_capacity=len(keys), fingerprint_bits=8, num_shards=1, seed=11
    )
    state = ribbon.build_state(cfg, 0, keys)
    fp_bits, attempt, m, seed, _ns, z = ribbon._parse_state(state)
    start, coeff, fp = ribbon._derive(keys, seed, attempt, m, fp_bits)
    zl = z.tolist()
    for s, c, b in zip(start.tolist(), coeff.tolist(), fp.tolist()):
        acc = 0
        j = 0
        while c:
            if c & 1:
                acc ^= zl[s + j]
            c >>= 1
            j += 1
        assert acc == b


def test_empty_and_tiny_builds():
    for n in (0, 1, 2, 3):
        keys = np.arange(n, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
        cfg = ribbon.RibbonConfig(
            n_capacity=max(n, 4), fingerprint_bits=8, num_shards=1, seed=5
        )
        st = ribbon.build_state(cfg, 0, np.sort(keys))
        if n:
            assert ribbon._contains_in_state(st, keys).all()


def test_fpr_16bit():
    rng = np.random.default_rng(5)
    keys = np.sort(np.unique(rng.integers(0, 2**63, 50_000, dtype=np.uint64)))
    cfg = ribbon.RibbonConfig(
        n_capacity=len(keys), fingerprint_bits=16, num_shards=1, seed=3
    )
    st = ribbon.build_state(cfg, 0, keys)
    assert ribbon._contains_in_state(st, keys).all()
    neg = np.setdiff1d(
        np.unique(rng.integers(2**63, 2**64 - 1, 200_000, dtype=np.uint64)), keys
    )
    assert ribbon._contains_in_state(st, neg).mean() <= 2**-16 * 10 + 1e-4


def test_merge_raises():
    with pytest.raises(ValueError, match="not mergeable"):
        ribbon.merge_states([b"x", b"y"])


def test_config_mismatch_rejected(spark, keys_df, built):
    cfg, handle = built
    wrong = ribbon.RibbonConfig(
        n_capacity=N_KEYS, fingerprint_bits=8, num_shards=16, seed=99
    )
    bad = ribbon.ShardedRibbon(wrong, handle.states)
    with pytest.raises(ValueError, match="does not match config"):
        bad.contains_h(np.arange(10, dtype=np.int64))


def test_registry_lookup():
    from prefix_filter_spark.registry import Capability, info, supports

    i = info("ribbon8")
    assert i.name == "ribbon" and supports("ribbon", Capability.LOOKUP)
    assert not supports("ribbon", Capability.ADD)
    assert not supports("ribbon", Capability.DELETE)


# -- property tests ----------------------------------------------------
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(0, 3000),
    seed=st.integers(0, 2**31),
)
def test_property_build_always_solves_and_has_zero_fn(n, seed):
    """Any key set at the sized load solves within the retry budget and
    yields zero false negatives; probe on disjoint keys stays under a
    loose FPR ceiling."""
    rng = np.random.default_rng(seed)
    keys = (
        np.unique(rng.integers(0, 2**62, n, dtype=np.uint64))
        if n
        else np.array([], dtype=np.uint64)
    )
    cfg = ribbon.RibbonConfig(
        n_capacity=max(len(keys), 4), fingerprint_bits=8, num_shards=1,
        seed=seed & 0xFFFF,
    )
    st_bytes = ribbon.build_state(cfg, 0, np.sort(keys))
    if len(keys):
        assert ribbon._contains_in_state(st_bytes, keys).all()
    neg = np.unique(rng.integers(2**62, 2**63, 2 * max(n, 500), dtype=np.uint64))
    neg = np.setdiff1d(neg, keys)
    fpr = ribbon._contains_in_state(st_bytes, neg).mean()
    assert fpr <= 2**-8 * 4 + 5.0 / len(neg)
