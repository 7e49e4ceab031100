"""Bloom end-to-end: zero false negatives, FPR <= theoretical bound,
merge associativity (bit-identical under shuffled merge order).

Mirrors the reference harness: FPR_test/get_FPR_test0
(/root/reference/Tests/smart_tests.hpp:434-454) — insert all, hard-assert
zero FN, measure yes-ratio on disjoint uniform probes.
"""

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from prefix_filter_spark.hashing import as_u64
from prefix_filter_spark.plans.sharding import hashed_key_col
from prefix_filter_spark.sketches import bloom
from prefix_filter_spark.sources import tokenizer

N_KEYS = 40_000


@pytest.fixture(scope="module")
def keys_df(spark):
    # deterministic synthetic u64 key stream (fill_vec_smart analogue,
    # /root/reference/Tests/smart_tests.cpp:84-100)
    return spark.range(N_KEYS).select(F.col("id").alias("key"))


@pytest.fixture(scope="module")
def built(spark, keys_df):
    cfg = bloom.BloomConfig(n_capacity=N_KEYS, bits_per_key=12, num_shards=16, seed=7)
    shards_df = bloom.build_bloom(keys_df, "key", cfg)
    handle = bloom.ShardedBloom.from_df(cfg, shards_df)
    return cfg, handle


def _hashes(spark, df, col, seed):
    # canonical hash width: integral keys widen to bigint (the same
    # widen_key_col the build/probe paths apply)
    from prefix_filter_spark.plans.sharding import widen_key_col

    pdf = df.select(hashed_key_col(widen_key_col(df, col), seed).alias("h")).toPandas()
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
    bound = cfg.theoretical_fpr()
    assert fpr <= bound * 1.35 + 1e-4, (fpr, bound)


def test_merge_associativity_bit_identical(built):
    cfg, handle = built
    rng = np.random.default_rng(3)
    keys = as_u64(rng.integers(0, 2**63, 5_000, dtype=np.int64))
    parts = np.array_split(keys, 7)
    partials = [bloom.build_state(cfg, 0, np.unique(p)) for p in parts]
    full = bloom.build_state(cfg, 0, np.unique(keys))
    for trial in range(5):
        random.Random(trial).shuffle(partials)
        # random binary merge tree
        states = list(partials)
        r = random.Random(100 + trial)
        while len(states) > 1:
            i = r.randrange(len(states) - 1)
            a = states.pop(i)
            b = states.pop(i)
            states.insert(i, bloom.merge_states([a, b]))
        assert states[0] == full


def test_sql_registration(spark, keys_df, built):
    cfg, handle = built
    from prefix_filter_spark.functions import register_contains_udf

    fn = register_contains_udf(spark, "bf_contains_h", handle, cfg.seed)
    keys_df.createOrReplaceTempView("bloom_keys")
    n = spark.sql(
        f"SELECT count(*) AS n FROM bloom_keys WHERE bf_contains_h(xxhash64(key, {cfg.seed}))"
    ).collect()[0]["n"]
    assert n == N_KEYS
    # composed-Column form
    n2 = keys_df.where(fn("key")).count()
    assert n2 == N_KEYS


def test_tokenized_documents_bloom(spark, documents):
    """Flagship M1 slice: tokenize docs -> build over token ids -> probe."""
    toks = tokenizer.tokenize_documents(documents)
    token_stream = tokenizer.exploded_tokens(toks)
    cfg = bloom.BloomConfig(n_capacity=50_000, bits_per_key=12, num_shards=8, seed=42)
    shards = bloom.build_bloom(token_stream, "token", cfg)
    handle = bloom.ShardedBloom.from_df(cfg, shards)
    h = _hashes(spark, token_stream.distinct(), "token", cfg.seed)
    assert handle.contains_h(h).all()
    # shard rows carry lineage metrics
    meta = shards.agg(
        F.sum("input_rows").alias("rows"), F.sum("n_keys").alias("keys")
    ).collect()[0]
    assert meta["rows"] == token_stream.count()
    assert meta["keys"] == token_stream.select("token").distinct().count()


def test_state_config_mismatch_raises(spark):
    """A handle with the wrong seed / shard count must fail loudly —
    silently mis-deriving probe positions is false negatives."""
    import pytest as _pytest

    cfg = bloom.BloomConfig(n_capacity=10_000, num_shards=4, seed=5)
    keys = spark.range(10_000).select(F.col("id").alias("key"))
    handle = bloom.ShardedBloom.from_df(cfg, bloom.build_bloom(keys, "key", cfg))
    bad = bloom.BloomConfig(n_capacity=10_000, num_shards=4, seed=6)
    bad_handle = bloom.ShardedBloom(bad, handle.states)
    with _pytest.raises(ValueError):
        bad_handle.contains_h([123, 456])
    with _pytest.raises(ValueError):
        bloom.merge_states(
            [next(iter(handle.states.values())), bloom.build_state(bad, 0, __import__("numpy").arange(5, dtype="uint64"))]
        )
