"""Ribbon retrieval (static function key -> value): exact member
values, conflict/domain/config guards, partition invariance, SQL
surface. No reference counterpart (the C++ suite has only membership
filters); the exactness contract is the Dillinger-Walzer static-function
guarantee."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from prefix_filter_spark.functions import register_lookup_udf
from prefix_filter_spark.sketches import retrieval as rv
from prefix_filter_spark.sketches.base import build_filter

N = 60_000


@pytest.fixture(scope="module")
def pairs_df(spark):
    # value is a deterministic function of the key so the probe side can
    # recompute the expectation without a join
    return spark.range(5_000, 5_000 + N).select(
        F.col("id").alias("key"),
        F.pmod(F.xxhash64("id", F.lit(7)), F.lit(65_536)).alias("val"),
    )


@pytest.fixture(scope="module")
def handle(spark, pairs_df):
    cfg = rv.RetrievalConfig(n_capacity=N, value_bits=16, num_shards=16, seed=3)
    return cfg, rv.ShardedRetrieval.from_df(
        cfg, build_filter(pairs_df, "key", cfg, "val")
    )


def test_members_exact(spark, pairs_df, handle):
    cfg, h = handle
    fn = register_lookup_udf(spark, "rv_exact", h, cfg.seed)
    mismatches = pairs_df.where(fn("key") != F.col("val")).count()
    assert mismatches == 0


def test_bits_per_key(handle):
    cfg, h = handle
    bpk = h.byte_size() * 8 / N
    # (1 + eps) * value_bits plus per-shard headers + w-slot tails
    assert bpk < (1 + cfg.epsilon) * cfg.value_bits + 1.2


def test_sql_surface(spark, pairs_df, handle):
    cfg, h = handle
    register_lookup_udf(spark, "rv_sql", h, cfg.seed)
    pairs_df.createOrReplaceTempView("rv_pairs")
    n_ok = spark.sql(
        f"SELECT count(*) AS c FROM rv_pairs "
        f"WHERE rv_sql(xxhash64(key, {cfg.seed})) = val"
    ).collect()[0].c
    assert n_ok == N


def test_partition_invariance(spark, pairs_df):
    cfg = rv.RetrievalConfig(n_capacity=N, value_bits=16, num_shards=8, seed=9)

    def states(df):
        rows = build_filter(df, "key", cfg, "val").collect()
        return {r["shard_id"]: bytes(r["state"]) for r in rows}

    a = states(pairs_df.repartition(1))
    b = states(pairs_df.repartition(37, "val"))
    assert a == b


def test_duplicates_collapse_and_conflicts_raise(spark):
    cfg = rv.RetrievalConfig(n_capacity=100, value_bits=8, num_shards=1, seed=1)
    h = np.arange(100, dtype=np.uint64)
    v = (h % 251).astype(np.int64)
    dup_h = np.concatenate([h, h[:10]])
    dup_v = np.concatenate([v, v[:10]])
    state = rv.build_state(cfg, 0, dup_h, dup_v)
    assert (rv._lookup_in_state(state, h) == v).all()
    bad_v = dup_v.copy()
    bad_v[-1] ^= 1
    with pytest.raises(ValueError, match="conflicting values"):
        rv.build_state(cfg, 0, dup_h, bad_v)


def test_value_domain_checked():
    cfg = rv.RetrievalConfig(n_capacity=10, value_bits=8, num_shards=1, seed=1)
    h = np.arange(10, dtype=np.uint64)
    with pytest.raises(ValueError, match="values must be in"):
        rv.build_state(cfg, 0, h, np.full(10, 256, dtype=np.int64))
    with pytest.raises(ValueError, match="value_bits must be"):
        rv.RetrievalConfig(n_capacity=10, value_bits=12)


def test_config_mismatch_raises(spark, pairs_df):
    cfg = rv.RetrievalConfig(n_capacity=N, value_bits=16, num_shards=4, seed=5)
    built = rv.ShardedRetrieval.from_df(
        cfg, build_filter(pairs_df.limit(5_000), "key", cfg, "val")
    )
    wrong = rv.RetrievalConfig(n_capacity=N, value_bits=16, num_shards=4, seed=6)
    bad = rv.ShardedRetrieval(wrong, built.states)
    with pytest.raises(ValueError, match="does not match config"):
        bad.lookup_h(np.arange(10, dtype=np.uint64))


def test_merge_raises():
    with pytest.raises(ValueError, match="not mergeable"):
        rv.merge_states([b"x", b"y"])


def test_empty_and_value_bits_32(spark):
    cfg = rv.RetrievalConfig(n_capacity=0, value_bits=32, num_shards=1, seed=2)
    state = rv.build_state(cfg, 0, np.zeros(0, dtype=np.uint64), np.zeros(0, dtype=np.int64))
    assert len(rv._lookup_in_state(state, np.zeros(0, dtype=np.uint64))) == 0
    h = np.arange(1_000, dtype=np.uint64)
    v = ((h * 2_654_435_761) % (1 << 32)).astype(np.int64)
    state = rv.build_state(cfg, 0, h, v)
    assert (rv._lookup_in_state(state, h) == v).all()
