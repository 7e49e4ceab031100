"""Integral key width pinning (round-5 ADVICE, high severity).

``F.xxhash64`` dispatches on storage width: an int/smallint/tinyint key
column takes the JVM 4-byte ``hashInt`` kernel while the driver-side
NumPy twins implement the 8-byte ``hashLong`` path. Before the
``widen_key_col`` guard, a filter built over an int32 column answered
every ``probe_keys_local`` call with a silent false negative. These
gates pin: build/probe/delete/driver paths all hash integral keys at
bigint width, whatever the column's storage type.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from prefix_filter_spark.functions import probe_keys_local, register_contains_udf
from prefix_filter_spark.plans.sharding import widen_key_col
from prefix_filter_spark.sketches import bloom
from prefix_filter_spark.sketches.probe import probe_fn_for, probe_via_join

N = 4000


@pytest.fixture(scope="module")
def cfg():
    return bloom.BloomConfig(n_capacity=N, bits_per_key=12, num_shards=8, seed=7)


def _int_df(spark, dtype: str, n: int = N):
    # values 1, 4, ..., 3n-2 — keep n small enough that the narrow
    # types hold them exactly (no wraparound)
    return spark.range(n).select((F.col("id") * 3 + 1).cast(dtype).alias("k"))


@pytest.mark.parametrize("dtype,n", [("tinyint", 40), ("smallint", N), ("int", N), ("bigint", N)])
def test_driver_probe_zero_fn_any_integral_width(spark, cfg, dtype, n):
    """The bug: an int32-built filter used the 4-byte JVM hash while
    probe_keys_local hashed at 8 bytes -> all probes false. Now every
    integral width builds through the same bigint hash path."""
    df = _int_df(spark, dtype, n)
    handle = bloom.ShardedBloom.from_df(cfg, bloom.build_bloom(df, "k", cfg))
    keys = [i * 3 + 1 for i in range(min(n, 500))]
    res = probe_keys_local(handle, keys)
    assert bool(res.all()), f"false negatives for {dtype} build"


def test_int_build_matches_bigint_build_bitwise(spark, cfg):
    """Same keys, int vs bigint storage -> byte-identical shard states
    (both hash through the widened path)."""
    a = bloom.build_bloom(_int_df(spark, "int"), "k", cfg)
    b = bloom.build_bloom(_int_df(spark, "bigint"), "k", cfg)
    sa = {r["shard_id"]: bytes(r["state"]) for r in a.collect()}
    sb = {r["shard_id"]: bytes(r["state"]) for r in b.collect()}
    assert sa == sb


def test_join_probe_int_probe_column(spark, cfg):
    """probe_via_join widens the PROBE side too: int probe keys against
    a bigint-hashed build find every member."""
    shards = bloom.build_bloom(_int_df(spark, "bigint"), "k", cfg)
    probes = _int_df(spark, "int", 300)
    out = probe_via_join(
        probes,
        "k",
        shards,
        seed=cfg.seed,
        num_shards=cfg.num_shards,
        probe_fn=probe_fn_for(cfg),
    )
    assert out.filter(~F.col("contains")).count() == 0


def test_sql_probe_with_df_widening(spark, cfg):
    """ContainsFunction(key, df=...) widens an int probe column for the
    broadcast SQL path."""
    handle = bloom.ShardedBloom.from_df(
        cfg, bloom.build_bloom(_int_df(spark, "bigint"), "k", cfg)
    )
    fn = register_contains_udf(spark, "kw_bf", handle, cfg.seed)
    probes = _int_df(spark, "int", 300)
    assert probes.filter(fn("k", df=probes)).count() == 300


def test_widen_key_col_passthrough(spark):
    df = spark.range(4).select(
        F.col("id").alias("l"), F.col("id").cast("string").alias("s")
    )
    assert df.select(widen_key_col(df, "l")).schema[0].dataType.simpleString() == "bigint"
    assert df.select(widen_key_col(df, "s")).schema[0].dataType.simpleString() == "string"


def test_probe_keys_local_empty(spark, cfg):
    handle = bloom.ShardedBloom.from_df(
        cfg, bloom.build_bloom(_int_df(spark, "bigint", 100), "k", cfg)
    )
    res = probe_keys_local(handle, [])
    assert isinstance(res, pd.Series) and len(res) == 0


def test_probe_keys_local_rejects_mixed(spark, cfg):
    """The driver path has no JVM fallback: a mixed key list raises
    instead of hashing at a width the build did not use."""
    handle = bloom.ShardedBloom.from_df(
        cfg, bloom.build_bloom(_int_df(spark, "bigint", 100), "k", cfg)
    )
    with pytest.raises(TypeError, match="all-int or all-str"):
        probe_keys_local(handle, [5, "5"])


def test_hash_probe_keys_empty_and_mixed(spark):
    from prefix_filter_spark.hashing import spark_xxhash64_long
    from prefix_filter_spark.sources.file_index import hash_probe_keys

    assert len(hash_probe_keys(spark, [], seed=42)) == 0
    # mixed list JVM fallback: small-int literals must take the 8-byte
    # path (cast bigint), agreeing with the NumPy long twin
    mixed = hash_probe_keys(spark, [5, 7.5], seed=42)
    pure = spark_xxhash64_long(np.array([5], dtype=np.int64), 42)
    assert mixed[0] == pure[0]


def test_hll_p_bounds():
    from prefix_filter_spark.sketches.hll import HllConfig

    with pytest.raises(ValueError):
        HllConfig(p=25)
    with pytest.raises(ValueError):
        HllConfig(p=3)
    assert HllConfig(p=24).m == 1 << 24
