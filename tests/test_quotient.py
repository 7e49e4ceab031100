"""Quotient filter (RSQF layout): zero FN, FPR vs the alpha*2^-r bound,
bits/key, canonical-layout invariants, shuffled-merge bit-identity,
delete + collision caveat, capacity guard, config-mismatch guard."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from prefix_filter_spark.functions import register_contains_udf
from prefix_filter_spark.sketches import quotient as qf

N_KEYS = 200_000


@pytest.fixture(scope="module")
def keys_df(spark):
    return spark.range(1_000, 1_000 + N_KEYS).select(F.col("id").alias("key"))


@pytest.fixture(scope="module")
def built(spark, keys_df):
    cfg = qf.QuotientFilterConfig(n_capacity=N_KEYS, num_shards=16, seed=7)
    handle = qf.ShardedQuotient.from_df(
        cfg, qf.build_quotient(keys_df, "key", cfg)
    )
    return cfg, handle


def test_zero_false_negatives(spark, keys_df, built):
    cfg, handle = built
    fn = register_contains_udf(spark, "qf_all", handle, cfg.seed)
    assert keys_df.where(fn("key")).count() == N_KEYS


def test_fpr_within_bound(spark, built):
    cfg, handle = built
    probes = spark.range(900_000_000, 900_000_000 + 200_000).select(
        F.col("id").alias("key")
    )
    fn = register_contains_udf(spark, "qf_fpr", handle, cfg.seed)
    fp = probes.where(fn("key")).count()
    # alpha * 2^-r with generous slack for the uniform-probe estimate
    assert fp / 200_000 <= cfg.theoretical_fpr() * 1.8 + 1e-4, fp


def test_bits_per_key(built):
    cfg, handle = built
    bpk = handle.byte_size() * 8 / N_KEYS
    # (r + 2) / load + headers — exact fastrange sizing pins the
    # actual load at the design load (no pow2 rounding loss)
    assert bpk < (cfg.remainder_bits + 2) / cfg.load + 1.5, bpk


def test_encode_decode_roundtrip_canonical():
    cfg = qf.QuotientFilterConfig(n_capacity=4_000, num_shards=1, seed=3)
    rng = np.random.default_rng(11)
    h = rng.integers(0, 2**63, size=3_000, dtype=np.int64).astype(np.uint64)
    fps = qf._fingerprints(cfg, h)
    state = qf._encode(cfg, fps)
    qf._decode_cached.cache_clear()
    back = qf._decode_cached(state)
    assert (back == fps).all()
    # canonical: encoding the decoded set is bit-identical
    assert qf._encode(cfg, back) == state


def test_merge_shuffled_orders_bit_identical():
    cfg = qf.QuotientFilterConfig(n_capacity=9_000, num_shards=1, seed=5)
    rng = np.random.default_rng(23)
    parts = [
        rng.integers(0, 2**63, size=2_000, dtype=np.int64).astype(np.uint64)
        for _ in range(4)
    ]
    states = [qf.build_state(cfg, 0, p) for p in parts]
    all_at_once = qf.merge_states(states, cfg)
    shuffled = qf.merge_states(
        [qf.merge_states([states[2], states[0]], cfg),
         qf.merge_states([states[3], states[1]], cfg)],
        cfg,
    )
    assert all_at_once == shuffled
    direct = qf.build_state(cfg, 0, np.concatenate(parts))
    assert all_at_once == direct  # merge == single-pass build


def test_delete_and_collision_caveat():
    cfg = qf.QuotientFilterConfig(n_capacity=5_000, num_shards=1, seed=9)
    h = np.arange(1, 4_001, dtype=np.uint64)
    state = qf.build_state(cfg, 0, h)
    assert qf.count_state(state) == len(qf._fingerprints(cfg, h))
    dead = h[:500]
    state2 = qf.remove_from_state(cfg, state, dead)
    # survivors still present — except the caveat in the other
    # direction: a survivor whose full fingerprint collides with a
    # dead key's is removed with it (set semantics)
    surv = qf._contains_in_state(state2, h[500:])

    def per_key_fp(keys):
        from prefix_filter_spark.hashing import fastrange32, mix_with_seed

        g = mix_with_seed(keys, cfg.seed + qf._SALT_FP)
        quot = fastrange32(g >> np.uint64(32), cfg.n_slots).astype(np.uint64)
        return (quot << np.uint64(cfg.remainder_bits)) | (
            g & np.uint64((1 << cfg.remainder_bits) - 1)
        )

    surv_collides = np.isin(per_key_fp(h[500:]), per_key_fp(dead))
    assert (~surv).sum() <= surv_collides.sum()
    assert (surv | surv_collides).all()
    # removed keys gone except full-fingerprint collisions with survivors
    still = qf._contains_in_state(state2, dead)
    collisions = np.isin(
        qf._fingerprints(cfg, dead), qf._fingerprints(cfg, h[500:])
    ).sum()
    assert still.sum() <= collisions
    # deleting everything empties the filter
    empty = qf.remove_from_state(cfg, state, h)
    assert qf.count_state(empty) == 0
    assert not qf._contains_in_state(empty, h).any()


def test_capacity_guard():
    cfg = qf.QuotientFilterConfig(
        n_capacity=1_000, load=1.0, num_shards=1, seed=1
    )
    too_many = np.arange(0, 5_000, dtype=np.uint64) * np.uint64(2**50)
    with pytest.raises(ValueError, match="over capacity"):
        qf.build_state(cfg, 0, too_many)


def test_config_mismatch_raises(built):
    cfg, handle = built
    wrong = qf.QuotientFilterConfig(n_capacity=N_KEYS, num_shards=16, seed=8)
    bad = qf.ShardedQuotient(wrong, handle.states)
    with pytest.raises(ValueError, match="does not match config"):
        bad.contains_h(np.arange(10, dtype=np.uint64))


def test_partition_invariance(spark, keys_df):
    cfg = qf.QuotientFilterConfig(n_capacity=N_KEYS, num_shards=8, seed=13)

    def states(df):
        rows = qf.build_quotient(df, "key", cfg).collect()
        return {r["shard_id"]: bytes(r["state"]) for r in rows}

    assert states(keys_df.repartition(1)) == states(keys_df.repartition(41))


def test_distributed_delete_and_incremental_merge(spark, keys_df):
    """The two capabilities that set the QF apart from the static
    family: accumulate partial states per batch (merge_shard_states),
    then delete distributedly (remove_keys)."""
    from prefix_filter_spark.sketches.base import merge_shard_states

    cfg = qf.QuotientFilterConfig(n_capacity=N_KEYS, num_shards=8, seed=21)
    half1 = keys_df.where(F.col("key") < 1_000 + N_KEYS // 2)
    half2 = keys_df.where(F.col("key") >= 1_000 + N_KEYS // 2)
    partials = qf.build_quotient(half1, "key", cfg).unionAll(
        qf.build_quotient(half2, "key", cfg)
    )
    merged = merge_shard_states(partials, {cfg.family.sketch_name(cfg): cfg})
    direct = qf.build_quotient(keys_df, "key", cfg)
    ms = {r["shard_id"]: bytes(r["state"]) for r in merged.collect()}
    ds = {r["shard_id"]: bytes(r["state"]) for r in direct.collect()}
    assert ms == ds  # incremental accumulation == one-shot build

    dead = keys_df.limit(10_000)
    after = qf.remove_keys(dead, "key", cfg, merged)
    handle = qf.ShardedQuotient.from_df(cfg, after)
    fn = register_contains_udf(spark, "qf_del", handle, cfg.seed)
    kept = keys_df.subtract(dead)
    n_kept = kept.count()
    found = kept.where(fn("key")).count()
    # collision caveat: survivors sharing a full fingerprint with a
    # dead key vanish with it — expected count is
    # kept * dead / (shards * n_slots * 2^r); bound at ~4x
    fp_space = cfg.n_slots * 2**cfg.remainder_bits
    expected = n_kept * 10_000 / (cfg.num_shards * fp_space)
    assert n_kept - found <= max(4 * expected, 10), (n_kept, found, expected)


def test_streaming_build_equals_batch(spark, tmp_path):
    """QF through foreach_batch_build: the canonical state makes the
    streamed accumulation byte-identical to a one-shot batch build —
    the incremental-Add story the static family cannot offer."""
    from prefix_filter_spark.streaming.build import foreach_batch_build

    cfg = qf.QuotientFilterConfig(n_capacity=30_000, num_shards=4, seed=17)
    keys = spark.range(30_000).select(F.col("id").alias("key"))
    src = f"{tmp_path}/src"
    for i in range(4):
        keys.where(F.pmod(F.col("key"), F.lit(4)) == i).write.mode(
            "overwrite" if i == 0 else "append"
        ).parquet(src)

    stream = (
        spark.readStream.schema("key long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = foreach_batch_build(
        stream,
        "key",
        build_fn=lambda df, k: qf.build_quotient(df, k, cfg),
        merge_fn=cfg,
        state_path=f"{tmp_path}/state",
        checkpoint_dir=f"{tmp_path}/ckpt",
    )
    q.awaitTermination(120)
    streamed = {
        r["shard_id"]: bytes(r["state"])
        for r in spark.read.parquet(f"{tmp_path}/state").collect()
    }
    direct = {
        r["shard_id"]: bytes(r["state"])
        for r in qf.build_quotient(keys, "key", cfg).collect()
    }
    assert streamed == direct


def test_empty_state():
    cfg = qf.QuotientFilterConfig(n_capacity=100, num_shards=1, seed=2)
    state = qf.build_state(cfg, 0, np.zeros(0, dtype=np.uint64))
    assert qf.count_state(state) == 0
    assert not qf._contains_in_state(state, np.arange(5, dtype=np.uint64)).any()
