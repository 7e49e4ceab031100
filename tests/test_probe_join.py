"""Join-probe path (state too big to broadcast) must equal the
broadcast-probe path exactly."""

from pyspark.sql import functions as F

from prefix_filter_spark.plans.sharding import hashed_key_col
from prefix_filter_spark.sketches import bloom, prefix_filter as pf, probe


def test_pf_join_probe_equals_broadcast(spark):
    n = 60_000
    cfg = pf.PrefixFilterConfig(n_capacity=n, num_shards=8, seed=31)
    keys = spark.range(n).select(F.col("id").alias("key"))
    shards = pf.build_prefix_filter(keys, "key", cfg).cache()
    handle = pf.ShardedPrefixFilter.from_df(cfg, shards)

    probes = spark.range(0, 200_000).select(
        F.col("id").alias("probe_id"), F.col("id").alias("key")
    )
    joined = probe.probe_via_join(
        probes,
        "key",
        shards,
        seed=cfg.seed,
        num_shards=cfg.num_shards,
        probe_fn=probe.probe_fn_for(cfg),
        id_cols=["probe_id"],
    ).toPandas()
    assert len(joined) == 200_000
    import numpy as np

    h = probes.select(hashed_key_col("key", cfg.seed).alias("h")).toPandas()["h"]
    bc = handle.contains_h(h.to_numpy())
    j = joined.sort_values("probe_id")["contains"].to_numpy()
    assert (j == bc).all()
    # members all true; zero FN through the join path too
    assert j[:n].all()


def test_bloom_join_probe(spark):
    cfg = bloom.BloomConfig(n_capacity=30_000, bits_per_key=10, num_shards=8, seed=32)
    keys = spark.range(30_000).select(F.col("id").alias("key"))
    shards = bloom.build_bloom(keys, "key", cfg)
    out = probe.probe_via_join(
        keys,
        "key",
        shards,
        seed=cfg.seed,
        num_shards=cfg.num_shards,
        probe_fn=probe.probe_fn_for(cfg),
    )
    assert out.where("contains").count() == 30_000
    # the probe plan shuffles probes once and never replicates state rows
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan


def test_cuckoo_join_probe(spark):
    from prefix_filter_spark.sketches import cuckoo as ck

    cfg = ck.CuckooConfig(n_capacity=30_000, num_shards=8, seed=33)
    keys = spark.range(30_000).select(F.col("id").alias("key"))
    shards = ck.build_cuckoo(keys, "key", cfg)
    out = probe.probe_via_join(
        keys,
        "key",
        shards,
        seed=cfg.seed,
        num_shards=cfg.num_shards,
        probe_fn=probe.probe_fn_for(cfg),
    )
    assert out.where("contains").count() == 30_000
