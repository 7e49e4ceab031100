"""Skew-detected aggregation planning (plans/agg_planner.py): the MG
skew pass finds the planted hot key, the bucket policy salts skew and
leaves uniform keys alone, and the planned build is bit-identical to
a fixed-bucket build."""

import pytest
from pyspark.sql import functions as F

from prefix_filter_spark.plans.agg_planner import (
    SkewReport,
    detect_key_skew,
    plan_salt_buckets,
    plan_sketch_by_group,
)
from prefix_filter_spark.sketches import hll


@pytest.fixture(scope="module")
def skewed(spark):
    # source "hot" holds 50% of rows; 19 cold sources share the rest
    return spark.range(40_000).select(
        F.when(F.col("id") % 2 == 0, F.lit("hot"))
        .otherwise(F.concat(F.lit("s"), (F.col("id") % 19).cast("string")))
        .alias("source"),
        F.xxhash64("id", F.lit(5)).alias("v"),
        F.col("id"),
    )


@pytest.fixture(scope="module")
def uniform(spark):
    return spark.range(40_000).select(
        F.concat(F.lit("s"), (F.col("id") % 20).cast("string")).alias("source"),
        F.xxhash64("id", F.lit(5)).alias("v"),
        F.col("id"),
    )


def test_detect_finds_planted_hot_key(skewed):
    r = detect_key_skew(skewed, "source")
    assert r.top_key == "hot"
    assert 0.45 <= r.top_share_lb <= 0.55
    assert r.err_share < 0.01
    assert r.total_rows == 40_000


def test_detect_counts_a_hot_null_key(skewed):
    """NULL is a groupBy group like any other: a NULL-keyed half of
    the rows is the hot key, although the sketches skip NULL values."""
    nulls = skewed.select(
        F.when(F.col("source") != "hot", F.col("source")).alias("source")
    )
    r = detect_key_skew(nulls, "source")
    assert r.top_key == "None"
    assert 0.45 <= r.top_share_lb <= 0.55
    assert r.total_rows == 40_000


def test_bucket_policy(skewed, uniform):
    hot = detect_key_skew(skewed, "source")
    cold = detect_key_skew(uniform, "source")
    assert plan_salt_buckets(cold) == 1  # uniform: no salting
    b = plan_salt_buckets(hot, n_groups=20)
    assert 2 <= b <= 64 and b == round(hot.top_share_lb * 20)
    # clamp honored
    assert plan_salt_buckets(hot, n_groups=10**6, max_buckets=64) == 64


def test_planned_build_bit_identical_to_fixed(skewed):
    cfg = hll.HllConfig(p=12, seed=3)
    planned, report, buckets = plan_sketch_by_group(
        skewed,
        "source",
        "v",
        cfg,
        salt_on="id",
        n_groups=20,
    )
    assert buckets >= 2  # the hot key forced a fan-out
    from prefix_filter_spark.operators.per_group import sketch_by_group

    fixed = sketch_by_group(
        skewed,
        "source",
        "v",
        cfg,
        salt_on="id",
        salt_buckets=7,  # any other fan-out: merges are associative
    )
    a = {r["group"]: bytes(r["state"]) for r in planned.collect()}
    b = {r["group"]: bytes(r["state"]) for r in fixed.collect()}
    assert a == b and len(a) == 20
    # the hot group genuinely fanned out in phase 1
    n_parts = {
        r["group"]: r["n_partials"] for r in planned.collect()
    }
    assert n_parts["hot"] == buckets


def test_empty_input(spark):
    empty = spark.createDataFrame([], "source string, v long, id long")
    r = detect_key_skew(empty, "source")
    assert r.total_rows == 0 and plan_salt_buckets(r) == 1
