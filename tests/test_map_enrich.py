"""Map-side enrichment (operators/map_enrich.py): left-join equivalence
on covered keys, NULL-or-bounded-junk on uncovered keys, and the
map-only fact plan that is the operator's reason to exist."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from prefix_filter_spark.operators import map_enrich as me

N_DIM = 40_000
N_FACT = 120_000


@pytest.fixture(scope="module")
def dim(spark):
    return spark.range(N_DIM).select(
        F.concat(F.lit("tok_"), F.col("id").cast("string")).alias("token"),
        F.pmod(F.xxhash64("id", F.lit(5)), F.lit(1_024)).alias("bucket"),
    )


@pytest.fixture(scope="module")
def fact_covered(spark):
    # every fact key exists in the dim (ids mod N_DIM)
    return spark.range(N_FACT).select(
        F.col("id").alias("row_id"),
        F.concat(
            F.lit("tok_"), F.pmod(F.col("id") * 7, F.lit(N_DIM)).cast("string")
        ).alias("token"),
    )


def test_covered_equals_left_join(spark, dim, fact_covered):
    em = me.build_enrichment_map(dim, "token", "bucket", seed=11)
    got = (
        me.enrich(spark, fact_covered, "token", em, "bucket", udf_prefix="me_cov")
        .orderBy("row_id")
        .collect()
    )
    want = (
        fact_covered.join(dim, "token", "left")
        .orderBy("row_id")
        .select("row_id", "token", "bucket")
        .collect()
    )
    assert [(r.row_id, r.bucket) for r in got] == [
        (r.row_id, r.bucket) for r in want
    ]


def test_int32_keys_equal_left_join(spark):
    """int keys are widened to bigint by both builds; the lookup and the
    guard must probe at the same width, or every value comes back NULL."""
    dim = spark.range(1_000).select(
        F.col("id").cast("int").alias("k"),
        F.pmod(F.col("id") * 3, F.lit(1_024)).alias("v"),
    )
    fact = spark.range(3_000).select(
        F.col("id").alias("row_id"),
        F.pmod(F.col("id") * 7, F.lit(1_000)).cast("int").alias("k"),
    )
    em = me.build_enrichment_map(dim, "k", "v", seed=16)
    got = me.enrich(spark, fact, "k", em, "v", udf_prefix="me_i32").collect()
    want = fact.join(dim, "k", "left").collect()
    assert sorted((r.row_id, r.v) for r in got) == sorted(
        (r.row_id, r.v) for r in want
    )


def test_unguarded_covered_mode(spark, dim, fact_covered):
    em = me.build_enrichment_map(dim, "token", "bucket", seed=12, guard=False)
    got = me.enrich(
        spark, fact_covered, "token", em, "bucket", udf_prefix="me_ng"
    )
    mismatches = (
        got.join(dim.withColumnRenamed("bucket", "want"), "token")
        .where(F.col("bucket") != F.col("want"))
        .count()
    )
    assert mismatches == 0


def test_uncovered_nulls_with_bounded_junk(spark, dim):
    # keys disjoint from the dim: guard should NULL all but <= FPR-ish
    em = me.build_enrichment_map(dim, "token", "bucket", seed=13)
    outside = spark.range(50_000).select(
        F.concat(F.lit("zzz_"), F.col("id").cast("string")).alias("token")
    )
    out = me.enrich(spark, outside, "token", em, "bucket", udf_prefix="me_out")
    non_null = out.where(F.col("bucket").isNotNull()).count()
    # bloom at 12 bits/key: closed-form FPR ~0.00313; generous 2x + slack
    assert non_null / 50_000 <= 0.00313 * 2 + 1e-3, non_null


def test_streaming_fact_enrichment(spark, dim, tmp_path):
    """The map-only shape means enrich() composes with a STREAMING fact
    unchanged (no shuffle, no state): a readStream source enriched per
    micro-batch must match the batch enrichment exactly."""
    fact = spark.range(20_000).select(
        F.col("id").alias("row_id"),
        F.concat(
            F.lit("tok_"), F.pmod(F.col("id") * 11, F.lit(N_DIM)).cast("string")
        ).alias("token"),
    )
    src = f"{tmp_path}/src"
    fact.repartition(4).write.parquet(src)
    em = me.build_enrichment_map(dim, "token", "bucket", seed=15)
    stream = (
        spark.readStream.schema("row_id long, token string")
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    enriched = me.enrich(spark, stream, "token", em, "bucket", udf_prefix="me_st")
    assert enriched.isStreaming
    out: list = []
    q = (
        enriched.writeStream.outputMode("append")
        .foreachBatch(lambda df, eid: out.extend(df.collect()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted((r.row_id, r.bucket) for r in out)
    want = sorted(
        (r.row_id, r.bucket)
        for r in me.enrich(
            spark, fact, "token", em, "bucket", udf_prefix="me_stb"
        ).collect()
    )
    assert got == want and len(got) == 20_000
    # epoch-churn lifecycle: the broadcasts are exposed for release
    assert em.lookup_fn is not None and em.lookup_fn.broadcast is not None
    em.lookup_fn.broadcast.unpersist()
    em.guard_fn.broadcast.unpersist()


def test_fact_side_is_map_only(spark, dim, fact_covered):
    em = me.build_enrichment_map(dim, "token", "bucket", seed=14)
    out = me.enrich(
        spark, fact_covered, "token", em, "bucket", udf_prefix="me_plan"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan, plan  # Arrow-batched only
