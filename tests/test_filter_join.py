"""Runtime-filter semi-join: result equality with the plain join, real
pruning, and soundness guards.

The operator is the library's Contain path (reference
Tests/wrappers.hpp:96-101) used as a join runtime filter; equality with
the unfiltered join is the zero-false-negative invariant restated at
the query level.
"""

import pytest
from pyspark.sql import functions as F

from prefix_filter_spark.operators import filter_join as fj

SF = "/root/testdata/sf0.001"


def _fact_dim(spark):
    fact = spark.read.parquet(f"{SF}/lineitem.parquet")
    dim = spark.read.parquet(f"{SF}/orders.parquet").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return fact, dim


@pytest.mark.parametrize("kind", ["bloom", "prefix", "xor"])
def test_result_equals_plain_join(spark, kind):
    fact, dim = _fact_dim(spark)
    got = fj.runtime_filter_join(
        spark, fact, dim, "l_orderkey", "o_orderkey", kind=kind
    )
    plain = fact.join(F.broadcast(dim), fact["l_orderkey"] == dim["o_orderkey"])
    # row-level equality, not just counts: same key multiset
    g = got.groupBy("l_orderkey", "l_linenumber").count().toPandas()
    p = plain.groupBy("l_orderkey", "l_linenumber").count().toPandas()
    g = g.sort_values(["l_orderkey", "l_linenumber"], ignore_index=True)
    p = p.sort_values(["l_orderkey", "l_linenumber"], ignore_index=True)
    assert g.equals(p)


def test_prune_is_effective_and_zero_fn(spark):
    fact, dim = _fact_dim(spark)
    stats = fj.prune_stats(spark, fact, dim, "l_orderkey", "o_orderkey")
    # zero FN: every joinable row survives the filter
    assert stats["kept_rows"] >= stats["joinable_rows"]
    # selective dim (urgent orders ~20%) must actually prune the fact
    assert stats["prune_ratio"] > 0.5
    # FPR sanity: surviving non-joiners bounded well below the pruned mass
    assert stats["false_kept"] <= 0.05 * stats["fact_rows"]


def test_left_semi_supported_outer_rejected(spark):
    fact, dim = _fact_dim(spark)
    semi = fj.runtime_filter_join(
        spark, fact, dim, "l_orderkey", "o_orderkey", how="left_semi"
    )
    exact_semi = fact.join(
        F.broadcast(dim), fact["l_orderkey"] == dim["o_orderkey"], "left_semi"
    )
    assert semi.count() == exact_semi.count()
    with pytest.raises(ValueError, match="unsound"):
        fj.runtime_filter_join(
            spark, fact, dim, "l_orderkey", "o_orderkey", how="left"
        )


def test_null_fact_keys_dropped_like_equijoin(spark):
    fact, dim = _fact_dim(spark)
    fact_nulls = fact.withColumn(
        "l_orderkey",
        F.when(F.col("l_linenumber") == 1, F.lit(None)).otherwise(
            F.col("l_orderkey")
        ),
    )
    got = fj.runtime_filter_join(
        spark, fact_nulls, dim, "l_orderkey", "o_orderkey"
    )
    plain = fact_nulls.join(
        F.broadcast(dim), fact_nulls["l_orderkey"] == dim["o_orderkey"]
    )
    assert got.count() == plain.count()


def test_int32_keys_equal_plain_join(spark):
    """int keys are widened to bigint by the build; the fact-side probe
    must widen them the same way, or every row is a false negative."""
    fact = spark.range(2_000).select(
        F.col("id").alias("row_id"), F.col("id").cast("int").alias("fk")
    )
    dim = spark.range(0, 2_000, 4).select(F.col("id").cast("int").alias("dk"))
    got = fj.runtime_filter_join(spark, fact, dim, "fk", "dk", seed=21)
    plain = fact.join(F.broadcast(dim), fact["fk"] == dim["dk"])
    assert plain.count() == 500
    assert sorted(r.row_id for r in got.select("row_id").collect()) == sorted(
        r.row_id for r in plain.select("row_id").collect()
    )
