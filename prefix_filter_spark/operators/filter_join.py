"""Runtime-filter semi-join: prune a fact table with an AMQ filter
built on the dim side's join keys, BEFORE the join's shuffle.

This is the library's ``Contain`` path (reference FilterAPI::Contain,
/root/reference/Tests/wrappers.hpp:96-101) applied as a join runtime
filter — the classic Bloom-join. The reference benchmarks Contain over
synthetic probe streams (/root/reference/main-perf.cpp:37-45); here the
probe stream is the fact table's join-key column and the payoff is
shuffle-volume reduction on the fact side.

Scale story (100 TB fact, selective dim):

- the filter is built from the dim keys with one small shuffle
  (``base.build_sharded``) and rides to executors as a broadcast —
  at 12 bits/key a 10M-key dim is ~15 MB of state;
- the probe is a map-side vectorized pandas UDF over the fact scan, so
  fact rows that cannot join are dropped before the exchange — the
  join's shuffle moves only survivors (+ the configured FPR of false
  positives, which the join itself then discards);
- zero false negatives (pytest-gated) make the result exactly equal to
  the unfiltered join, so this is a pure physical optimization.

Spark 3.3+ has a built-in runtime bloom filter
(`spark.sql.optimizer.runtime.bloomFilter.enabled`) limited to its own
BloomFilterImpl; this operator lets any of the library's filters —
including the prefix filter at ~30% less space for the same FPR
(BENCH/fpr_table.md) — serve the same role, with the state reusable
across queries (build once per dim snapshot, probe many facts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prefix_filter_spark.functions import register_contains_udf
from prefix_filter_spark.sketches import base, bloom, prefix_filter, xor

# runtime-filter kind -> its config for n dim keys (n >= 1024)
_KINDS = {
    "bloom": lambda n, seed: bloom.BloomConfig(
        n_capacity=n, bits_per_key=12, num_shards=8, seed=seed
    ),
    "prefix": lambda n, seed: prefix_filter.PrefixFilterConfig(
        n_capacity=n, num_shards=8, seed=seed
    ),
    # the natural runtime-filter kind when the dim/benchmark key set is
    # FIXED (decontamination: eval sets never grow): build-once static
    # filter at 9.84 bits/key @ 2^-8 FPR — denser than Bloom-12 at a
    # lower false-probe rate, so fewer survivors reach the exact verify
    "xor": lambda n, seed: xor.XorConfig(
        n_capacity=n, fingerprint_bits=8, num_shards=8, seed=seed
    ),
}


def build_runtime_filter(
    spark: SparkSession,
    dim: DataFrame,
    dim_key: str,
    *,
    kind: str = "bloom",
    seed: int = 0x0F11,
    name: str | None = None,
):
    """Build an AMQ filter over ``dim[dim_key]`` and register its
    ``contains`` UDF. Returns the callable column factory.

    The dim side is counted once (a single-row agg — also the count the
    caller's broadcast-join sizing wants anyway) to size the filter;
    the build is the library's standard one-shuffle sharded build.
    """
    keys = dim.select(dim_key).where(F.col(dim_key).isNotNull()).distinct()
    n = keys.count()
    cfg = _KINDS[kind](max(n, 1024), seed)
    handle = base.ShardedFilter.from_df(cfg, base.build_filter(keys, dim_key, cfg))
    udf_name = name or f"rf_{kind}_{dim_key}"
    return register_contains_udf(spark, udf_name, handle, cfg.seed)


def prune_fact(fact: DataFrame, fact_key: str, contains) -> DataFrame:
    """Map-side semi-join prune: keep fact rows whose key may join.

    ``contains`` is the column factory from :func:`build_runtime_filter`.
    NULL join keys never match an equi-join, so they are dropped here
    too (same as the exchange would). The key is probed with ``df=fact``
    so int/smallint/tinyint keys hash at the bigint width the build used
    (a 4-byte hash would make every fact row a false negative).
    """
    return fact.where(
        F.col(fact_key).isNotNull() & contains(F.col(fact_key), df=fact)
    )


def runtime_filter_join(
    spark: SparkSession,
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    *,
    kind: str = "bloom",
    how: str = "inner",
    broadcast_dim: bool = True,
    seed: int = 0x0F11,
) -> DataFrame:
    """Equi-join ``fact ⋈ dim`` with the fact side pre-pruned by an AMQ
    filter on the dim keys. Result is exactly the plain join (zero
    false negatives; false positives are discarded by the join).

    ``how`` must be a join type where dropping non-matching fact rows
    is semantics-preserving (inner / left_semi).
    """
    if how not in ("inner", "left_semi", "leftsemi"):
        raise ValueError(f"runtime filter prune is unsound for {how!r} joins")
    contains = build_runtime_filter(spark, dim, dim_key, kind=kind, seed=seed)
    pruned = prune_fact(fact, fact_key, contains)
    dim_side = F.broadcast(dim) if broadcast_dim else dim
    return pruned.join(dim_side, pruned[fact_key] == dim_side[dim_key], how)


def prune_stats(
    spark: SparkSession,
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    *,
    kind: str = "bloom",
    seed: int = 0x0F11,
) -> dict:
    """Measure pruning effectiveness: fact rows before/after the filter
    and the exact surviving-but-nonjoining (false positive) count."""
    contains = build_runtime_filter(spark, dim, dim_key, kind=kind, seed=seed)
    total = fact.count()
    kept = prune_fact(fact, fact_key, contains).count()
    true_match = (
        fact.join(
            F.broadcast(dim.select(dim_key).distinct()),
            fact[fact_key] == dim[dim_key],
            "left_semi",
        ).count()
    )
    return {
        "fact_rows": total,
        "kept_rows": kept,
        "joinable_rows": true_match,
        "false_kept": kept - true_match,
        "prune_ratio": 1.0 - kept / max(total, 1),
    }
