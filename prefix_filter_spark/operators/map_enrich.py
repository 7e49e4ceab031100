"""Map-side enrichment: attach a dim value column to a fact table via a
broadcast ribbon-retrieval map instead of a join — zero shuffle on the
fact side.

The join-replacement analogue of the runtime-filter semi-join
(operators/filter_join.py): where that operator uses the library's
``Contain`` path to PRUNE fact rows before a join's exchange, this one
uses the retrieval structure (sketches/retrieval.py) to FINISH the join
map-side. A ``fact LEFT JOIN dim ON key`` whose payload is one small
integer column (token -> quality bucket, language id, stop flag,
vocab id) normally shuffles the 100 TB fact on the key; here the dim
becomes a ~(1+eps)*value_bits bits/key broadcast and the "join" is a
vectorized Arrow lookup inside the fact scan.

Exactness contract (pytest-gated):

- fact keys covered by the dim get their EXACT dim value, always
  (the retrieval structure's static-function guarantee);
- fact keys NOT in the dim would get an arbitrary value from the raw
  lookup, so enrichment pairs it with an AMQ guard filter: non-member
  rows come back NULL, except a <= guard-FPR fraction that pass the
  filter and carry a junk value (measured and bounded in
  test_map_enrich.py). With ``guard_bits_per_key`` sized to the
  pipeline's tolerance, that is the usual Bloom-join accounting;
  when the fact's key domain is known to be covered by the dim (the
  common tokenizer case: every token has a score), pass
  ``guard=False`` and the result is exactly the inner/left join.

The dim build is one small shuffle (the dim is vocab-scale by
assumption — this operator is for small-payload dims; a wide-payload
dim wants a real broadcast-hash join instead); the fact side never
exchanges (plan pinned in the tests).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from prefix_filter_spark.functions import register_contains_udf
from prefix_filter_spark.sketches import base
from prefix_filter_spark.sketches import retrieval as rvm


@dataclass
class EnrichmentMap:
    """Driver-side handle pair: the value map + the membership guard.

    After ``enrich`` the registered UDF wrappers land in ``lookup_fn``
    / ``guard_fn`` so long-running drivers that re-enrich per epoch can
    release the previous executor broadcasts
    (``em.lookup_fn.broadcast.unpersist()``) instead of pinning every
    generation — the same lifecycle contract as ContainsFunction."""

    retrieval: base.ShardedFilter  # over a rvm.RetrievalConfig
    guard: base.ShardedFilter | None  # a Bloom handle when guarded
    guard_cfg: object | None
    seed: int
    lookup_fn: object | None = None
    guard_fn: object | None = None


def build_enrichment_map(
    dim: DataFrame,
    key_col: str,
    value_col: str,
    *,
    value_bits: int = 16,
    seed: int = 42,
    num_shards: int = 8,
    guard: bool = True,
    guard_bits_per_key: int = 12,
) -> EnrichmentMap:
    """Build the broadcastable map from a (key, value) dim. ``value_col``
    must be integral in [0, 2**value_bits) and non-null — the build
    raises otherwise (retrieval.build_state's domain check +
    build_sharded's null check).

    The dim is persisted around the builds: with a guard it is read by
    two build jobs plus the guard-sizing count (the retrieval structure
    sizes each shard from its actual batch, so no count is needed for
    it — guard=False runs exactly one dim job)."""
    ghandle = gcfg = None
    if guard:
        from prefix_filter_spark.sketches import bloom

        dim = dim.persist()  # DataFrame default: MEMORY_AND_DISK
        try:
            n = dim.count()
            rcfg = rvm.RetrievalConfig(
                n_capacity=max(n, 1024), value_bits=value_bits,
                num_shards=num_shards, seed=seed,
            )
            handle = base.ShardedFilter.from_df(
                rcfg, base.build_filter(dim, key_col, rcfg, value_col)
            )
            gcfg = bloom.BloomConfig(
                n_capacity=max(n, 1024), bits_per_key=guard_bits_per_key,
                num_shards=num_shards, seed=seed,
            )
            ghandle = base.ShardedFilter.from_df(
                gcfg, base.build_filter(dim, key_col, gcfg)
            )
        finally:
            dim.unpersist()
    else:
        rcfg = rvm.RetrievalConfig(
            n_capacity=1024, value_bits=value_bits,
            num_shards=num_shards, seed=seed,
        )
        handle = base.ShardedFilter.from_df(
            rcfg, base.build_filter(dim, key_col, rcfg, value_col)
        )
    return EnrichmentMap(handle, ghandle, gcfg, seed)


def enrich(
    spark: SparkSession,
    fact: DataFrame,
    fact_key: str,
    em: EnrichmentMap,
    out_col: str,
    *,
    udf_prefix: str = "enrich",
) -> DataFrame:
    """fact + one nullable bigint column ``out_col`` — map-only (the
    fact side's plan gains two pandas UDF projections and no Exchange).

    Covered keys get the exact dim value; un-covered keys get NULL when
    the map was built with a guard (modulo the guard's FPR of junk
    values), or an arbitrary value when guard=False (callers assert
    coverage in that mode)."""
    rfn = register_contains_udf(
        spark, f"{udf_prefix}_lookup", em.retrieval, em.seed
    )
    em.lookup_fn = rfn
    # df=fact: integral keys hash at the bigint width the builds used
    value: Column = rfn(fact_key, df=fact)
    if em.guard is not None:
        cfn = register_contains_udf(
            spark, f"{udf_prefix}_guard", em.guard, em.seed
        )
        em.guard_fn = cfn
        value = F.when(cfn(fact_key, df=fact), value)
    return fact.withColumn(out_col, value)
