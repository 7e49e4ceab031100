"""Registered Spark SQL surface over serialized sketch state.

Membership/estimate queries are exposed as vectorized pandas or Arrow
UDFs so a user can write plain SQL, e.g.::

    SELECT count(*) FROM probes WHERE bf_contains(xxhash64(token, 42))

The UDFs take the 64-bit base hash column (``plans.sharding
.hashed_key_col``) rather than the raw key, so the hash stays JVM-side
and the Python worker only does the vectorized state probe. Helpers
returning composed Column expressions are provided for the common case.

Shard states ride to executors via a SparkContext broadcast — pickled
once per executor, not per task (pyspark_guide.md 'Pitfalls').
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from prefix_filter_spark.plans.sharding import hashed_key_col


import functools
import weakref


# module-level (picklable by reference) cached state deserializers —
# the state-taking SQL UDFs see the same blob on every row of a join
@functools.lru_cache(maxsize=64)
def _cms_cached(state: bytes):
    from prefix_filter_spark.sketches import cms

    return cms.CmsState.from_bytes(state)


@functools.lru_cache(maxsize=64)
def _kll_cached(state: bytes):
    from prefix_filter_spark.sketches import kll

    return kll.KllSketch.from_bytes(state)


@functools.lru_cache(maxsize=64)
def _td_cached(state: bytes):
    from prefix_filter_spark.sketches import tdigest

    return tdigest.TDigest.from_bytes(state)


@functools.lru_cache(maxsize=64)
def _dds_cached(state: bytes):
    from prefix_filter_spark.sketches import dds

    return dds.DDSketch.from_bytes(state)


@functools.lru_cache(maxsize=64)
def _mg_cached(state: bytes):
    from prefix_filter_spark.sketches import mg

    return mg.estimates(state)  # (total, err, counts)


def register_contains_udf(
    spark: SparkSession, name: str, sketch, seed: int
) -> "ContainsFunction":
    """Register ``name(h bigint)`` over a probe handle
    (``sketches.base.ShardedFilter``). Membership filters answer
    boolean; the retrieval structure (``out_dtype`` int64) answers
    bigint — the stored value for every inserted key, an arbitrary
    hash-determined value for non-members (static-function contract).

    Every shard is prepared on the driver first (``predecode()``), so a
    state/config mismatch fails here rather than inside executor tasks,
    and the decoded tables ship with the broadcast.
    """
    sketch.predecode()
    bc = spark.sparkContext.broadcast(sketch)
    out_type = T.BooleanType() if sketch.out_dtype is bool else T.LongType()

    @F.pandas_udf(out_type)
    def _contains(h: pd.Series) -> pd.Series:
        s = bc.value
        return pd.Series(s.contains_h(h.to_numpy()))

    spark.udf.register(name, _contains)
    return ContainsFunction(name, _contains, seed, bc)


# the value-lookup name for the same registration (retrieval handles)
register_lookup_udf = register_contains_udf


class ContainsFunction:
    def __init__(self, name: str, udf, seed: int, broadcast=None):
        self.name = name
        self.udf = udf
        self.seed = seed
        # exposed so long-running drivers that re-register per epoch can
        # release the previous state (broadcast.unpersist()) instead of
        # pinning every generation on the executors
        self.broadcast = broadcast

    def __call__(self, key: Column | str, df=None) -> Column:
        """contains(raw key column) — composes the JVM-side xxhash64.

        Builds hash integral keys at bigint width (``plans.sharding
        .widen_key_col``); pass ``df`` (the frame the key column
        resolves against) so an int/smallint/tinyint probe column is
        widened the same way — without it a narrow integral column
        takes the JVM 4-byte hash kernel and every probe is a silent
        false negative. bigint and string probe columns need no df.
        """
        if df is not None:
            from prefix_filter_spark.plans.sharding import widen_key_col

            key = widen_key_col(df, key)
        return self.udf(hashed_key_col(key, self.seed))


# per SparkContext: the sketch SQL surface's JVM functions by name
_SKETCH_JUDFS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def register_sketch_sql(spark: SparkSession) -> None:
    """Register the estimate surface over serialized sketch state, so a
    shard-state table is queryable with plain SQL (SURVEY.md M3):

        SELECT hll_estimate(state) FROM hll_shards
        SELECT cms_point(state, token) FROM cms_shards, probe_tokens
        SELECT kll_quantile(state, 0.5), tdigest_quantile(state, 0.99) ...

    All Arrow-batched (pandas or Arrow UDFs); a function that takes a
    state and one argument per row groups the batch's rows by state
    and decodes each distinct state once, through an LRU cache keyed
    on the full state bytes (states repeat across rows in a join).

    Cheap to call again: the JVM functions are built once per
    SparkContext (~250 py4j round trips for the 14), and a later call
    re-binds each name to its function in ``spark``'s registry, so a
    dropped or shadowed name resolves as after the first call.
    """
    sc = spark.sparkContext
    judfs = _SKETCH_JUDFS.get(sc)
    if judfs is None:
        _SKETCH_JUDFS[sc] = {
            name: spark.udf.register(name, f)._judf for name, f in _sketch_udfs().items()
        }
        return
    registry = spark._jsparkSession.udf()
    for name, judf in judfs.items():
        registry.registerPython(name, judf)


def _per_state(cache, fn, dtype):
    """Arrow UDF body ``(state, arg) -> array`` for the functions that
    answer one argument per row against a state column: rows are
    grouped by identical state blob (``dictionary_encode`` hashes them
    in Arrow), each distinct blob is decoded once through ``cache``
    and answered for all its rows by ``fn(decoded, arg_values)``. A
    NULL state or argument gives NULL. Argument values reach ``fn`` as
    the NumPy array of their own Arrow type, so a bigint key never
    passes through float64."""

    def run(state: pa.Array, arg: pa.Array) -> pa.Array:
        enc = pc.dictionary_encode(state)
        codes = enc.indices.fill_null(-1).to_numpy().copy()
        codes[arg.is_null().to_numpy(zero_copy_only=False)] = -1
        order = np.argsort(codes, kind="stable")
        cuts = np.searchsorted(codes[order], np.arange(len(enc.dictionary) + 1))
        out = np.zeros(len(state), dtype=dtype)
        for j, blob in enumerate(enc.dictionary):
            rows = order[cuts[j] : cuts[j + 1]]
            if len(rows):
                vals = arg.take(rows).to_numpy(zero_copy_only=False)
                out[rows] = fn(cache(blob.as_py()), vals)
        return pa.array(out, mask=codes < 0)

    return run


def _sketch_udfs() -> dict:
    """The sketch SQL surface's vectorized UDFs by SQL name."""
    from prefix_filter_spark.sketches import hll, mg

    @F.pandas_udf(T.DoubleType())
    def hll_estimate(state: pd.Series) -> pd.Series:
        return state.map(lambda s: hll.estimate(bytes(s)) if s is not None else None)

    cms_point = F.arrow_udf(T.LongType())(
        _per_state(_cms_cached, lambda sk, keys: sk.point(keys), np.int64)
    )

    def quantile(sk, qs):
        # one weighted-items/centroid walk per blob, not one per row
        return sk.quantiles(qs.astype(np.float64))

    kll_quantile = F.arrow_udf(T.DoubleType())(_per_state(_kll_cached, quantile, np.float64))
    tdigest_quantile = F.arrow_udf(T.DoubleType())(_per_state(_td_cached, quantile, np.float64))
    dds_quantile = F.arrow_udf(T.DoubleType())(_per_state(_dds_cached, quantile, np.float64))
    # Approximate CDF: fraction of sketched values <= v (rank error
    # +-eps like the quantile direction). The selectivity estimator
    # behind range-scan planning: P(lo <= x <= hi) =
    # kll_rank(state, hi) - kll_rank(state, lo-).
    kll_rank = F.arrow_udf(T.DoubleType())(
        _per_state(_kll_cached, lambda sk, vs: [sk.rank(float(v)) for v in vs], np.float64)
    )
    # lower-bound count for a token (0 when absent: the MG lower bound
    # for any token outside the summary)
    mg_estimate = F.arrow_udf(T.LongType())(
        _per_state(_mg_cached, lambda est, toks: mg.lookup(est[2], toks), np.int64)
    )

    from prefix_filter_spark.sketches import kmv

    @F.pandas_udf(T.DoubleType())
    def kmv_estimate(state: pd.Series) -> pd.Series:
        return state.map(lambda s: kmv.estimate(bytes(s)) if s is not None else None)

    def _kmv_pairwise(op):
        """Binary set expression over two state columns (e.g. the
        sketches of two crawl snapshots joined side by side)."""

        def run(sa: pd.Series, sb: pd.Series) -> pd.Series:
            return pd.Series(
                [
                    op(bytes(a), bytes(b)) if a is not None and b is not None else None
                    for a, b in zip(sa, sb)
                ],
                dtype=object,
            )

        return run

    kmv_union = F.pandas_udf(T.DoubleType())(_kmv_pairwise(kmv.union_estimate))
    kmv_intersection = F.pandas_udf(T.DoubleType())(
        _kmv_pairwise(kmv.intersection_estimate)
    )
    kmv_difference = F.pandas_udf(T.DoubleType())(
        _kmv_pairwise(kmv.difference_estimate)
    )
    kmv_jaccard = F.pandas_udf(T.DoubleType())(_kmv_pairwise(kmv.jaccard_estimate))

    @F.pandas_udf(T.LongType())
    def mg_error(state: pd.Series) -> pd.Series:
        return state.map(lambda s: _mg_cached(bytes(s))[1] if s is not None else None)

    @F.pandas_udf(T.LongType())
    def mg_total(state: pd.Series) -> pd.Series:
        return state.map(lambda s: _mg_cached(bytes(s))[0] if s is not None else None)

    return {
        "mg_estimate": mg_estimate,
        "mg_error": mg_error,
        "mg_total": mg_total,
        "hll_estimate": hll_estimate,
        "cms_point": cms_point,
        "kll_quantile": kll_quantile,
        "kll_rank": kll_rank,
        "tdigest_quantile": tdigest_quantile,
        "dds_quantile": dds_quantile,
        "kmv_estimate": kmv_estimate,
        "kmv_union": kmv_union,
        "kmv_intersection": kmv_intersection,
        "kmv_difference": kmv_difference,
        "kmv_jaccard": kmv_jaccard,
    }


def register_state_contains(spark: SparkSession, name: str = "bf_state_contains"):
    """SQL membership over a STATE COLUMN: ``bf_state_contains(state,
    h)`` probes each row's serialized Bloom state (seed read from the
    state header) with the base-hash value ``h`` — no driver handle,
    so any TABLE of states is queryable in plain SQL, e.g. the
    per-file data-skipping index::

        SELECT file FROM file_index
        WHERE bf_state_contains(state, xxhash64(CAST(42 AS BIGINT), 42))

    Row-at-a-state but Arrow-batched across rows; intended for
    state-table scale (one row per file/shard), not per-key scans —
    key-column probes belong to register_contains_udf.
    """
    from prefix_filter_spark.sketches import bloom

    @F.pandas_udf(T.BooleanType())
    def _state_contains(state: pd.Series, h: pd.Series) -> pd.Series:
        import numpy as np

        out = [
            bool(bloom.contains_h_in_state(bytes(s), np.array([v]))[0])
            for s, v in zip(state, h)
        ]
        return pd.Series(out)

    spark.udf.register(name, _state_contains)
    return _state_contains


def probe_keys_local(handle, keys) -> "pd.Series":
    """Driver-side membership probe: ZERO Spark jobs.

    ``handle`` is any collected sharded handle exposing ``contains_h``
    and a ``cfg.seed`` (ShardedBloom / ShardedPrefixFilter /
    ShardedXor / …); ``keys`` are raw integer or string keys, hashed
    by ``sources.file_index.hash_probe_keys`` with the NumPy/Python
    twins of the build-side JVM expression (JVM-equality
    pytest-pinned); a mixed list raises ``TypeError``. The batch
    analogue of the reference's single-key
    ``Contain`` (/root/reference/Tests/wrappers.hpp:648-659) for
    needle checks: a blocklist lookup or debugging probe should not
    cost a cluster round-trip.
    """
    from prefix_filter_spark.sources.file_index import hash_probe_keys

    keys = list(keys)
    h = hash_probe_keys(None, keys, handle.cfg.seed)
    return pd.Series(handle.contains_h(h), index=keys)
