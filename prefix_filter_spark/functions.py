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

import functools
import weakref

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from prefix_filter_spark.plans.sharding import hashed_key_col


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


@functools.lru_cache(maxsize=64)
def _decoded(decode, state: bytes):
    """The one decoder cache of the state-taking SQL functions: a
    join repeats one state blob on many rows and across batches.
    ``decode`` is a function of the state bytes or a class whose
    ``from_bytes`` is (the class, because it pickles by reference to
    the workers, where a bound classmethod would pickle by value)."""
    return getattr(decode, "from_bytes", decode)(state)


_NP_DTYPE = {"double": np.float64, "bigint": np.int64, "boolean": np.bool_}


def _state_udf(out_type: T.DataType, decode, fn):
    """Arrow UDF ``(state, *args) -> out_type`` over a state column.

    Rows are grouped by identical state blob (``dictionary_encode``
    hashes them in Arrow); each distinct blob is decoded once through
    ``_decoded(decode, blob)`` and answered for all its rows by one
    ``fn(decoded, *arg_values)`` call, whose result is an array over
    those rows or a scalar for all of them. A NULL state or argument
    gives NULL. Argument values reach ``fn`` as the NumPy array of
    their own Arrow type, so a bigint never passes through float64."""
    dtype = _NP_DTYPE[out_type.simpleString()]

    def run(state: pa.Array, *args: pa.Array) -> pa.Array:
        enc = pc.dictionary_encode(state)
        codes = enc.indices.fill_null(-1).to_numpy().copy()
        for arg in args:
            codes[arg.is_null().to_numpy(zero_copy_only=False)] = -1
        order = np.argsort(codes, kind="stable")
        cuts = np.searchsorted(codes[order], np.arange(len(enc.dictionary) + 1))
        out = np.zeros(len(state), dtype=dtype)
        for j, blob in enumerate(enc.dictionary):
            rows = order[cuts[j] : cuts[j + 1]]
            if len(rows):
                vals = [arg.take(rows).to_numpy(zero_copy_only=False) for arg in args]
                out[rows] = fn(_decoded(decode, blob.as_py()), *vals)
        return pa.array(out, mask=codes < 0)

    return F.arrow_udf(out_type)(run)


def _sketch_sql_table() -> dict:
    """The sketch SQL surface by name: ``(spark type, decode, fn)``."""
    from prefix_filter_spark.sketches import cms, dds, hll, kll, kmv, mg, tdigest

    D, L = T.DoubleType(), T.LongType()

    def quantiles(sk, qs):
        return sk.quantiles(qs.astype(np.float64))

    def pair(op):
        # binary set expression over two state columns (e.g. the
        # sketches of two crawl snapshots joined side by side)
        return lambda sa, sbs: [op(sa, sb) for sb in sbs]

    return {
        "hll_estimate": (D, bytes, hll.estimate),
        "cms_point": (L, cms.CmsState, cms.CmsState.point),
        "kll_quantile": (D, kll.KllSketch, quantiles),
        # approximate CDF, the selectivity estimator behind range-scan
        # planning (``kll.range_fraction``)
        "kll_rank": (D, kll.KllSketch, lambda sk, vs: sk.ranks(vs.astype(np.float64))),
        "tdigest_quantile": (D, tdigest.TDigest, quantiles),
        "dds_quantile": (D, dds.DDSketch, quantiles),
        # lower-bound count for a token (0 outside the summary)
        "mg_estimate": (L, mg.estimates, lambda est, toks: mg.lookup(est[2], toks)),
        "mg_error": (L, mg.estimates, lambda est: est[1]),
        "mg_total": (L, mg.estimates, lambda est: est[0]),
        "kmv_estimate": (D, bytes, kmv.estimate),
        "kmv_union": (D, bytes, pair(kmv.union_estimate)),
        "kmv_intersection": (D, bytes, pair(kmv.intersection_estimate)),
        "kmv_difference": (D, bytes, pair(kmv.difference_estimate)),
        "kmv_jaccard": (D, bytes, pair(kmv.jaccard_estimate)),
    }


# per SparkContext: the sketch SQL surface's JVM functions by name
_SKETCH_JUDFS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def register_sketch_sql(spark: SparkSession) -> None:
    """Register the estimate surface over serialized sketch state, so a
    shard-state table is queryable with plain SQL (SURVEY.md M3):

        SELECT hll_estimate(state) FROM hll_shards
        SELECT cms_point(state, token) FROM cms_shards, probe_tokens
        SELECT kll_quantile(state, 0.5), tdigest_quantile(state, 0.99) ...

    Every name is one ``_state_udf`` over a row of
    ``_sketch_sql_table``: an Arrow UDF that groups the batch's rows by
    state, decodes each distinct state once (one LRU keyed on the
    decoder and the full state bytes, as states repeat across rows in
    a join) and answers NULL for a NULL state or argument.

    Cheap to call again: the JVM functions are built once per
    SparkContext (~250 py4j round trips for the 14), and a later call
    re-binds each name to its function in ``spark``'s registry, so a
    dropped or shadowed name resolves as after the first call.
    """
    sc = spark.sparkContext
    judfs = _SKETCH_JUDFS.get(sc)
    if judfs is None:
        _SKETCH_JUDFS[sc] = {
            name: spark.udf.register(name, _state_udf(*row))._judf
            for name, row in _sketch_sql_table().items()
        }
        return
    registry = spark._jsparkSession.udf()
    for name, judf in judfs.items():
        registry.registerPython(name, judf)


def register_state_contains(spark: SparkSession, name: str = "bf_state_contains"):
    """SQL membership over a STATE COLUMN: ``bf_state_contains(state,
    h)`` probes each row's serialized Bloom state (seed read from the
    state header) with the base-hash value ``h`` — no driver handle,
    so any TABLE of states is queryable in plain SQL, e.g. the
    per-file data-skipping index::

        SELECT file FROM file_index
        WHERE bf_state_contains(state, xxhash64(CAST(42 AS BIGINT), 42))

    Each distinct state in a batch probes all of its rows' hashes in
    one vectorised call; NULL state or hash gives NULL. Key-column
    probes against one handle belong to register_contains_udf.
    """
    from prefix_filter_spark.sketches import bloom

    udf = _state_udf(T.BooleanType(), bytes, bloom.contains_h_in_state)
    spark.udf.register(name, udf)
    return udf


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
