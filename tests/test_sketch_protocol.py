"""The family contracts (sketches/base.py FilterFamily, EstimateFamily).

Every sharded filter kind: each config carries its module's family
record, and the one build / merge / probe machinery (``ShardedFilter``,
the family's ``build_state`` / ``merge_states``) resolves the kind from
it. States are built driver-side with each family's ``build_state`` (no
Spark), so that matrix runs in seconds.

Every estimate kind: ``base.build_estimate`` / ``estimate_state`` over
Spark skip NULL values, return the empty state on empty input, and leave
fractional doubles as they are.
"""

from __future__ import annotations

import dataclasses
import functools
import importlib
import pickle

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from prefix_filter_spark import registry
from prefix_filter_spark.hashing import shard_of
from prefix_filter_spark.sketches import ams, base, cms, dds, fd, hll, kll, kmv, mg, tdigest
from prefix_filter_spark.sketches import bfuse as bfm
from prefix_filter_spark.sketches import blocked_bloom as bbm
from prefix_filter_spark.sketches import bloom as blm
from prefix_filter_spark.sketches import cuckoo as ckm
from prefix_filter_spark.sketches import prefix_filter as pfm
from prefix_filter_spark.sketches import quotient as qfm
from prefix_filter_spark.sketches import retrieval as rvm
from prefix_filter_spark.sketches import ribbon as rbm
from prefix_filter_spark.sketches import two_choice as tcm
from prefix_filter_spark.sketches import xor as xrm

N = 4_000
SHARDS = 4
MISSING = 2  # shard left out of the handle's states

# kind -> (family module, config)
KINDS = {
    "bloom": (blm, blm.BloomConfig(n_capacity=N, num_shards=SHARDS)),
    "blocked_bloom": (bbm, bbm.BlockedBloomConfig(n_capacity=N, num_shards=SHARDS)),
    "two_choice": (tcm, tcm.TwoChoiceConfig(n_capacity=N, num_shards=SHARDS)),
    "cuckoo": (ckm, ckm.CuckooConfig(n_capacity=N, num_shards=SHARDS)),
    "prefix_filter": (pfm, pfm.PrefixFilterConfig(n_capacity=N, num_shards=SHARDS)),
    "xor": (xrm, xrm.XorConfig(n_capacity=N, num_shards=SHARDS)),
    "bfuse": (bfm, bfm.BFuseConfig(n_capacity=N, num_shards=SHARDS)),
    "ribbon": (rbm, rbm.RibbonConfig(n_capacity=N, num_shards=SHARDS)),
    "quotient": (qfm, qfm.QuotientFilterConfig(n_capacity=N, num_shards=SHARDS)),
    "retrieval": (rvm, rvm.RetrievalConfig(n_capacity=N, num_shards=SHARDS)),
}
# the merge contract also covers every other prefix-filter assembly
MERGE_CASES = {
    **{kind: cfg for kind, (_m, cfg) in KINDS.items()},
    **{
        f"prefix_filter[{spare}]": pfm.PrefixFilterConfig(
            n_capacity=N, num_shards=SHARDS, spare_kind=spare
        )
        for spare in ("tc", "cuckoo", "bbf", "impala512", "xor", "ribbon")
    },
}
# build-once kinds: their family merge raises
STATIC = {"xor", "bfuse", "ribbon", "retrieval", "prefix_filter[xor]", "prefix_filter[ribbon]"}

_rng = np.random.default_rng(7)
KEYS = np.unique(_rng.integers(0, 2**64 - 1, size=N, dtype=np.uint64))
BATCH = np.concatenate(
    [KEYS, _rng.integers(0, 2**64 - 1, size=N, dtype=np.uint64)]
).view(np.int64)  # the int64 xxhash64 column values a UDF receives
_rng.shuffle(BATCH)


def _values(keys):
    return (keys % np.uint64(1 << 16)).astype(np.int64)


def _build(cfg, sid, keys):
    """The one build_state signature; the value kind also takes values."""
    values = (_values(keys),) if isinstance(cfg, rvm.RetrievalConfig) else ()
    return cfg.family.build_state(cfg, sid, keys, *values)


@functools.lru_cache(maxsize=None)
def _case(kind):
    module, cfg = KINDS[kind]
    sid_of_key = shard_of(KEYS, cfg.num_shards)
    states = {
        sid: _build(cfg, sid, KEYS[sid_of_key == sid])
        for sid in range(cfg.num_shards)
        if sid != MISSING
    }
    return module, cfg, states


@pytest.fixture(params=sorted(KINDS))
def case(request):
    return _case(request.param)


def test_handle_binds_the_family_functions(case):
    module, cfg, states = case
    family = cfg.family
    assert isinstance(family, base.FilterFamily)
    assert family is module.FAMILY is type(cfg).family
    assert family.build_state is module.build_state
    assert family.merge_states is module.merge_states
    assert family.probe_state is module.probe_state
    assert family.prepare_state is getattr(module, "prepare_state", base._state_as_is)
    # the handle plumbing lives only in base.ShardedFilter
    assert base.ShardedFilter(cfg, states).out_dtype is family.out_dtype


def test_mixed_batch_equals_per_shard_probe_state(case):
    module, cfg, states = case
    got = base.ShardedFilter(cfg, states).contains_h(BATCH)
    h = BATCH.view(np.uint64)
    sids = shard_of(h, cfg.num_shards)
    assert len(np.unique(sids)) == cfg.num_shards  # really mixed
    want = np.zeros(len(h), dtype=got.dtype)
    for sid, state in states.items():
        m = sids == sid
        prepared = cfg.family.prepare_state(cfg, state)
        want[m] = module.probe_state(cfg, prepared, sid, h[m])
    assert np.array_equal(got, want)
    # inserted keys: zero false negatives / exact values
    member = np.isin(h, KEYS) & (sids != MISSING)
    if got.dtype == np.int64:
        assert np.array_equal(got[member], _values(h[member]))
    else:
        assert got[member].all()


def test_empty_batch(case):
    _module, cfg, states = case
    out = base.ShardedFilter(cfg, states).contains_h(np.zeros(0, dtype=np.int64))
    assert len(out) == 0
    assert out.dtype == cfg.family.out_dtype


def test_missing_shard_answers_false_or_zero(case):
    _module, cfg, states = case
    h = BATCH.view(np.uint64)
    on_missing = BATCH[shard_of(h, cfg.num_shards) == MISSING]
    assert len(on_missing) > 0
    assert not base.ShardedFilter(cfg, states).contains_h(on_missing).any()


def test_other_seed_raises(case):
    _module, cfg, states = case
    other = dataclasses.replace(cfg, seed=cfg.seed + 1)
    with pytest.raises(ValueError):
        base.ShardedFilter(other, states).contains_h(BATCH)


def test_pickle_after_predecode_identical(case):
    _module, cfg, states = case
    handle = base.ShardedFilter(cfg, states)
    want = handle.contains_h(BATCH)
    assert handle.predecode() is handle
    clone = pickle.loads(pickle.dumps(handle, protocol=pickle.HIGHEST_PROTOCOL))
    assert np.array_equal(clone.contains_h(BATCH), want)
    assert clone.byte_size() == handle.byte_size() == sum(map(len, states.values()))


@pytest.mark.parametrize(
    # the prefix filter and quotient filter prepare a decoded table
    "kind", sorted(set(KINDS) - {"prefix_filter", "quotient"})
)
def test_state_prepared_as_itself_is_pickled_once(kind):
    """A prepared value that IS the state must be the same bytes object,
    so the broadcast pickle stores the state once, not twice."""
    _module, cfg, states = _case(kind)
    handle = base.ShardedFilter(cfg, states)
    size_before = len(pickle.dumps(handle, protocol=pickle.HIGHEST_PROTOCOL))
    handle.predecode()
    assert all(handle.prepared(sid) is st for sid, st in states.items())
    size_after = len(pickle.dumps(handle, protocol=pickle.HIGHEST_PROTOCOL))
    assert size_after - size_before < 64 * len(states)


@pytest.mark.parametrize("kind", sorted(MERGE_CASES))
def test_family_merge_of_two_partials(kind):
    """Merging two same-shard partials answers every member key, and —
    as every mergeable module's docstring promises — equals the one-pass
    build byte for byte. Build-once kinds raise instead."""
    cfg = MERGE_CASES[kind]
    sid = 1
    keys = KEYS[shard_of(KEYS, cfg.num_shards) == sid]
    partials = [_build(cfg, sid, keys[::2]), _build(cfg, sid, keys[1::2])]
    if kind in STATIC:
        with pytest.raises(ValueError):
            cfg.family.merge_states(partials, cfg, sid)
        return
    merged = cfg.family.merge_states(partials, cfg, sid)
    assert base.ShardedFilter(cfg, {sid: merged}).contains_h(keys).all()
    assert merged == _build(cfg, sid, keys)


def test_every_lookup_sketch_has_a_family_record():
    """The registry cannot drift from the family records: every LOOKUP
    sketch's module declares one, and each kind's sketch name resolves
    back to that module."""
    lookup = {
        name: info
        for name, info in registry.REGISTRY.items()
        if info.functionality & registry.Capability.LOOKUP
    }
    assert len(lookup) == len(KINDS)
    for name, info in lookup.items():
        assert isinstance(importlib.import_module(info.module).FAMILY, base.FilterFamily), name
    for module, cfg in KINDS.values():
        assert registry.info(cfg.family.sketch_name(cfg)).module == module.__name__


def test_every_sketch_module_registers_one_state_format():
    """Each sketch module with a FAMILY declares exactly one
    StateFormat, every format is in the one registry, and no two kinds
    share a magic (so a decoder can always tell a foreign state)."""
    import pkgutil

    from prefix_filter_spark import sketches

    formats = {}
    for mod_info in pkgutil.iter_modules(sketches.__path__):
        module = importlib.import_module(f"{sketches.__name__}.{mod_info.name}")
        if not hasattr(module, "FAMILY"):
            continue
        own = [v for v in vars(module).values() if isinstance(v, base.StateFormat)]
        assert len(own) == 1, module.__name__
        formats[module.__name__] = own[0]
    assert len(formats) == 19
    assert len({f.magic for f in formats.values()}) == len(formats)
    assert len({f.kind for f in formats.values()}) == len(formats)
    assert set(base.STATE_FORMATS.values()) == set(formats.values())
    with pytest.raises(ValueError, match="magic"):
        base.StateFormat("copy", hll.FORMAT.magic, (1,))


# estimate kind -> (module, config, Spark type of its value column)
ESTIMATE_KINDS = {
    "hll": (hll, hll.HllConfig(p=10), "bigint"),
    "cms": (cms, cms.CmsConfig(width=256, depth=3), "bigint"),
    "kll": (kll, kll.KllConfig(k=64), "double"),
    "tdigest": (tdigest, tdigest.TDigestConfig(delta=50), "double"),
    "dds": (dds, dds.DDSketchConfig(alpha=0.02), "double"),
    "mg": (mg, mg.MgConfig(k=16), "string"),
    "kmv": (kmv, kmv.KmvConfig(k=64), "bigint"),
    "ams": (ams, ams.AmsConfig(width=128, depth=3), "bigint"),
    "fd": (fd, fd.FdConfig(ell=4, dim=3), "array<double>"),
}


def test_every_estimate_sketch_has_a_family_record():
    """Every ESTIMATE entry's module declares an EstimateFamily, its
    config carries it, and each kind's sketch name resolves back to
    that module."""
    estimate = {
        name: info
        for name, info in registry.REGISTRY.items()
        if info.functionality & registry.Capability.ESTIMATE
    }
    assert len(estimate) == len(ESTIMATE_KINDS)
    for name, info in estimate.items():
        family = importlib.import_module(info.module).FAMILY
        assert isinstance(family, base.EstimateFamily), name
    for module, cfg, _ in ESTIMATE_KINDS.values():
        assert cfg.family is module.FAMILY
        assert registry.info(cfg.family.sketch_name(cfg)).module == module.__name__


@pytest.mark.parametrize("kind", ["hll", "cms", "kmv", "mg", "ams"])
def test_null_keys_are_skipped(spark, kind):
    """NULLs in a nullable bigint column are not keys: the state equals
    a driver-side accumulator fed only the non-NULL values (a NULL used
    to arrive as NaN and count as the key INT64_MIN)."""
    module, cfg, _ = ESTIMATE_KINDS[kind]
    df = spark.createDataFrame([(1,), (2,), (3,), (None,), (None,)], "k bigint")
    rows = getattr(module, f"build_{kind}")(df, "k", cfg).collect()
    acc = cfg.family.accumulator(cfg)
    acc.update(np.array([1, 2, 3], dtype=np.int64))
    assert bytes(rows[0]["state"]) == acc.to_bytes()
    assert (rows[0]["n_keys"], rows[0]["input_rows"]) == (3, 5)


@pytest.mark.parametrize("elem", ["int", "bigint"])
def test_list_column_feeds_its_elements(spark, elem):
    """A list column ships one row per document and the worker flattens
    it: NULL arrays, empty arrays and NULL elements feed nothing, and
    the states equal those of the posexplode + cast("long") stream of
    the same partition, also for a document longer than one Arrow batch
    (65,536 values) and for Misra-Gries, whose state depends on how
    the values are cut into updates."""
    rng = np.random.default_rng(17)
    lo, hi = (-(1 << 31), 1 << 31) if elem == "int" else (-(1 << 40), 1 << 40)
    docs = [rng.integers(lo, hi, n).tolist() for n in (5, 0, 70_000, 9)]
    docs[0][2] = None
    docs[2][65_535] = None
    rows = [(d,) for d in docs[:2]] + [(None,)] + [(d,) for d in docs[2:]]
    lists = spark.createDataFrame(rows, f"tokens array<{elem}>").coalesce(1)
    exploded = lists.select(F.posexplode("tokens")).select(F.col("col").cast("long").alias("tok"))
    kinds = ["hll", "cms", "mg", "kmv"]
    sketches = {kind: ("v", ESTIMATE_KINDS[kind][1]) for kind in kinds}

    def partials(df, col):
        got = base.build_partials_multi(df, {"v": col}, sketches).collect()
        return {r["sketch"]: r for r in got}

    flat, want = partials(lists, "tokens"), partials(exploded, "tok")
    n_values = sum(len(d) for d in docs) - 2
    for kind in kinds:
        assert bytes(flat[kind]["state"]) == bytes(want[kind]["state"]), kind
        assert flat[kind]["n_keys"] == want[kind]["n_keys"] == n_values
        assert flat[kind]["input_rows"] == len(rows)


@pytest.mark.parametrize("kind", sorted(ESTIMATE_KINDS))
def test_empty_input_gives_the_empty_state(spark, kind):
    module, cfg, dtype = ESTIMATE_KINDS[kind]
    empty = spark.createDataFrame([], f"v {dtype}")
    want = cfg.family.accumulator(cfg).to_bytes()
    assert base.estimate_state(empty, "v", cfg) == want
    if hasattr(module, "sketch_bytes"):
        assert module.sketch_bytes(empty, "v", cfg) == want
    if kind == "hll":
        assert hll.distinct_estimate(empty, "v", cfg) == 0.0


@pytest.mark.parametrize("kind", ["kll", "tdigest", "dds"])
def test_double_column_is_not_truncated(spark, kind):
    """A one-partition double column of fractional values builds exactly
    the state of a driver-side accumulator fed the same values — only
    integral columns are cast back from float64."""
    module, cfg, _ = ESTIMATE_KINDS[kind]
    vals = np.random.default_rng(11).normal(0.0, 50.0, 3_000)
    df = spark.createDataFrame(pd.DataFrame({"v": vals})).coalesce(1)
    build = getattr(module, f"build_{kind}")
    acc = cfg.family.accumulator(cfg)
    acc.update(vals)
    assert bytes(build(df, "v", cfg).collect()[0]["state"]) == acc.to_bytes()


def _hll_of_big_ids_with_a_null(spark, path: str, tmp_path) -> bytes | float:
    """1,000 distinct bigint ids 2^60 + i plus one NULL through one of
    the three estimate build paths: the merged HLL state (batch paths)
    or the running estimate (streaming)."""
    from prefix_filter_spark.operators.per_group import sketch_by_group
    from prefix_filter_spark.streaming.build import streaming_distinct_by_source

    cfg = hll.HllConfig(p=12, seed=42)
    rows = [("s", (1 << 60) + i) for i in range(1_000)] + [("s", None)]
    df = spark.createDataFrame(rows, "source string, token bigint").coalesce(1)
    if path == "build_partials_multi":
        return base.estimate_state(df, "token", cfg)
    if path == "sketch_by_group":
        out = sketch_by_group(df, "source", "token", cfg, salt_on="source").collect()
        return bytes(out[0]["state"])
    src = str(tmp_path / "src")
    df.write.parquet(src)
    stream = spark.readStream.schema("source string, token bigint").parquet(src)
    q = (
        streaming_distinct_by_source(stream, p=cfg.p, seed=cfg.seed)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("big_ids_with_a_null")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    assert q.awaitTermination(120)
    return spark.sql("SELECT max(n_distinct_est) FROM big_ids_with_a_null").collect()[0][0]


@pytest.mark.parametrize("path", ["build_partials_multi", "sketch_by_group", "streaming"])
def test_nullable_bigint_keeps_bits_above_2_53(spark, tmp_path, path):
    """A NULL in a bigint batch must not round the other values through
    float64: every build path equals the accumulator fed the 1,000 ids
    (through float64 they collapse to a handful of distinct values)."""
    acc = hll.HllAccumulator(hll.HllConfig(p=12, seed=42))
    acc.update(np.arange(1_000, dtype=np.int64) + (1 << 60))
    got = _hll_of_big_ids_with_a_null(spark, path, tmp_path)
    if path == "streaming":
        assert got == hll.estimate(acc.to_bytes())
    else:
        assert got == acc.to_bytes()
