"""The probe-handle protocol (sketches/base.py ShardedFilter) over every
sharded filter kind: each handle is its family's ``prepare_state`` +
``probe_state`` wrapped by the one routing loop.

States are built driver-side with each family's ``_build_state`` (no
Spark), so the whole matrix runs in seconds.
"""

from __future__ import annotations

import dataclasses
import functools
import pickle

import numpy as np
import pytest

from prefix_filter_spark.hashing import shard_of
from prefix_filter_spark.sketches import base
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

# kind -> (family module, handle class, config, build(cfg, sid, keys, values))
KINDS = {
    "bloom": (blm, blm.ShardedBloom, blm.BloomConfig(n_capacity=N, num_shards=SHARDS),
              lambda c, s, k, v: blm._build_state(c, k)),
    "blocked_bloom": (bbm, bbm.ShardedBlockedBloom,
                      bbm.BlockedBloomConfig(n_capacity=N, num_shards=SHARDS),
                      lambda c, s, k, v: bbm._build_state(c, k)),
    "two_choice": (tcm, tcm.ShardedTwoChoice,
                   tcm.TwoChoiceConfig(n_capacity=N, num_shards=SHARDS),
                   lambda c, s, k, v: tcm._build_state(c, k)),
    "cuckoo": (ckm, ckm.ShardedCuckoo, ckm.CuckooConfig(n_capacity=N, num_shards=SHARDS),
               lambda c, s, k, v: ckm._build_state(c, k)),
    "prefix_filter": (pfm, pfm.ShardedPrefixFilter,
                      pfm.PrefixFilterConfig(n_capacity=N, num_shards=SHARDS),
                      lambda c, s, k, v: pfm._build_state(c, s, k)),
    "xor": (xrm, xrm.ShardedXor, xrm.XorConfig(n_capacity=N, num_shards=SHARDS),
            lambda c, s, k, v: xrm._build_state(c, k)),
    "bfuse": (bfm, bfm.ShardedBFuse, bfm.BFuseConfig(n_capacity=N, num_shards=SHARDS),
              lambda c, s, k, v: bfm._build_state(c, k)),
    "ribbon": (rbm, rbm.ShardedRibbon, rbm.RibbonConfig(n_capacity=N, num_shards=SHARDS),
               lambda c, s, k, v: rbm._build_state(c, k)),
    "quotient": (qfm, qfm.ShardedQuotient,
                 qfm.QuotientFilterConfig(n_capacity=N, num_shards=SHARDS),
                 lambda c, s, k, v: qfm._build_state(c, k)),
    "retrieval": (rvm, rvm.ShardedRetrieval,
                  rvm.RetrievalConfig(n_capacity=N, num_shards=SHARDS),
                  lambda c, s, k, v: rvm._build_state(c, k, v)),
}

_rng = np.random.default_rng(7)
KEYS = np.unique(_rng.integers(0, 2**64 - 1, size=N, dtype=np.uint64))
VALUES = (KEYS % np.uint64(1 << 16)).astype(np.int64)
BATCH = np.concatenate(
    [KEYS, _rng.integers(0, 2**64 - 1, size=N, dtype=np.uint64)]
).view(np.int64)  # the int64 xxhash64 column values a UDF receives
_rng.shuffle(BATCH)


def _probe(handle, h):
    if isinstance(handle, rvm.ShardedRetrieval):
        return handle.lookup_h(h)
    return handle.contains_h(h)


@functools.lru_cache(maxsize=None)
def _case(kind):
    family, cls, cfg, build = KINDS[kind]
    sid_of_key = shard_of(KEYS, cfg.num_shards)
    states = {
        sid: build(cfg, sid, KEYS[sid_of_key == sid], VALUES[sid_of_key == sid])
        for sid in range(cfg.num_shards)
        if sid != MISSING
    }
    return family, cls, cfg, states


@pytest.fixture(params=sorted(KINDS))
def case(request):
    return _case(request.param)


def test_handle_binds_the_family_functions(case):
    family, cls, _cfg, _states = case
    assert issubclass(cls, base.ShardedFilter)
    assert cls.probe_state is family.probe_state
    if hasattr(family, "prepare_state"):
        assert cls.prepare_state is family.prepare_state
    # the routing loop and handle plumbing live only in the base class
    for name in ("contains_h", "lookup_h", "from_df", "byte_size", "predecode"):
        assert name not in cls.__dict__, name


def test_mixed_batch_equals_per_shard_probe_state(case):
    family, cls, cfg, states = case
    got = _probe(cls(cfg, states), BATCH)
    prepare = getattr(family, "prepare_state", lambda c, s: s)
    h = BATCH.view(np.uint64)
    sids = shard_of(h, cfg.num_shards)
    assert len(np.unique(sids)) == cfg.num_shards  # really mixed
    want = np.zeros(len(h), dtype=got.dtype)
    for sid, state in states.items():
        m = sids == sid
        want[m] = family.probe_state(cfg, prepare(cfg, state), sid, h[m])
    assert np.array_equal(got, want)
    # inserted keys: zero false negatives / exact values
    member = np.isin(h, KEYS) & (sids != MISSING)
    if got.dtype == np.int64:
        lookup = dict(zip(KEYS.tolist(), VALUES.tolist()))
        assert all(got[i] == lookup[int(h[i])] for i in np.flatnonzero(member))
    else:
        assert got[member].all()


def test_empty_batch(case):
    _family, cls, cfg, states = case
    out = _probe(cls(cfg, states), np.zeros(0, dtype=np.int64))
    assert len(out) == 0
    assert out.dtype == (np.int64 if cls is rvm.ShardedRetrieval else bool)


def test_missing_shard_answers_false_or_zero(case):
    _family, cls, cfg, states = case
    h = BATCH.view(np.uint64)
    on_missing = BATCH[shard_of(h, cfg.num_shards) == MISSING]
    assert len(on_missing) > 0
    assert not _probe(cls(cfg, states), on_missing).any()


def test_other_seed_raises(case):
    _family, cls, cfg, states = case
    other = dataclasses.replace(cfg, seed=cfg.seed + 1)
    with pytest.raises(ValueError):
        _probe(cls(other, states), BATCH)


def test_pickle_after_predecode_identical(case):
    _family, cls, cfg, states = case
    handle = cls(cfg, states)
    want = _probe(handle, BATCH)
    assert handle.predecode() is handle
    clone = pickle.loads(pickle.dumps(handle, protocol=pickle.HIGHEST_PROTOCOL))
    assert np.array_equal(_probe(clone, BATCH), want)
    assert clone.byte_size() == handle.byte_size() == sum(map(len, states.values()))


@pytest.mark.parametrize(
    # the prefix filter and quotient filter prepare a decoded table
    "kind", sorted(set(KINDS) - {"prefix_filter", "quotient"})
)
def test_state_prepared_as_itself_is_pickled_once(kind):
    """A prepared value that IS the state must be the same bytes object,
    so the broadcast pickle stores the state once, not twice."""
    _family, cls, cfg, states = _case(kind)
    handle = cls(cfg, states)
    size_before = len(pickle.dumps(handle, protocol=pickle.HIGHEST_PROTOCOL))
    handle.predecode()
    assert all(handle.prepared(sid) is st for sid, st in states.items())
    size_after = len(pickle.dumps(handle, protocol=pickle.HIGHEST_PROTOCOL))
    assert size_after - size_before < 64 * len(states)
