"""Every serialized sketch state is read only as what it is.

For each kind in ``sketches.base.STATE_FORMATS``, the kind's decoders,
its family ``merge_states``, its ``prepare_state``/``probe_state`` (the
filters) and the SQL kernels that read it (the ``register_sketch_sql``
table and ``bf_state_contains``, called through ``functions._state_udf``'s
kernel, no Spark job) must raise ``ValueError`` on every other kind's
state, on random bytes, on a real state cut short and on a real state
with one trailing byte: never answer, never raise another type.

One exception is a property of the KMV layout, not of a reader: its
header carries no value count, so a KMV state cut at a whole number of
values is a well-formed smaller state (the exact-regime sample of fewer
values). The cut test asserts that it decodes to exactly that prefix.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from prefix_filter_spark import functions
from prefix_filter_spark.sketches import (
    ams,
    base,
    bfuse,
    blocked_bloom,
    bloom,
    cms,
    cuckoo,
    dds,
    fd,
    hll,
    kll,
    kmv,
    mg,
    prefix_filter,
    quotient,
    retrieval,
    ribbon,
    tdigest,
    two_choice,
    xor,
)

_RNG = np.random.default_rng(11)
_H = np.unique(_RNG.integers(0, 2**63, 3_000, dtype=np.int64).astype(np.uint64))
_INTS = _RNG.zipf(1.3, 5_000).astype(np.int64)
_DOUBLES = _RNG.lognormal(0.0, 2.0, 5_000)


def _filter(cfg, state=None):
    """A filter kind's seeded state and readers."""
    fam = cfg.family
    state = state if state is not None else fam.build_state(cfg, 0, _H)
    probes = _H[:64]
    readers = [
        lambda s: fam.probe_state(cfg, fam.prepare_state(cfg, s), 0, probes),
        lambda s: fam.merge_states([s, s], cfg, 0),
        lambda s: fam.merge_states([state, s], cfg, 0),
    ]
    return state, readers


def _estimate(cfg, values, *decoders):
    """An estimate kind's seeded state and readers."""
    acc = cfg.family.accumulator(cfg)
    acc.update(values)
    state = acc.to_bytes()
    merge = cfg.family.merge_states
    readers = [*decoders, lambda s: merge([s, s], cfg, 0), lambda s: merge([state, s], cfg, 0)]
    return state, readers


def _sql(name, *args):
    """The SQL kernel ``name`` over one state row; ``args`` are Arrow
    arrays of one row, or a callable of the kind's own state giving one."""
    kernel = functions._state_udf(*functions._sketch_sql_table()[name]).func
    return lambda s: kernel(pa.array([s], pa.binary()), *args)


def _kinds() -> dict:
    """kind -> (seeded state, readers): every registered state format."""
    kinds = {}
    for fam_mod, cfg in (
        (bloom, bloom.BloomConfig(n_capacity=3_000, num_shards=1)),
        (blocked_bloom, blocked_bloom.BlockedBloomConfig(n_capacity=3_000, num_shards=1)),
        (bfuse, bfuse.BFuseConfig(n_capacity=3_000, num_shards=1)),
        (cuckoo, cuckoo.CuckooConfig(n_capacity=3_000, num_shards=1)),
        (quotient, quotient.QuotientFilterConfig(n_capacity=3_000, num_shards=1)),
        (ribbon, ribbon.RibbonConfig(n_capacity=3_000, num_shards=1)),
        (two_choice, two_choice.TwoChoiceConfig(n_capacity=3_000, num_shards=1)),
        (xor, xor.XorConfig(n_capacity=3_000, num_shards=1)),
        (prefix_filter, prefix_filter.PrefixFilterConfig(n_capacity=2_500, num_shards=1)),
    ):
        kinds[fam_mod.FORMAT.kind] = _filter(cfg)
    kinds["bloom"][1].append(lambda s: bloom.contains_h_in_state(s, _H[:64]))
    bf_state_contains = functions._state_udf(
        T.BooleanType(), bytes, bloom.contains_h_in_state
    ).func
    kinds["bloom"][1].append(
        lambda s: bf_state_contains(pa.array([s], pa.binary()), pa.array([7], pa.int64()))
    )
    rcfg = retrieval.RetrievalConfig(n_capacity=3_000, num_shards=1)
    kinds["retrieval"] = _filter(rcfg, retrieval.build_state(rcfg, 0, _H, (_H % 200).astype(np.int64)))

    one_int, one_double = pa.array([5], pa.int64()), pa.array([0.5])
    kinds["hll"] = _estimate(hll.HllConfig(p=10), _INTS, hll.estimate, _sql("hll_estimate"))
    kinds["cms"] = _estimate(
        cms.CmsConfig(width=256, depth=3), _INTS, cms.CmsState.from_bytes,
        lambda s: cms.point_estimates(s, _INTS[:8]), _sql("cms_point", one_int),
    )
    kinds["kll"] = _estimate(
        kll.KllConfig(k=64), _DOUBLES, kll.KllSketch.from_bytes,
        lambda s: kll.range_fraction(s, 0.5, 2.0),
        _sql("kll_quantile", one_double), _sql("kll_rank", one_double),
    )
    kinds["tdigest"] = _estimate(
        tdigest.TDigestConfig(delta=50), _DOUBLES, tdigest.TDigest.from_bytes,
        _sql("tdigest_quantile", one_double),
    )
    kinds["dds"] = _estimate(
        dds.DDSketchConfig(alpha=0.02), _DOUBLES, dds.DDSketch.from_bytes,
        _sql("dds_quantile", one_double),
    )
    kinds["mg"] = _estimate(
        mg.MgConfig(k=16), _INTS, mg.estimates, lambda s: mg.heavy_hitters(s, 0.1),
        _sql("mg_estimate", one_int), _sql("mg_error"), _sql("mg_total"),
    )
    kmv_cfg = kmv.KmvConfig(k=64)
    kmv_acc = kmv_cfg.family.accumulator(kmv_cfg)
    kmv_acc.update(_INTS)
    own = kmv_acc.to_bytes()
    own_col = pa.array([own], pa.binary())
    pairs = [
        kmv.union_estimate, kmv.intersection_estimate, kmv.difference_estimate,
        kmv.jaccard_estimate,
    ]
    kinds["kmv"] = _estimate(
        kmv_cfg, _INTS, kmv.estimate, kmv.retained_values, _sql("kmv_estimate"),
        *[lambda s, op=op: op(s, own) for op in pairs],
        *[lambda s, op=op: op(own, s) for op in pairs],
        *[_sql(f"kmv_{op}", own_col) for op in ("union", "intersection", "difference", "jaccard")],
        *[
            lambda s, op=op: _sql(f"kmv_{op}", pa.array([s], pa.binary()))(own)
            for op in ("union", "intersection", "difference", "jaccard")
        ],
    )
    kinds["ams"] = _estimate(
        ams.AmsConfig(width=128, depth=3), _INTS, ams.f2_estimate, ams.total_count,
        lambda s: ams.inner_product_estimate(s, kinds["ams"][0]),
    )
    fd_cfg = fd.FdConfig(ell=4, dim=3)
    kinds["fd"] = _estimate(
        fd_cfg, list(_RNG.normal(size=(50, 3))), fd.n_rows, fd.gram_estimate,
        lambda s: fd.top_directions(s, 2),
    )
    return kinds


KINDS = _kinds()


def _assert_rejected(kind: str, bad: bytes) -> None:
    for i, read in enumerate(KINDS[kind][1]):
        with pytest.raises(ValueError):
            read(bad)
            pytest.fail(f"{kind} reader {i} answered")


def test_every_registered_kind_is_covered():
    assert set(KINDS) == {f.kind for f in base.STATE_FORMATS.values()}


def test_own_states_read():
    """Each seeded state is read by every one of its kind's readers
    (the static filters' merge raises by design), so no rejection
    below passes for a reader that cannot answer at all."""
    for kind, (state, readers) in KINDS.items():
        for read in readers:
            try:
                read(state)
            except ValueError as e:
                assert "not mergeable" in str(e), (kind, e)


@pytest.mark.parametrize("kind", sorted(KINDS))
def test_foreign_states_raise(kind):
    for other, (state, _) in KINDS.items():
        if other != kind:
            _assert_rejected(kind, state)


@pytest.mark.parametrize("kind", sorted(KINDS))
@settings(derandomize=True, max_examples=25, deadline=None)
@given(data=st.data())
def test_random_cut_and_padded_states_raise(kind, data):
    state = KINDS[kind][0]
    _assert_rejected(kind, data.draw(st.binary(max_size=256), label="random"))
    _assert_rejected(kind, state + b"\0")
    cut = data.draw(st.integers(0, len(state) - 1), label="cut")
    hdr = kmv.FORMAT.header.size
    if kind == "kmv" and cut >= hdr and (cut - hdr) % 8 == 0:
        want = kmv.retained_values(state)[: (cut - hdr) // 8]
        assert np.array_equal(kmv.retained_values(state[:cut]), want)
    else:
        _assert_rejected(kind, state[:cut])
