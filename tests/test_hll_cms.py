"""HLL + CMS: published error bounds, merge associativity (bit-identical
under shuffled orders), Spark build path vs exact + built-in oracles."""

import random

import numpy as np
from pyspark.sql import functions as F

from prefix_filter_spark.sketches import cms, hll


# ---------------- HLL -------------------------------------------------
def test_hll_accuracy_kernel():
    cfg = hll.HllConfig(p=14, seed=1)
    for n in (1_000, 50_000, 1_000_000):
        acc = hll.HllAccumulator(cfg)
        acc.update(np.arange(n, dtype=np.int64))
        est = hll.estimate(acc.to_bytes())
        assert abs(est - n) / n < 3 * cfg.rel_error() * 1.5, (n, est)


def test_hll_merge_bit_identical_any_order():
    cfg = hll.HllConfig(p=12, seed=2)
    rng = np.random.default_rng(0)
    data = rng.integers(0, 10**12, 200_000)
    parts = np.array_split(data, 9)
    states = []
    for p in parts:
        a = hll.HllAccumulator(cfg)
        a.update(p)
        states.append(a.to_bytes())
    full = hll.HllAccumulator(cfg)
    full.update(data)
    expect = full.to_bytes()
    for t in range(4):
        s = list(states)
        random.Random(t).shuffle(s)
        r = random.Random(50 + t)
        while len(s) > 1:
            i = r.randrange(len(s) - 1)
            s.insert(i, hll.merge_states([s.pop(i), s.pop(i)]))
        assert s[0] == expect


def test_hll_spark_build_vs_exact(spark, documents):
    from prefix_filter_spark.sources import tokenizer

    toks = tokenizer.exploded_tokens(tokenizer.tokenize_documents(documents))
    cfg = hll.HllConfig(p=14, seed=42)
    est = hll.distinct_estimate(toks, "token", cfg)
    exact = toks.select("token").distinct().count()
    assert abs(est - exact) / max(exact, 1) < 0.05
    # built-in oracle agrees on the same column
    spark_est = toks.agg(F.approx_count_distinct("token").alias("e")).collect()[0]["e"]
    assert abs(spark_est - exact) / max(exact, 1) < 0.1


# ---------------- CMS -------------------------------------------------
def test_cms_bounds_kernel():
    cfg = cms.CmsConfig(width=8192, depth=5, seed=3)
    rng = np.random.default_rng(1)
    # zipf-ish stream with heavy hitters
    data = rng.zipf(1.3, 500_000)
    data = data[data < 100_000]
    acc = cms.CmsAccumulator(cfg)
    acc.update(data)
    state = acc.to_bytes()
    keys = np.arange(1, 50)
    true = np.array([(data == k).sum() for k in keys])
    est = cms.point_estimates(state, keys, cfg)
    assert (est >= true).all()  # one-sided guarantee
    n = cms.total_count(state)
    assert (est <= true + cfg.eps * n).all()


def test_cms_merge_bit_identical_any_order():
    cfg = cms.CmsConfig(width=1024, depth=4, seed=4)
    rng = np.random.default_rng(2)
    data = rng.integers(0, 1000, 100_000)
    parts = np.array_split(data, 7)
    states = []
    for p in parts:
        a = cms.CmsAccumulator(cfg)
        a.update(p)
        states.append(a.to_bytes())
    full = cms.CmsAccumulator(cfg)
    full.update(data)
    expect = full.to_bytes()
    for t in range(3):
        s = list(states)
        random.Random(t).shuffle(s)
        while len(s) > 1:
            s = [cms.merge_states(s[:2])] + s[2:]
        assert s[0] == expect


def test_cms_spark_heavy_hitters(spark, documents):
    from prefix_filter_spark.sources import tokenizer

    toks = tokenizer.exploded_tokens(tokenizer.tokenize_documents(documents))
    cfg = cms.CmsConfig(width=8192, depth=5, seed=42)
    row = cms.build_cms(toks, "token", cfg).collect()[0]
    state = bytes(row["state"])
    top = (
        toks.groupBy("token").count().orderBy(F.desc("count"), "token").limit(10).toPandas()
    )
    est = cms.point_estimates(state, top["token"].to_numpy(), cfg)
    true = top["count"].to_numpy()
    n = cms.total_count(state)
    assert (est >= true).all()
    assert (est <= true + cfg.eps * n).all()
    assert n == toks.count()


# ---------------- CMS state versions ----------------------------------
from hypothesis import given, settings
from hypothesis import strategies as st

_EDGE_COUNTERS = [0, 1, 65_534, 65_535, 65_536, 2**32 - 1, 2**32, 2**32 + 1, 2**62, -1, -(2**40)]


def _cms_acc(counters: np.ndarray, total: int = 0, seed: int = 7) -> cms.CmsAccumulator:
    d, w = counters.shape
    acc = cms.CmsAccumulator(cms.CmsConfig(width=w, depth=d, seed=seed))
    acc.counters = counters.astype(np.int64)
    acc.total = total
    return acc


def _v2_state(st_: cms.CmsState) -> bytes:
    """The version 2 layout (i64 counters), as written before version 3."""
    hdr = cms.FORMAT.pack(2, st_.depth, 0, st_.width, 0, st_.total, st_.seed)
    return hdr + st_.counters.astype("<i8").tobytes()


@settings(max_examples=200, deadline=None)
@given(
    st.integers(1, 4),
    st.integers(1, 48),
    st.data(),
)
def test_cms_state_round_trip(d, w, data):
    """Any counter matrix (0, the u16 edge, past 2^32, negative) decodes
    to itself; the version and size follow the escape count, and a
    version 2 state of the same counters re-encodes to the same bytes."""
    value = st.one_of(
        st.integers(0, 65_534), st.integers(0, 70_000), st.sampled_from(_EDGE_COUNTERS),
        st.integers(-(2**63), 2**63 - 1),
    )
    counters = np.array(data.draw(st.lists(value, min_size=d * w, max_size=d * w)), dtype=np.int64)
    acc = _cms_acc(counters.reshape(d, w), total=data.draw(st.integers(0, 2**63 - 1)))
    state = acc.to_bytes()
    dec = cms.CmsState.from_bytes(state)
    assert np.array_equal(dec.counters, acc.counters)
    assert (dec.depth, dec.width, dec.total, dec.seed) == (d, w, acc.total, 7)
    n_esc = int(np.count_nonzero((counters >= 65_535) | (counters < 0)))
    if 12 * n_esc >= 6 * d * w:
        assert state[4] == 2 and len(state) == 32 + 8 * d * w
    else:
        assert state[4] == 3 and len(state) == 32 + 2 * d * w + 12 * n_esc
    assert cms.merge_states([_v2_state(dec)]) == state


def test_cms_all_escapes_fall_back_to_version_2():
    acc = _cms_acc(np.full((3, 16), 70_000))
    state = acc.to_bytes()
    assert state[4] == 2 and len(state) == 32 + 8 * 3 * 16
    assert np.array_equal(cms.CmsState.from_bytes(state).counters, acc.counters)


def _two_cms_states():
    cfg = cms.CmsConfig(width=512, depth=4, seed=11)
    accs = [cms.CmsAccumulator(cfg) for _ in range(2)]
    rng = np.random.default_rng(3)
    for acc in accs:
        # key 0's 70,000 copies push one counter per row past 65,535
        acc.update(np.concatenate([np.zeros(70_000, np.int64), rng.integers(0, 300, 50_000)]))
    return accs


def test_cms_version_2_state_merges_with_version_3():
    a, b = _two_cms_states()
    v3a, v3b = a.to_bytes(), b.to_bytes()
    assert v3a[4] == 3 and int.from_bytes(v3a[12:16], "little") > 0  # some escapes
    v2a, v2b = (_v2_state(cms.CmsState.from_bytes(s)) for s in (v3a, v3b))
    merged = cms.merge_states([v2a, v3b])
    assert merged == cms.merge_states([v3a, v3b]) == cms.merge_states([v2a, v2b])
    dec = cms.CmsState.from_bytes(merged)
    assert np.array_equal(dec.counters, a.counters + b.counters)
    assert dec.total == a.total + b.total
    keys = np.arange(400)
    assert np.array_equal(cms.point_estimates(v2a, keys), cms.point_estimates(v3a, keys))


def test_cms_version_2_state_answers_cms_point(spark):
    from prefix_filter_spark.functions import register_sketch_sql

    register_sketch_sql(spark)
    a, _ = _two_cms_states()
    v3 = a.to_bytes()
    spark.createDataFrame(
        [("v2", _v2_state(cms.CmsState.from_bytes(v3))), ("v3", v3)], "ver string, state binary"
    ).createOrReplaceTempView("cms_versions")
    rows = spark.sql(
        "SELECT ver, k, cms_point(state, k) c FROM cms_versions, "
        "(SELECT id AS k FROM range(400)) ORDER BY ver, k"
    ).collect()
    got = {v: [r["c"] for r in rows if r["ver"] == v] for v in ("v2", "v3")}
    assert got["v2"] == got["v3"] == cms.point_estimates(v3, np.arange(400)).tolist()


def test_cms_truncated_or_padded_state_raises():
    import pytest

    a, _ = _two_cms_states()
    state = a.to_bytes()
    esc_at = 32 + 2 * 4 * 512
    bad = [
        state[:31], state[:32], state[:-1], state[:-12], state + b"\0", state + bytes(12),
        state[:4] + bytes([4]) + state[5:],  # unknown version
        state[:12] + (0).to_bytes(4, "little") + state[16:],  # escape count says 0
        state[:esc_at] + (10**6).to_bytes(4, "little") + state[esc_at + 4 :],  # index out of range
    ]
    for b in bad:
        with pytest.raises(ValueError):
            cms.CmsState.from_bytes(b)
        with pytest.raises(ValueError):
            cms.merge_states([state, b])


def test_cms_profile_state_is_a_quarter_of_version_2(spark):
    """The perfbench token profile's corpus shape (16k synthetic
    documents, 5 x 8192 counters): the state is <= 26% of the version
    2 size, and its counters are the same."""
    from prefix_filter_spark.sketches import base
    from prefix_filter_spark.sources.synthetic import synthetic_documents

    cfg = cms.CmsConfig()
    state = base.estimate_state(synthetic_documents(spark, 16_000, seed=1), "tokens", cfg)
    assert state[4] == 3
    assert len(state) <= 0.26 * (8 * cfg.depth * cfg.width + 32)
    dec = cms.CmsState.from_bytes(state)
    assert dec.total == int(dec.counters[0].sum())
    assert cms.CmsState.from_bytes(_v2_state(dec)).counters.tolist() == dec.counters.tolist()


def test_tree_merge_produces_single_row(spark):
    cfg = hll.HllConfig(p=10, seed=5)
    df = spark.range(100_000).repartition(16)
    merged = hll.build_hll(df, "id", cfg)
    rows = merged.collect()
    assert len(rows) == 1
    est = hll.estimate(bytes(rows[0]["state"]))
    assert abs(est - 100_000) / 100_000 < 0.1
    # lineage columns survive the tree merge
    assert rows[0]["input_rows"] == 100_000


def test_hll_sparse_same_registers_and_estimate():
    """Sparse serialization: identical register content + estimate,
    much smaller state while the sketch is far from full."""
    vals = np.arange(500, dtype=np.int64)
    dense_acc = hll.HllAccumulator(hll.HllConfig(p=14, sparse=False))
    sparse_acc = hll.HllAccumulator(hll.HllConfig(p=14, sparse=True))
    dense_acc.update(vals)
    sparse_acc.update(vals)
    sd, ss = dense_acc.to_bytes(), sparse_acc.to_bytes()
    (pd_, _, _), rd = hll._parse_state(sd)
    (ps, _, _), rs = hll._parse_state(ss)
    assert (pd_, ps) == (14, 14)
    assert np.array_equal(rd, rs)
    assert hll.estimate(sd) == hll.estimate(ss)
    assert len(ss) < len(sd) / 8  # ~1.6 KB vs 16 KB at 500 distinct


def test_hll_sparse_promotes_to_dense_when_full():
    vals = np.arange(50_000, dtype=np.int64)
    acc = hll.HllAccumulator(hll.HllConfig(p=10, sparse=True))
    acc.update(vals)
    # nnz ~ m at 50k >> m=1024: serializer must fall back to dense
    assert len(acc.to_bytes()) == hll.FORMAT.header.size + 1024


def test_hll_merge_mixed_formats_equals_dense_merge():
    rng = np.random.default_rng(7)
    parts = [rng.integers(0, 10**12, 300) for _ in range(4)]
    dense_states, mixed_states = [], []
    for i, vals in enumerate(parts):
        d = hll.HllAccumulator(hll.HllConfig(p=12, sparse=False))
        m = hll.HllAccumulator(hll.HllConfig(p=12, sparse=(i % 2 == 0)))
        d.update(vals.astype(np.int64))
        m.update(vals.astype(np.int64))
        dense_states.append(d.to_bytes())
        mixed_states.append(m.to_bytes())
    want = hll.merge_states(dense_states)
    got = hll.merge_states(mixed_states)
    # a mixed merge densifies; content must equal the dense merge
    assert hll._parse_state(got)[1].tolist() == hll._parse_state(want)[1].tolist()
    assert hll.estimate(got) == hll.estimate(want)
    # all-sparse merge stays sparse and round-trips identically
    all_sparse = [
        s for i, s in enumerate(mixed_states) if i % 2 == 0
    ]
    merged_sparse = hll.merge_states(all_sparse)
    assert hll.FORMAT.open(merged_sparse).fields[1] == hll._FMT_SPARSE
