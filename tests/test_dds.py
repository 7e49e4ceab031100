"""DDSketch: relative-error bound, exact-count bit-identical merges
(the strongest determinism of the quantile sketches — KLL/t-digest
promise only epsilon-bounded estimates under reordering), zero/negative
handling, collapsing-lowest bounded memory, distributed build
partition-invariance."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from prefix_filter_spark.sketches import dds

QS = [0.01, 0.1, 0.5, 0.9, 0.99, 0.999]


def _mixed(rng, n=60_000):
    data = np.concatenate(
        [
            rng.lognormal(3, 2, n),
            -rng.lognormal(1, 1, n // 5),
            np.zeros(n // 100),
        ]
    )
    rng.shuffle(data)
    return data


def test_relative_error_bound():
    rng = np.random.default_rng(0)
    data = _mixed(rng)
    sk = dds.DDSketch(dds.DDSketchConfig(alpha=0.01))
    sk.update(data)
    est = sk.quantiles(QS)
    exact = np.quantile(data, QS, method="lower")
    rel = np.abs(est - exact) / np.maximum(np.abs(exact), 1e-12)
    assert (rel <= 0.01 + 1e-9).all(), rel


def test_merge_bit_identical_any_order_and_vs_single_pass():
    rng = np.random.default_rng(1)
    data = _mixed(rng)
    cfg = dds.DDSketchConfig(alpha=0.02)
    whole = dds.DDSketch(cfg)
    whole.update(data)
    parts = []
    for chunk in np.array_split(data, 7):
        p = dds.DDSketch(cfg)
        p.update(chunk)
        parts.append(p)
    orders = [list(range(7)), [3, 0, 6, 1, 5, 2, 4], [6, 5, 4, 3, 2, 1, 0]]
    blobs = set()
    for order in orders:
        acc = parts[order[0]]
        for i in order[1:]:
            acc = acc.merge(parts[i])
        blobs.add(acc.to_bytes())
    assert blobs == {whole.to_bytes()}


def test_zero_and_negative_quantiles():
    sk = dds.DDSketch(dds.DDSketchConfig(alpha=0.01))
    sk.update(np.array([-100.0, -1.0, 0.0, 0.0, 1.0, 100.0]))
    assert sk.quantile(0.0) == pytest.approx(-100.0, rel=0.011)
    assert sk.quantile(0.5) == 0.0
    assert sk.quantile(1.0) == pytest.approx(100.0, rel=0.011)


def test_collapse_bounds_memory_and_keeps_upper_quantiles():
    cfg = dds.DDSketchConfig(alpha=0.01, max_bins=64)
    rng = np.random.default_rng(2)
    data = rng.lognormal(0, 4, 50_000)  # spans far more than 64 bins
    sk = dds.DDSketch(cfg)
    sk.update(data)
    assert len(sk.pos_idx) <= 64
    assert sk.n == 50_000
    # α holds only ABOVE the collapsed mass (paper §2.3): pick quantiles
    # whose rank lands strictly past the folded bin
    folded_frac = float(sk.pos_cnt[0]) / sk.n
    assert folded_frac < 1.0
    for q in (folded_frac + (1 - folded_frac) * 0.5, folded_frac + (1 - folded_frac) * 0.9):
        exact = float(np.quantile(data, q, method="lower"))
        assert abs(sk.quantile(q) - exact) <= 0.0101 * exact, q


def test_serde_roundtrip_and_alpha_mismatch():
    sk = dds.DDSketch(dds.DDSketchConfig(alpha=0.01))
    sk.update(np.arange(1, 1000, dtype=np.float64))
    again = dds.DDSketch.from_bytes(sk.to_bytes())
    assert again.to_bytes() == sk.to_bytes()
    other = dds.DDSketch(dds.DDSketchConfig(alpha=0.05))
    with pytest.raises(ValueError, match="different alpha"):
        sk.merge(other)


def test_distributed_build_partition_invariant(spark):
    cfg = dds.DDSketchConfig(alpha=0.01)
    df = spark.range(1, 50_001).select(
        (F.col("id") % 997 + 1).cast("double").alias("v")
    )
    a = bytes(dds.build_dds(df, "v", cfg).collect()[0]["state"])
    b = bytes(dds.build_dds(df.repartition(17), "v", cfg).collect()[0]["state"])
    assert a == b  # exact integer counts: bit-identical, not just within-eps
    sk = dds.DDSketch.from_bytes(a)
    assert sk.n == 50_000
    exact = float(
        df.select(F.expr("percentile_approx(v, 0.5, 2147483647)")).collect()[0][0]
    )
    assert abs(sk.quantile(0.5) - exact) <= 0.0101 * exact


def test_registry_lookup():
    from prefix_filter_spark.registry import Capability, info, supports

    assert info("dds100").name == "dds"
    assert supports("dds", Capability.ESTIMATE)
    assert not supports("dds", Capability.LOOKUP)


# -- property tests ----------------------------------------------------
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=50, deadline=None)
@given(
    data=st.lists(
        st.floats(
            min_value=-1e9, max_value=1e9, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=400,
    ),
    n_chunks=st.integers(1, 8),
    seed=st.integers(0, 2**31),
    alpha=st.sampled_from([0.005, 0.01, 0.05]),
)
def test_property_merge_equals_single_pass_and_alpha_holds(
    data, n_chunks, seed, alpha
):
    """Any chunking + any merge order reproduces the single-pass bytes
    exactly, and every quantile stays within alpha of the element at
    the sketch's rank convention."""
    arr = np.asarray(data, dtype=np.float64)
    cfg = dds.DDSketchConfig(alpha=alpha)
    whole = dds.DDSketch(cfg)
    whole.update(arr)
    rng = np.random.default_rng(seed)
    order = rng.permutation(n_chunks)
    parts = np.array_split(arr, n_chunks)
    acc = None
    for i in order:
        p = dds.DDSketch(cfg)
        p.update(parts[i])
        acc = p if acc is None else acc.merge(p)
    assert acc.to_bytes() == whole.to_bytes()
    qs = np.asarray([0.0, 0.25, 0.5, 0.75, 1.0])
    est = whole.quantiles(qs)
    srt = np.sort(arr)
    for q, e in zip(qs, est):
        x = srt[int(q * (len(arr) - 1))]
        assert abs(e - x) <= alpha * abs(x) + 1e-12, (q, e, x)


def test_infinite_values_ignored_like_nan():
    sk = dds.DDSketch(dds.DDSketchConfig(alpha=0.01))
    sk.update(np.array([1.0, np.inf, -np.inf, np.nan, 2.0]))
    assert sk.n == 2
    assert sk.quantile(0.0) == pytest.approx(1.0, rel=0.011)
    assert sk.quantile(1.0) == pytest.approx(2.0, rel=0.011)


def test_max_bins_mismatch_rejected():
    a = dds.DDSketch(dds.DDSketchConfig(alpha=0.01, max_bins=512))
    b = dds.DDSketch(dds.DDSketchConfig(alpha=0.01, max_bins=2048))
    with pytest.raises(ValueError, match="different max_bins"):
        a.merge(b)


def test_dds_per_group_skew_safe_build(spark):
    """DDSketch composes with the generic salted per-group builder
    (operators/per_group.sketch_by_group): exact integer counts mean
    the salted fan-out + merge is bit-identical to a direct per-group
    build, whatever the salt bucket count."""
    from prefix_filter_spark.operators.per_group import sketch_by_group

    cfg = dds.DDSketchConfig(alpha=0.01)
    df = spark.range(30_000).selectExpr(
        "concat('s', cast(id % 3 as string)) as source",
        "cast(id % 997 + 1 as double) as v",
        "cast(id as string) as doc_id",
    )
    out = {
        r["group"]: bytes(r["state"])
        for r in sketch_by_group(
            df, "source", "v", cfg,
            salt_on="doc_id", salt_buckets=8,
        ).collect()
    }
    assert set(out) == {"s0", "s1", "s2"}
    for grp, blob in out.items():
        direct = dds.DDSketch(cfg)
        vals = [
            r["v"] for r in df.where(F.col("source") == grp).collect()
        ]
        direct.update(np.asarray(vals, dtype=np.float64))
        assert blob == direct.to_bytes(), grp
