"""Misra-Gries heavy hitters: deterministic two-sided bound, the
err <= n/(k+1) invariant under every merge order, and the
no-false-negative heavy-hitter guarantee."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from prefix_filter_spark.sketches import mg


def _zipf_tokens(rng, n: int, n_types: int = 2_000) -> np.ndarray:
    ranks = np.minimum(rng.zipf(1.3, size=n), n_types)
    return np.array([f"tok{r}" for r in ranks])


def _acc_bytes(values: np.ndarray, cfg: mg.MgConfig, chunks: int = 1) -> bytes:
    acc = mg.MgAccumulator(cfg)
    for part in np.array_split(values, chunks):
        acc.update(part)
    return acc.to_bytes()


def _check_bounds(state: bytes, values: np.ndarray) -> None:
    total, err, counts = mg.estimates(state)
    assert total == len(values)
    k = mg._parse_state(state)[0]
    assert len(counts) <= k
    assert err <= len(values) / (k + 1)
    toks, true = np.unique(values, return_counts=True)
    truth = dict(zip(toks, true))
    for t, est in counts.items():
        assert est <= truth[t] <= est + err, t
    # no false negatives: every token with true > err is present
    for t, c in truth.items():
        if c > err:
            assert t in counts, (t, c, err)


def test_exact_below_k():
    cfg = mg.MgConfig(k=64)
    vals = np.repeat([f"t{i}" for i in range(20)], [i + 1 for i in range(20)])
    s = _acc_bytes(vals, cfg, chunks=3)
    total, err, counts = mg.estimates(s)
    assert err == 0  # never compressed: exact counts
    assert counts == {f"t{i}": i + 1 for i in range(20)}


def test_bounds_on_zipf_stream():
    cfg = mg.MgConfig(k=128)
    rng = np.random.default_rng(7)
    vals = _zipf_tokens(rng, 60_000)
    s = _acc_bytes(vals, cfg, chunks=11)
    _check_bounds(s, vals)


def test_merge_bounds_any_order():
    """The counter SET may differ by merge order (documented), but the
    deterministic bound must hold for every order and tree shape."""
    cfg = mg.MgConfig(k=96)
    rng = np.random.default_rng(3)
    vals = _zipf_tokens(rng, 40_000)
    parts = [_acc_bytes(c, cfg) for c in np.array_split(vals, 7)]
    grouped = mg.merge_states(
        [mg.merge_states(parts[:3]), mg.merge_states(parts[3:])]
    )
    flat = mg.merge_states(parts[::-1])
    for s in (grouped, flat):
        _check_bounds(s, vals)


def test_mismatched_k_rejected():
    a = _acc_bytes(np.array(["x"]), mg.MgConfig(k=8))
    b = _acc_bytes(np.array(["x"]), mg.MgConfig(k=16))
    with pytest.raises(ValueError):
        mg.merge_states([a, b])


def test_heavy_hitters_no_false_negatives():
    cfg = mg.MgConfig(k=32)
    rng = np.random.default_rng(11)
    # planted heavy tokens at ~10% and ~5% over a uniform tail
    tail = np.array([f"u{i}" for i in rng.integers(0, 5_000, 17_000)])
    vals = np.concatenate([tail, np.repeat("HEAVY_A", 2_000), np.repeat("HEAVY_B", 1_000)])
    rng.shuffle(vals)
    s = _acc_bytes(vals, cfg, chunks=5)
    hh = mg.heavy_hitters(s, phi=0.04)
    assert "HEAVY_A" in hh and "HEAVY_B" in hh


@settings(max_examples=50, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=30), min_size=0, max_size=300),
    st.integers(min_value=2, max_value=5),
    st.randoms(),
)
def test_property_bounds_partition_invariant(ranks, n_parts, rnd):
    """Any chunking, any merge order: per-token bounds + err <= n/(k+1)."""
    cfg = mg.MgConfig(k=8)
    vals = np.array([f"t{r}" for r in ranks], dtype=object)
    idx = np.arange(len(vals))
    rnd.shuffle(idx)
    parts = [
        _acc_bytes(vals[chunk], cfg) for chunk in np.array_split(idx, n_parts)
    ]
    rnd.shuffle(parts)
    while len(parts) > 1:
        i = rnd.randrange(len(parts) - 1)
        parts[i : i + 2] = [mg.merge_states([parts[i], parts[i + 1]])]
    if len(vals):
        _check_bounds(parts[0], vals)
    else:
        total, err, counts = mg.estimates(parts[0])
        assert total == 0 and err == 0 and counts == {}


def test_spark_build_bounds(spark):
    """Distributed build through the real partials + tree-merge path:
    bounds hold and the planted heavy token is guaranteed present."""
    cfg = mg.MgConfig(k=64)
    n = 200_000
    # zipf-ish via modular residue classes: token 'h' gets 20% of rows
    df = spark.range(n).select(
        F.when(F.col("id") % 5 == 0, F.lit("h"))
        .otherwise(F.concat(F.lit("t"), (F.col("id") % 3_000).cast("string")))
        .alias("tok")
    ).repartition(16)
    row = mg.build_mg(df, "tok", cfg).select("state").collect()[0]
    s = bytes(row["state"])
    total, err, counts = mg.estimates(s)
    assert total == n
    assert err <= n / (cfg.k + 1)
    true_h = n // 5
    assert "h" in counts
    assert counts["h"] <= true_h <= counts["h"] + err


def test_per_group_mg(spark):
    """Skew-safe per-group heavy hitters: the planted dominant token of
    each source is guaranteed present in that source's summary."""
    from prefix_filter_spark.operators.per_group import sketch_by_group

    cfg = mg.MgConfig(k=48)
    df = spark.range(90_000).select(
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("source"),
        F.when(
            F.col("id") % 4 == 0,
            F.concat(F.lit("HOT_s"), (F.col("id") % 3).cast("string")),
        )
        .otherwise(F.concat(F.lit("t"), (F.col("id") % 2_000).cast("string")))
        .alias("tok"),
    )
    out = sketch_by_group(
        df,
        "source",
        "tok",
        cfg,
        salt_on="tok",
    ).toPandas()
    assert len(out) == 3
    for src, state in zip(out["group"], out["state"]):
        total, err, counts = mg.estimates(bytes(state))
        assert total == 30_000
        assert err <= total / (cfg.k + 1)
        hot = f"HOT_{src}"
        assert hot in counts
        assert counts[hot] <= 7_500 <= counts[hot] + err


def _oracle_inputs(dtype: str, rng) -> np.ndarray:
    ranks = np.minimum(rng.zipf(1.3, size=6_000), 3_000)
    if dtype == "int64":
        return (ranks * 7_919 - 10_000).astype(np.int64)
    if dtype == "float":
        return ranks / 8.0
    return np.array([f"tok{r}" for r in ranks], dtype=object)


@pytest.mark.parametrize("k", [4, 256])
@pytest.mark.parametrize("dtype", ["int64", "str", "float"])
def test_array_kernel_matches_dict_oracle(dtype, k):
    """The array kernel's ``to_bytes`` and ``merge_states`` equal the
    dict implementation byte for byte, with compression running after
    nearly every one of many small batches."""
    from tests.mg_dict_oracle import DictMgAccumulator, merge_states

    rng = np.random.default_rng(k)
    cfg = mg.MgConfig(k=k)
    parts_new, parts_old = [], []
    for _ in range(5):
        new, old = mg.MgAccumulator(cfg), DictMgAccumulator(cfg)
        for batch in np.array_split(_oracle_inputs(dtype, rng), 60):
            new.update(batch)
            old.update(batch)
        assert new.to_bytes() == old.to_bytes()
        parts_new.append(new.to_bytes())
        parts_old.append(old.to_bytes())
    assert mg.merge_states(parts_new) == merge_states(parts_old)
    assert mg.merge_states(parts_new[:2]) == merge_states(parts_old[:2])
