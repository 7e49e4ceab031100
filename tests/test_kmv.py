"""KMV (bottom-k / theta) sketch: exact regime, estimator bounds, merge
algebra, and set-expression accuracy."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from prefix_filter_spark.sketches import kmv


def _acc_bytes(values: np.ndarray, cfg: kmv.KmvConfig, chunks: int = 1) -> bytes:
    acc = kmv.KmvAccumulator(cfg)
    for part in np.array_split(values, chunks):
        acc.update(part)
    return acc.to_bytes()


def test_exact_below_k():
    cfg = kmv.KmvConfig(k=1024, seed=7)
    vals = np.arange(500, dtype=np.int64)
    s = _acc_bytes(np.concatenate([vals, vals]), cfg)  # dups are idempotent
    assert kmv.estimate(s) == 500.0


def test_estimate_within_bound():
    cfg = kmv.KmvConfig(k=2048, seed=7)
    n = 200_000
    s = _acc_bytes(np.arange(n, dtype=np.int64), cfg, chunks=9)
    est = kmv.estimate(s)
    assert abs(est - n) / n <= 4 * cfg.rel_error()


def test_merge_associative_commutative():
    cfg = kmv.KmvConfig(k=512, seed=11)
    rng = np.random.default_rng(3)
    parts = [
        _acc_bytes(rng.integers(0, 50_000, 20_000), cfg) for _ in range(5)
    ]
    left = kmv.merge_states([kmv.merge_states(parts[:2]), kmv.merge_states(parts[2:])])
    right = kmv.merge_states(parts[::-1])
    assert left == right  # byte-identical regardless of grouping/order


def test_mismatched_configs_rejected():
    a = _acc_bytes(np.arange(10), kmv.KmvConfig(k=64, seed=1))
    b = _acc_bytes(np.arange(10), kmv.KmvConfig(k=64, seed=2))
    c = _acc_bytes(np.arange(10), kmv.KmvConfig(k=128, seed=1))
    with pytest.raises(ValueError):
        kmv.merge_states([a, b])
    with pytest.raises(ValueError):
        kmv.merge_states([a, c])
    with pytest.raises(ValueError):
        kmv.intersection_estimate(a, b)


def test_set_expressions_controlled_overlap():
    cfg = kmv.KmvConfig(k=4096, seed=5)
    # A = [0, 150k), B = [100k, 250k): |A n B| = 50k, |A u B| = 250k
    a = _acc_bytes(np.arange(0, 150_000, dtype=np.int64), cfg, chunks=7)
    b = _acc_bytes(np.arange(100_000, 250_000, dtype=np.int64), cfg, chunks=3)
    ratio = 250_000 / 50_000
    tol = 4 * cfg.rel_error() * np.sqrt(ratio)
    assert abs(kmv.union_estimate(a, b) - 250_000) / 250_000 <= tol
    assert abs(kmv.intersection_estimate(a, b) - 50_000) / 50_000 <= tol
    assert abs(kmv.difference_estimate(a, b) - 100_000) / 100_000 <= tol
    jac = kmv.jaccard_estimate(a, b)
    assert abs(jac - 0.2) <= 0.2 * tol + 0.01


def test_disjoint_and_identical_sets():
    cfg = kmv.KmvConfig(k=1024, seed=5)
    a = _acc_bytes(np.arange(0, 50_000, dtype=np.int64), cfg)
    b = _acc_bytes(np.arange(50_000, 100_000, dtype=np.int64), cfg)
    assert kmv.jaccard_estimate(a, a) == 1.0
    # set-expression estimator (count/theta) vs unbiased point estimator
    # ((k-1)/theta) differ by k/(k-1) by construction
    assert kmv.intersection_estimate(a, a) == pytest.approx(
        kmv.estimate(a), rel=2 / cfg.k
    )
    # disjoint: tiny spurious overlap only from hash-space sampling noise
    assert kmv.intersection_estimate(a, b) <= 0.02 * 100_000
    assert kmv.jaccard_estimate(a, b) <= 0.02


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=60, deadline=None)
@given(
    st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=0, max_size=400),
    st.integers(min_value=2, max_value=6),
    st.randoms(),
)
def test_property_partition_invariance(values, n_parts, rnd):
    """Any partition of the stream into any number of chunks, merged in
    any order/grouping, yields the same bytes as one flat pass — the
    merge-associativity contract the tree merge relies on."""
    cfg = kmv.KmvConfig(k=64, seed=3)
    vals = np.array(values, dtype=np.int64)
    flat = _acc_bytes(vals, cfg)

    idx = np.arange(len(vals))
    rnd.shuffle(idx)
    parts = [
        _acc_bytes(vals[chunk], cfg)
        for chunk in np.array_split(idx, n_parts)
    ]
    rnd.shuffle(parts)
    # random binary merge tree
    while len(parts) > 1:
        i = rnd.randrange(len(parts) - 1)
        parts[i : i + 2] = [kmv.merge_states([parts[i], parts[i + 1]])]
    assert parts[0] == flat
    # exactness below k: distinct(values) <= 400 but k=64 — only assert
    # exact when genuinely under k
    n_distinct = len(np.unique(vals)) if len(vals) else 0
    if n_distinct < cfg.k:
        assert kmv.estimate(parts[0]) == float(n_distinct)


def test_spark_build_matches_exact(spark):
    cfg = kmv.KmvConfig(k=2048, seed=42)
    n = 300_000
    df = spark.range(n).select((F.col("id") % 120_000).alias("v"))
    s = kmv.sketch_bytes(df, F.xxhash64("v", F.lit(9)), cfg)
    est = kmv.estimate(s)
    assert abs(est - 120_000) / 120_000 <= 4 * cfg.rel_error()


def test_streaming_kmv_equals_batch(spark, tmp_path):
    """KMV through foreach_batch_build: the order-independent merge
    makes the streamed state byte-identical to the one-shot build."""
    from prefix_filter_spark.streaming.build import foreach_batch_build

    cfg = kmv.KmvConfig(k=512, seed=5)
    keys = spark.range(20_000).select(F.xxhash64("id", F.lit(6)).alias("key"))
    src = f"{tmp_path}/src"
    for i in range(4):
        keys.where(F.pmod(F.col("key"), F.lit(4)) == i).write.mode(
            "overwrite" if i == 0 else "append"
        ).parquet(src)

    stream = (
        spark.readStream.schema("key long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = foreach_batch_build(
        stream,
        "key",
        build_fn=lambda df, k: kmv.build_kmv(df, k, cfg),
        merge_fn=cfg,
        state_path=f"{tmp_path}/state",
        checkpoint_dir=f"{tmp_path}/ckpt",
    )
    q.awaitTermination(120)
    streamed = kmv.merge_states(
        [bytes(r["state"]) for r in spark.read.parquet(f"{tmp_path}/state").collect()]
    )
    batch = kmv.sketch_bytes(keys, "key", cfg)
    assert streamed == batch


def test_per_group_kmv(spark):
    """Skew-safe per-group KMV: per-source distinct within bound."""
    from prefix_filter_spark.operators.per_group import sketch_by_group

    cfg = kmv.KmvConfig(k=1024, seed=8)
    df = spark.range(120_000).select(
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("source"),
        F.xxhash64((F.col("id") % 9_000), F.lit(2)).alias("v"),
    )
    out = sketch_by_group(
        df,
        "source",
        "v",
        cfg,
        salt_on="v",
    ).toPandas()
    assert len(out) == 3
    assert (out["n_partials"] > 1).all()  # the salt actually fanned out
    for s in out["state"]:
        est = kmv.estimate(bytes(s))
        # each source sees 3000 distinct of the 9000 residues
        assert abs(est - 3_000) / 3_000 <= 4 * cfg.rel_error()


def test_spark_partial_merge_equals_single_pass(spark):
    """Distributed build == one flat accumulator over the same hashes
    (merge correctness through the real partials path)."""
    cfg = kmv.KmvConfig(k=512, seed=13)
    df = spark.range(80_000).repartition(16).select(
        F.xxhash64("id", F.lit(3)).alias("h")
    )
    dist = kmv.sketch_bytes(df, "h", cfg)
    flat = _acc_bytes(
        df.toPandas()["h"].to_numpy().astype(np.int64), cfg, chunks=1
    )
    assert dist == flat


def test_kll_and_kmv_decoders_reject_each_others_state():
    """Every decoder, merge and estimate of one kind raises ValueError
    on the other's state (KMV wrote KLL's magic 'PFSK' before it had
    its own)."""
    import pytest

    from prefix_filter_spark.sketches import kll

    vals = np.arange(10_000, dtype=np.int64)
    kll_acc = kll.KllSketch(kll.KllConfig())
    kll_acc.update(vals.astype(np.float64))
    kll_state = kll_acc.to_bytes()
    kmv_state = _acc_bytes(vals, kmv.KmvConfig())
    for fn in (kmv.estimate, kmv.retained_values, lambda s: kmv.merge_states([s, s])):
        with pytest.raises(ValueError):
            fn(kll_state)
    for fn in (kll.KllSketch.from_bytes, lambda s: kll.merge_states([s, s])):
        with pytest.raises(ValueError):
            fn(kmv_state)
    with pytest.raises(ValueError):
        kmv.union_estimate(kmv_state, kll_state)
    # each kind's own state still decodes
    assert abs(kmv.estimate(kmv_state) - 10_000) <= 4 * kmv.KmvConfig().rel_error() * 10_000
    assert abs(kll.KllSketch.from_bytes(kll_state).quantile(0.5) - 5_000) <= 300
