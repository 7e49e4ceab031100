import numpy as np
import pytest

from prefix_filter_spark import hashing


def test_splitmix64_known_values():
    # splitmix64(0..2) published sequence (seed=0 stream)
    got = hashing.splitmix64(np.arange(3, dtype=np.uint64))
    assert got[0] == np.uint64(0xE220A8397B1DCDAF)


def _splitmix64_py(x: int) -> int:
    m = 2**64 - 1
    z = (x + 0x9E3779B97F4A7C15) & m
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & m
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & m
    return z ^ (z >> 31)


@pytest.mark.parametrize("seed", [0, 42, -1, -(2**63), 2**63, 2**64 - 1, 0xF17E])
def test_mix_with_seed_pinned(seed):
    """mix_with_seed(x, s) == splitmix64(x ^ splitmix64(s mod 2**64)),
    bit for bit, on the first call and on a cached second call."""
    x = np.array([0, 1, 2**63, 2**64 - 1, 0x0123456789ABCDEF], dtype=np.uint64)
    key = _splitmix64_py(seed % 2**64)
    expect = np.array([_splitmix64_py(int(v) ^ key) for v in x], dtype=np.uint64)
    for _ in range(2):
        np.testing.assert_array_equal(hashing.mix_with_seed(x, seed), expect)
    np.testing.assert_array_equal(hashing.mix_with_seed(x.view(np.int64), seed), expect)


def test_fastrange_bounds_and_uniformity():
    h = hashing.splitmix64(np.arange(100_000, dtype=np.uint64))
    r = hashing.fastrange32(h >> np.uint64(32), 97)
    assert r.min() >= 0 and r.max() < 97
    counts = np.bincount(r.astype(int), minlength=97)
    assert counts.std() / counts.mean() < 0.05


def test_fixed_reduce_range():
    h = hashing.splitmix64(np.arange(10_000, dtype=np.uint64))
    qr = hashing.fixed_reduce(h)
    assert qr.min() >= 0 and qr.max() < 6400
    quot, rem = qr >> np.uint64(8), qr & np.uint64(0xFF)
    assert quot.max() < 25 and rem.max() < 256


def test_shard_of_matches_jvm_expression(spark):
    """NumPy shard routing must equal the Catalyst expression (build path)."""
    from pyspark.sql import functions as F

    from prefix_filter_spark.plans.sharding import hashed_key_col, shard_col

    df = spark.range(50_000).select(F.col("id").alias("key"))
    h = hashed_key_col("key", seed=42)
    pdf = df.select(h.alias("h"), shard_col(h, 33).alias("shard")).toPandas()
    np_shard = hashing.shard_of(pdf["h"].to_numpy(), 33)
    assert (np_shard.astype(np.int64) == pdf["shard"].to_numpy()).all()


def test_spark_xxhash64_long_twin_matches_jvm(spark):
    """Driver-side NumPy XXH64 twin == F.xxhash64(bigint, lit(seed))
    for every seed width (int-literal 4-byte path and long-literal
    8-byte path) — the equality hash_probe_keys' zero-job path rests on."""
    import numpy as np

    from prefix_filter_spark.hashing import spark_xxhash64_long
    from prefix_filter_spark.plans.sharding import hashed_key_col

    vals = [0, 1, -1, 42, 2**62, -(2**62), 123456789012345, -987654321]
    df = spark.createDataFrame([(v,) for v in vals], "k long")
    for seed in (7, 42, 0x5EED, -3, 2**40):
        jvm = [
            r[0] & (2**64 - 1)
            for r in df.select(hashed_key_col("k", seed)).collect()
        ]
        py = [int(x) for x in spark_xxhash64_long(np.array(vals, dtype=np.int64), seed)]
        assert jvm == py, f"seed {seed}"


def test_spark_xxhash64_str_twin_matches_jvm(spark):
    """Plain-Python XXH64-over-UTF8 twin == F.xxhash64(string,
    lit(seed)) across every length class (empty, <4, 4-7, 8-31, 32+,
    non-ASCII) — the string-key zero-job path in hash_probe_keys."""
    from prefix_filter_spark.hashing import spark_xxhash64_str
    from prefix_filter_spark.plans.sharding import hashed_key_col

    vals = [
        "", "a", "abcd", "abcdefg", "abcdefgh", "0123456789abcde",
        "0123456789abcdef", "x" * 31, "y" * 32, "z" * 33, "w" * 64,
        "hello world this is a longer test string",
        "üñïçødé-ключ-键",
    ]
    df = spark.createDataFrame([(v,) for v in vals], "k string")
    for seed in (7, 42, 0x5EED, -3, 2**40):
        jvm = [
            r[0] & (2**64 - 1)
            for r in df.select(hashed_key_col("k", seed)).collect()
        ]
        py = [int(x) for x in spark_xxhash64_str(vals, seed)]
        assert jvm == py, f"seed {seed}"
