"""Vectorized (NumPy, uint64) hashing primitives.

The reference seeds a per-instance random multiply-shift hash
(``/root/reference/hashutil.h:36-95``). Per SURVEY.md §7 we replace that
with *explicitly seeded* hashing so that shards built on different
executors agree and merges are deterministic:

- the 64-bit base key hash ``h`` is computed JVM-side with Spark's
  ``xxhash64(key, seed)`` (so shard routing can stay in Catalyst
  expressions, no Python in the shuffle path);
- all further derivation (pocket-dictionary index, quotient/remainder,
  Bloom probe positions, HLL register/rank) happens in NumPy on the
  uint64 view of that column, via splitmix64 remixing and Lemire
  fastrange (``/root/reference/Tests/wrappers.hpp:636-645``).

All functions operate on ``np.uint64`` arrays with wrap-around
arithmetic (numpy semantics match C uint64).
"""

from __future__ import annotations

import functools

import numpy as np

# splitmix64 constants (Steele et al., public domain; same mixer family as
# the reference's TwoIndependentMultiplyShift multiply-add-shift).
_SM_GAMMA = np.uint64(0x9E3779B97F4A7C15)
_SM_M1 = np.uint64(0xBF58476D1CE4E5B9)
_SM_M2 = np.uint64(0x94D049BB133111EB)


def as_u64(a) -> np.ndarray:
    """Reinterpret an int64/uint64 array-like as uint64 (no copy if possible)."""
    arr = np.asarray(a)
    if arr.dtype == np.uint64:
        return arr
    if arr.dtype == np.int64:
        return arr.view(np.uint64)
    return arr.astype(np.int64).view(np.uint64)


def splitmix64(x) -> np.ndarray:
    """Vectorized splitmix64 finalizer: uint64 -> well-mixed uint64.

    In-place ops on two buffers (one output, one shift temp): ~6 memory
    passes instead of ~12 — this mixer sits on every build/probe hot
    path, so allocation churn matters at Arrow-batch scale.
    """
    old = np.seterr(over="ignore")
    try:
        z = as_u64(x) + _SM_GAMMA  # one fresh output buffer
        if z.ndim == 0:
            z = (z ^ (z >> np.uint64(30))) * _SM_M1
            z = (z ^ (z >> np.uint64(27))) * _SM_M2
            return z ^ (z >> np.uint64(31))
        t = np.empty_like(z)
        np.right_shift(z, np.uint64(30), out=t)
        z ^= t
        z *= _SM_M1
        np.right_shift(z, np.uint64(27), out=t)
        z ^= t
        z *= _SM_M2
        np.right_shift(z, np.uint64(31), out=t)
        z ^= t
        return z
    finally:
        np.seterr(**old)


@functools.lru_cache(maxsize=4096)
def _seed_key(seed: int) -> np.uint64:
    return splitmix64(np.uint64(seed & 0xFFFFFFFFFFFFFFFF))


def mix_with_seed(x, seed: int) -> np.ndarray:
    """Seeded remix: splitmix64(x ^ splitmix64(seed)).

    The seed key is cached: Bloom and blocked Bloom call this once per
    shard slice with the same seed.
    """
    return splitmix64(as_u64(x) ^ _seed_key(seed))


def fastrange32(h32, n: int) -> np.ndarray:
    """Lemire fast-range: map a 32-bit value to [0, n).

    Mirrors ``reduce32`` at ``/root/reference/Tests/wrappers.hpp:636-639``:
    ``(h * n) >> 32`` in 64-bit arithmetic.
    """
    old = np.seterr(over="ignore")
    try:
        return (as_u64(h32) * np.uint64(n)) >> np.uint64(32)
    finally:
        np.seterr(**old)


def fixed_reduce(h, space: int = 6400) -> np.ndarray:
    """Map the low 16 bits of ``h`` to [0, space).

    Mirrors ``fixed_reduce`` at ``/root/reference/Tests/wrappers.hpp:642-645``
    (space = 25 quotients x 256 remainders = 6400).
    """
    old = np.seterr(over="ignore")
    try:
        return ((as_u64(h) & np.uint64(0xFFFF)) * np.uint64(space)) >> np.uint64(16)
    finally:
        np.seterr(**old)


def shard_of(h, num_shards: int) -> np.ndarray:
    """Shard id from the top 32 bits of the base hash (fastrange).

    MUST stay arithmetic-identical to the Catalyst expression built in
    ``plans.sharding.shard_col`` — shard routing happens JVM-side on
    build and NumPy-side on probe.
    """
    return fastrange32(as_u64(h) >> np.uint64(32), num_shards)


# XXH64 primes (Collet, xxHash — public domain; same constants as
# Spark's catalyst XXH64, which is what F.xxhash64 evaluates).
_XX_P1 = np.uint64(0x9E3779B185EBCA87)
_XX_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_XX_P3 = np.uint64(0x165667B19E3779F9)
_XX_P4 = np.uint64(0x85EBCA77C2B2AE63)
_XX_P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl64(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def xxh64_long(value, seed) -> np.ndarray:
    """Vectorized XXH64 of a single 64-bit word — arithmetic-identical
    to Spark's ``XXH64.hashLong`` (the kernel behind ``F.xxhash64`` on
    a bigint column). ``seed`` may be a scalar or a per-element array
    (needed for the chained multi-argument form).
    JVM-equality is pytest-pinned (test_hashing.py)."""
    old = np.seterr(over="ignore")
    try:
        v = as_u64(np.asarray(value))
        s = as_u64(np.asarray(seed))
        h = s + _XX_P5 + np.uint64(8)
        h = h ^ (_rotl64(v * _XX_P2, 31) * _XX_P1)
        h = _rotl64(h, 27) * _XX_P1 + _XX_P4
        h ^= h >> np.uint64(33)
        h *= _XX_P2
        h ^= h >> np.uint64(29)
        h *= _XX_P3
        h ^= h >> np.uint64(32)
        return h
    finally:
        np.seterr(**old)


def spark_xxhash64_long(keys, seed: int) -> np.ndarray:
    """Driver-side twin of ``plans.sharding.hashed_key_col`` for
    INTEGER keys: ``F.xxhash64(key, lit(seed))`` folds its arguments
    left-to-right starting from Spark's fixed initial seed 42 —
    ``hashLong(seed_literal, hashLong(key, 42))``. Lets probe-side
    code hash driver-held keys with zero Spark jobs."""
    h1 = xxh64_long(keys, np.uint64(42))
    # hashed_key_col appends the seed as a Python-int literal: pyspark
    # makes that an IntegerType lit (4-byte path) when it fits int32,
    # LongType (8-byte path) otherwise — mirror the switch exactly
    if -(2**31) <= int(seed) < 2**31:
        return xxh64_int(np.uint64(np.int64(seed)), h1)
    return xxh64_long(np.uint64(np.int64(seed)), h1)


def xxh64_int(value, seed) -> np.ndarray:
    """Vectorized XXH64 of a 32-bit word — Spark's ``XXH64.hashInt``
    (what ``F.xxhash64`` runs for an IntegerType argument, e.g. the
    ``F.lit(seed)`` in ``hashed_key_col``)."""
    old = np.seterr(over="ignore")
    try:
        v = as_u64(np.asarray(value)) & np.uint64(0xFFFFFFFF)
        s = as_u64(np.asarray(seed))
        h = s + _XX_P5 + np.uint64(4)
        h = h ^ (v * _XX_P1)
        h = _rotl64(h, 23) * _XX_P2 + _XX_P3
        h ^= h >> np.uint64(33)
        h *= _XX_P2
        h ^= h >> np.uint64(29)
        h *= _XX_P3
        h ^= h >> np.uint64(32)
        return h
    finally:
        np.seterr(**old)


_M64 = 0xFFFFFFFFFFFFFFFF


def _xxh64_bytes_py(data: bytes, seed: int) -> int:
    """XXH64 over a byte string — plain-Python, arithmetic-identical to
    Spark's ``XXH64.hashUnsafeBytes`` (what ``F.xxhash64`` runs on a
    StringType column's UTF-8 bytes). Probe-key scale only (a few
    thousand keys); the vectorized twin for longs is xxh64_long."""
    P1, P2, P3, P4, P5 = (int(_XX_P1), int(_XX_P2), int(_XX_P3), int(_XX_P4), int(_XX_P5))

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (64 - r))) & _M64

    length = len(data)
    off = 0
    if length >= 32:
        v1 = (seed + P1 + P2) & _M64
        v2 = (seed + P2) & _M64
        v3 = seed & _M64
        v4 = (seed - P1) & _M64
        while off + 32 <= length:
            for i, v in enumerate((v1, v2, v3, v4)):
                k = int.from_bytes(data[off + 8 * i : off + 8 * i + 8], "little")
                v = (v + k * P2) & _M64
                v = (rotl(v, 31) * P1) & _M64
                if i == 0:
                    v1 = v
                elif i == 1:
                    v2 = v
                elif i == 2:
                    v3 = v
                else:
                    v4 = v
            off += 32
        h = (rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h ^= (rotl((v * P2) & _M64, 31) * P1) & _M64
            h = (h * P1 + P4) & _M64
    else:
        h = (seed + P5) & _M64
    h = (h + length) & _M64
    while off + 8 <= length:
        k = int.from_bytes(data[off : off + 8], "little")
        h ^= (rotl((k * P2) & _M64, 31) * P1) & _M64
        h = (rotl(h, 27) * P1 + P4) & _M64
        off += 8
    if off + 4 <= length:
        k = int.from_bytes(data[off : off + 4], "little")
        h ^= (k * P1) & _M64
        h = (rotl(h, 23) * P2 + P3) & _M64
        off += 4
    while off < length:
        h ^= (data[off] * P5) & _M64
        h = (rotl(h, 11) * P1) & _M64
        off += 1
    h ^= h >> 33
    h = (h * P2) & _M64
    h ^= h >> 29
    h = (h * P3) & _M64
    h ^= h >> 32
    return h


def spark_xxhash64_str(keys, seed: int) -> np.ndarray:
    """Driver-side twin of ``hashed_key_col`` for STRING keys:
    ``F.xxhash64(key, lit(seed))`` = hash the UTF-8 bytes from Spark's
    initial seed 42, then fold the seed literal in (int or long path by
    literal width, mirroring pyspark's lit typing)."""
    h1 = np.array(
        [_xxh64_bytes_py(str(k).encode("utf-8"), 42) for k in keys],
        dtype=np.uint64,
    )
    if -(2**31) <= int(seed) < 2**31:
        return xxh64_int(np.uint64(np.int64(seed)), h1)
    return xxh64_long(np.uint64(np.int64(seed)), h1)
