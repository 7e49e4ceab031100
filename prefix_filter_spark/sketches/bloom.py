"""Sharded classic Bloom filter as a mergeable aggregate.

Semantics follow the reference's ``bloomfilter::BloomFilter``
(``/root/reference/Bloom_Filter/bloom.hpp:77-256``): k = round(bpi*ln2)
probe bits per key (``bloom.hpp:71-79``), double hashing ``a += b``
between probes (``bloom.hpp:140-154``). Re-expressed batch-vectorized:
the per-key ``Add`` loop becomes one NumPy scatter per shard, and the
cache-blocked ``AddAll`` locality trick (``bloom.hpp:156-205``) becomes
the shard shuffle itself — all keys of a shard land on one executor.

Merge of same-shard states = bitwise OR (associative, commutative,
idempotent) — building from partitioned subsets then OR-merging is
bit-identical to a single-pass build, which is the north rule's merge
associativity requirement.

State layout (little-endian):
    magic 'PFSB' | u8 version | u8 k | u16 pad | u64 m_bits | u64 seed
    | u32 num_shards | bit array u8[m_bits / 8]
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from functools import reduce

import numpy as np

from prefix_filter_spark.hashing import as_u64, mix_with_seed
from prefix_filter_spark.sketches import base

# k | pad | m_bits u64 | seed u64 | num_shards u32 — seed and shard
# count are serialized so probe/merge boundaries can reject a
# state/config mismatch loudly (a wrong seed is silent false negatives)
FORMAT = base.StateFormat("bloom", b"PFSB", (2,), "BHQQI")
_SEED_MASK = 0xFFFFFFFFFFFFFFFF


@dataclass(frozen=True)
class BloomConfig:
    """Sizing mirrors ConstructFromAddCount (/root/reference/Tests/
    wrappers.hpp:831-833): capacity declared up front, bits = n * bpi."""

    n_capacity: int
    bits_per_key: int = 12
    num_shards: int = 32
    seed: int = 42

    @property
    def k(self) -> int:
        # bloom.hpp:71-79 — optimal k = bpi * ln 2, floored at 1
        return max(1, round(self.bits_per_key * math.log(2)))

    @property
    def m_bits_per_shard(self) -> int:
        per_shard_keys = math.ceil(self.n_capacity / self.num_shards)
        m = per_shard_keys * self.bits_per_key
        return max(64, (m + 63) // 64 * 64)  # whole words

    def theoretical_fpr(self) -> float:
        n = self.n_capacity / self.num_shards
        m = self.m_bits_per_shard
        k = self.k
        return (1.0 - math.exp(-k * n / m)) ** k


def seed_mix(hashes_u64: np.ndarray, seed: int) -> np.ndarray:
    """Base hash -> the remix every Bloom build and probe derives its
    bit positions from (one salt for all of them: a probe that mixed
    differently from the build would be silent false negatives)."""
    return mix_with_seed(hashes_u64, seed + 0x5EED)


def _probe_positions(g: np.ndarray, k: int, m_bits: int) -> np.ndarray:
    """(n, k) bit positions via double hashing a += b (bloom.hpp:140-154)."""
    old = np.seterr(over="ignore")
    try:
        a = g >> np.uint64(32)
        b = g & np.uint64(0xFFFFFFFF)
        i = np.arange(k, dtype=np.uint64)
        # (n, k) = a + i*b, then fastrange32 into [0, m_bits)
        mix = a[:, None] + i[None, :] * b[:, None]
        mix &= np.uint64(0xFFFFFFFF)
        return ((mix * np.uint64(m_bits)) >> np.uint64(32)).astype(np.int64)
    finally:
        np.seterr(**old)


def build_state(cfg: BloomConfig, shard_id: int, hashes_u64: np.ndarray) -> bytes:
    m = cfg.m_bits_per_shard
    g = seed_mix(hashes_u64, cfg.seed)
    bits = np.zeros(m, dtype=bool)
    if len(g):
        pos = _probe_positions(g, cfg.k, m)
        bits[pos.ravel()] = True
    packed = np.packbits(bits, bitorder="little")
    return FORMAT.pack(2, cfg.k, 0, m, cfg.seed & _SEED_MASK, cfg.num_shards) + packed.tobytes()


def _open(state: bytes) -> tuple[list, np.ndarray]:
    """The header fields (k, pad, m_bits, seed, num_shards) and the
    packed bit array of a whole state."""
    r = FORMAT.open(state)
    bits = r.array(np.uint8, -(-r.fields[2] // 8))
    r.end()
    return r.fields, bits


def check_state(cfg: BloomConfig, state: bytes) -> None:
    """Reject a state/config mismatch before probing mis-derives bit
    positions (silent false negatives)."""
    k, _, m, seed, ns = _open(state)[0]
    if (
        k != cfg.k
        or m != cfg.m_bits_per_shard
        or seed != (cfg.seed & _SEED_MASK)
        or ns != cfg.num_shards
    ):
        raise ValueError(
            f"bloom state (k={k}, m={m}, seed={seed}, num_shards={ns}) does "
            f"not match config (k={cfg.k}, m={cfg.m_bits_per_shard}, "
            f"seed={cfg.seed & _SEED_MASK}, num_shards={cfg.num_shards})"
        )


def _contains(fields: list, packed: np.ndarray, g: np.ndarray) -> np.ndarray:
    """Membership of the remixed hashes ``g`` in an ``_open``ed state."""
    k, _, m, _, _ = fields
    if len(g) == 0:
        return np.zeros(0, dtype=bool)
    pos = _probe_positions(g, k, m)
    byte_idx = pos >> 3
    bit = np.uint8(1) << (pos & 7).astype(np.uint8)
    hit = (packed[byte_idx] & bit) != 0
    return hit.all(axis=1)


def merge_states(states: list[bytes], cfg=None, shard_id: int = 0) -> bytes:
    """OR-merge same-shard partials (bloom.hpp AddAll over subsets).
    The full header (incl. seed + shard count) must agree, so the
    family merge's ``cfg`` and ``shard_id`` are not needed."""
    parsed = [_open(s) for s in states]
    fields = parsed[0][0]
    if any(f != fields for f, _ in parsed[1:]):
        raise ValueError("cannot merge bloom states with different configs")
    merged = reduce(np.bitwise_or, (bits for _, bits in parsed))
    return FORMAT.pack(2, *fields) + merged.tobytes()


def prepare_state(cfg: BloomConfig, state: bytes) -> bytes:
    check_state(cfg, state)
    return state


def probe_state(
    cfg: BloomConfig, state: bytes, shard_id: int, h_u64: np.ndarray
) -> np.ndarray:
    return _contains(*_open(state), seed_mix(h_u64, cfg.seed))


def contains_h_in_state(state: bytes, h) -> np.ndarray:
    """Probe base-hash values against ONE serialized state, reading the
    seed from the state header — the state-COLUMN path (SQL UDF over a
    table of states, e.g. the per-file index), where no driver handle
    exists to carry the config."""
    fields, bits = _open(state)
    return _contains(fields, bits, seed_mix(as_u64(np.asarray(h)), fields[3]))


FAMILY = base.FilterFamily(
    sketch_name=lambda cfg: f"bloom{cfg.bits_per_key}",
    build_state=build_state,
    merge_states=merge_states,
    prepare_state=prepare_state,
    probe_state=probe_state,
)
BloomConfig.family = FAMILY
build_bloom = base.build_filter
ShardedBloom = base.ShardedFilter
