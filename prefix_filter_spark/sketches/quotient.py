"""Sharded quotient filter (RSQF slot layout) — the MERGEABLE compact-
fingerprint filter of the family.

Pankratz-style quotienting (Bender et al., "Don't thrash: how to cache
your hash on flash", 2012; Pandey et al., "A general-purpose counting
filter: RSQF/CQF", SIGMOD 2017 — public algorithms, re-derived here):
a fingerprint splits into a QUOTIENT (the canonical slot — here a
fastrange reduction of the high remix bits into the EXACT slot count,
the reference's own non-pow2 "-Flex" sizing move) and an r-bit
REMAINDER (stored in the slot). Colliding quotients
form a sorted RUN shifted right of its canonical slot; two metadata
bitvectors (``occupieds`` — which quotients have a run; ``runends`` —
which slots end a run) make the layout decodable without per-slot
pointers.

Why this filter completes the family: xor / bfuse / ribbon are static
(merge raises), Bloom merges but cannot enumerate or delete, cuckoo /
TC delete but merge only by re-keying rebuild. The quotient filter's
state is a CANONICAL function of its fingerprint SET — slot count is
fixed by config (not by the observed batch), so two partial states
over the same hash-space partition decode to fingerprint sets whose
union re-encodes deterministically: merge is associative, commutative,
and bit-identical under any grouping (pytest-verified by shuffled merge
orders), the property the north rule requires of every mergeable
sketch. Deletes are set-difference + re-encode, with the same
documented fingerprint-collision caveat as the cuckoo filter.

Batch-build deviations from the textbook (documented, semantics-
preserving):

- the slot region is NOT circular: a run that would wrap past slot
  2^q - 1 extends into a tail instead (``m_slots`` in the header is
  whatever the canonical layout needs, <= 2^q + last cluster length).
  Wraparound exists in the C implementations to keep the array exactly
  2^q; with the whole fingerprint set known at build time the
  non-wrapping layout is the same first-fit-right assignment
  (start_i = max(quotient_i, end_{i-1} + 1)) computed in four
  vectorized NumPy ops, and stays a pure function of the set;
- fingerprints are a SET (duplicate keys collapse), not the CQF's
  counted multiset;
- remainders are stored byte-aligned (uint8 / uint16), so r = 8 and
  r = 16 spend exactly the textbook r bits/slot with none of the
  bit-packing machinery.

Space: (r + 2) / alpha bits per key + headers (r bits/slot for the
remainder, ~2 bits/slot for the two metadata vectors, alpha = design
load — and with exact fastrange sizing the actual load IS the design
load, where pow2 slot rounding would let it fall toward alpha/2). FPR for a uniform non-member probe ~ alpha * 2^-r (a hit
requires the full (q + r)-bit fingerprint to collide).

State layout (little-endian):
    magic 'PFSQ' | u8 version | u8 remainder_bits | u16 pad
    | u64 n_slots | u64 m_slots | u64 seed | u32 num_shards
    | occupieds bitvector (n_slots bits, packed u8)
    | runends bitvector (m_slots bits, packed u8)
    | remainder array (u8 if r==8 else u16, m_slots entries)
"""

from __future__ import annotations

import functools
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame

from prefix_filter_spark.hashing import mix_with_seed
from prefix_filter_spark.sketches import base

FORMAT = base.StateFormat("quotient", b"PFSQ", (1,), "BHQQQI")
_SEED_MASK = 0xFFFFFFFFFFFFFFFF
_SALT_FP = 0x9F0
_DTYPE = {8: np.uint8, 16: np.uint16}


@dataclass(frozen=True)
class QuotientFilterConfig:
    """``n_slots`` (per shard) is fixed from ``n_capacity / num_shards /
    load`` at CONFIG time, not from the observed batch — that is what
    makes partial states over the same hash-space partition mergeable.
    The slot count is EXACT, not a power of two: the quotient comes
    from a fastrange reduction (the reference's own non-pow2 sizing
    move — CuckooFilterStable / the -Flex variants,
    cuckoofilter_stable.h:30, wrappers.hpp:636-645), so the design load
    actually lands at ``load`` instead of dropping toward load/2 at
    2^ceil rounding (a pow2 QF spends (r+2)/alpha_actual bits/key;
    exact sizing pins alpha_actual = load). A shard whose distinct-
    fingerprint count exceeds n_slots raises (a real QF at load 1 is
    full; resize = rebuild with a bigger config, as in the C
    implementations)."""

    n_capacity: int
    remainder_bits: int = 8  # 8 or 16 (byte-aligned == textbook bits)
    load: float = 0.9
    num_shards: int = 32
    seed: int = 42

    def __post_init__(self):
        if self.remainder_bits not in _DTYPE:
            raise ValueError("remainder_bits must be 8 or 16")
        if not (0.05 <= self.load <= 1.0):
            raise ValueError("load must be in [0.05, 1.0]")

    @property
    def n_slots(self) -> int:
        per_shard = max(self.n_capacity, 1) / max(self.num_shards, 1) / self.load
        return max(int(np.ceil(per_shard)), 16)

    def theoretical_fpr(self) -> float:
        # expected distinct fingerprints / fingerprint space
        return self.load * 2.0 ** -self.remainder_bits


def _fingerprints(cfg: QuotientFilterConfig, hashes_u64: np.ndarray) -> np.ndarray:
    """Sorted unique u64 fingerprints: quotient = fastrange of the high
    remix bits into [0, n_slots) (order-preserving, so sorting by the
    packed fingerprint sorts runs by canonical slot), remainder = the
    low r bits — independent halves of one seeded remix."""
    from prefix_filter_spark.hashing import fastrange32

    g = mix_with_seed(hashes_u64, cfg.seed + _SALT_FP)
    old = np.seterr(over="ignore")
    try:
        quot = fastrange32(g >> np.uint64(32), cfg.n_slots).astype(np.uint64)
        rem = g & np.uint64((1 << cfg.remainder_bits) - 1)
        fp = (quot << np.uint64(cfg.remainder_bits)) | rem
    finally:
        np.seterr(**old)
    return np.unique(fp)


def _encode(cfg: QuotientFilterConfig, fps: np.ndarray) -> bytes:
    """Canonical RSQF layout from a sorted unique fingerprint array.

    Vectorized first-fit-right: with runs ordered by quotient, run i
    starts at max(quotient_i, end_{i-1} + 1); unrolled via
    start = counts_before + max.accumulate(quotient - counts_before).
    """
    n_q, r = cfg.n_slots, cfg.remainder_bits
    if len(fps) > n_q:
        raise ValueError(
            f"quotient filter over capacity: {len(fps)} distinct "
            f"fingerprints > {n_q} slots — rebuild with a larger "
            "n_capacity / smaller load (resize = rebuild, as in the C "
            "implementations)"
        )
    dtype = _DTYPE[r]
    if len(fps) == 0:
        m = 0
        occ = np.zeros((n_q + 7) // 8, dtype=np.uint8)
        rend = np.zeros(0, dtype=np.uint8)
        slots = np.zeros(0, dtype=dtype)
    else:
        quots = (fps >> np.uint64(r)).astype(np.int64)
        rems = (fps & np.uint64((1 << r) - 1)).astype(dtype)
        uq, counts = np.unique(quots, return_counts=True)
        before = np.concatenate(([0], np.cumsum(counts)[:-1]))
        starts = before + np.maximum.accumulate(uq - before)
        ends = starts + counts - 1
        m = int(ends[-1]) + 1
        # scatter remainders: run i's slots are [starts_i, ends_i],
        # remainders already sorted within a run (fps sorted)
        within = np.arange(len(fps)) - np.repeat(before, counts)
        pos = np.repeat(starts, counts) + within
        slots = np.zeros(m, dtype=dtype)
        slots[pos] = rems
        occ_bits = np.zeros(n_q, dtype=bool)
        occ_bits[uq] = True
        occ = np.packbits(occ_bits, bitorder="little")
        rend_bits = np.zeros(m, dtype=bool)
        rend_bits[ends] = True
        rend = np.packbits(rend_bits, bitorder="little")
    return (
        FORMAT.pack(
            1, r, 0,
            n_q, m, cfg.seed & _SEED_MASK, cfg.num_shards,
        )
        + occ.tobytes()
        + rend.tobytes()
        + slots.tobytes()
    )


def _parse(state: bytes):
    rd = FORMAT.open(state)
    r, _, n_q, m, seed, ns = rd.fields
    if r not in _DTYPE:
        raise ValueError(f"bad quotient state: remainder_bits {r} is not 8 or 16")
    occ = rd.array(np.uint8, (n_q + 7) // 8)
    rend = rd.array(np.uint8, (m + 7) // 8)
    slots = rd.array(_DTYPE[r], m)
    rd.end()
    return r, n_q, m, seed, ns, occ, rend, slots


@functools.lru_cache(maxsize=32)
def _decode_cached(state: bytes) -> np.ndarray:
    """State -> sorted unique fingerprint array (u64). LRU for ad-hoc
    driver-side decode (merge/delete); NOTE bytes hashing is O(state
    size) per call, so the broadcast-probe hot path does NOT go through
    this per batch — prepare_state decodes once per shard and
    register_contains_udf ships the decoded arrays (the predecode
    protocol of base.ShardedFilter)."""
    r, n_q, m, _seed, _ns, occ, rend, slots = _parse(state)
    if m == 0:
        return np.zeros(0, dtype=np.uint64)
    occ_bits = np.unpackbits(occ, bitorder="little")[:n_q]
    rend_bits = np.unpackbits(rend, bitorder="little")[:m]
    uq = np.flatnonzero(occ_bits).astype(np.int64)
    ends = np.flatnonzero(rend_bits).astype(np.int64)
    # run i: starts_i = max(uq_i, ends_{i-1} + 1)
    prev_end = np.concatenate(([-1], ends[:-1]))
    starts = np.maximum(uq, prev_end + 1)
    counts = ends - starts + 1
    within = np.arange(int(counts.sum())) - np.repeat(
        np.concatenate(([0], np.cumsum(counts)[:-1])), counts
    )
    pos = np.repeat(starts, counts) + within
    quots = np.repeat(uq, counts).astype(np.uint64)
    rems = slots[pos].astype(np.uint64)
    return (quots << np.uint64(r)) | rems


def build_state(cfg: QuotientFilterConfig, shard_id: int, hashes_u64: np.ndarray) -> bytes:
    return _encode(cfg, _fingerprints(cfg, hashes_u64))


def _contains_in_state(
    state: bytes, h_u64: np.ndarray, fps: np.ndarray | None = None
) -> np.ndarray:
    from prefix_filter_spark.hashing import fastrange32

    r, n_q, _m, seed, _ns, *_ = _parse(state)
    if fps is None:
        fps = _decode_cached(state)
    if len(h_u64) == 0 or len(fps) == 0:
        return np.zeros(len(h_u64), dtype=bool)
    g = mix_with_seed(h_u64, seed + _SALT_FP)
    old = np.seterr(over="ignore")
    try:
        quot = fastrange32(g >> np.uint64(32), n_q).astype(np.uint64)
        probe = (quot << np.uint64(r)) | (g & np.uint64((1 << r) - 1))
    finally:
        np.seterr(**old)
    idx = np.minimum(np.searchsorted(fps, probe), len(fps) - 1)
    return fps[idx] == probe


def check_state(cfg: QuotientFilterConfig, state: bytes) -> None:
    r, n_q, _, seed, ns, *_ = _parse(state)
    if (
        r != cfg.remainder_bits
        or n_q != cfg.n_slots
        or seed != (cfg.seed & _SEED_MASK)
        or ns != cfg.num_shards
    ):
        raise ValueError(
            f"quotient state (r={r}, n_slots={n_q}, seed={seed}, "
            f"num_shards={ns}) does not match config "
            f"(r={cfg.remainder_bits}, n_slots={cfg.n_slots}, "
            f"seed={cfg.seed & _SEED_MASK}, num_shards={cfg.num_shards})"
        )


def merge_states(
    states: list[bytes], cfg: QuotientFilterConfig, shard_id: int = 0
) -> bytes:
    """Union of fingerprint sets, re-encoded canonically — associative,
    commutative, bit-identical under any merge grouping."""
    for s in states:
        check_state(cfg, s)
    fps = np.unique(np.concatenate([_decode_cached(s) for s in states]))
    return _encode(cfg, fps)


def remove_from_state(
    cfg: QuotientFilterConfig, state: bytes, hashes_u64: np.ndarray
) -> bytes:
    """Set-difference delete + canonical re-encode. Same caveat as the
    cuckoo filter (test-pinned there): a removal key whose FULL
    fingerprint collides with a different present key removes that
    key's fingerprint too — delete only keys that were inserted."""
    check_state(cfg, state)
    fps = _decode_cached(state)
    dead = _fingerprints(cfg, hashes_u64)
    keep = fps[~np.isin(fps, dead)]
    return _encode(cfg, keep)


def count_state(state: bytes) -> int:
    return int(len(_decode_cached(state)))


def remove_keys(
    df: DataFrame, key_col, cfg: QuotientFilterConfig, shards_df: DataFrame
) -> DataFrame:
    """Distributed delete (reference functionality mask 4, like TC and
    cuckoo): removal keys cogroup with their shard's state rows, which
    are merged first (deleting from one partial would resurrect the key
    from the others), then set-differenced and re-encoded."""
    return base.remove_keys_sharded(
        df,
        key_col,
        cfg,
        shards_df,
        remove_state_fn=lambda state, keys: remove_from_state(cfg, state, keys),
        count_state_fn=count_state,
    )


def prepare_state(cfg: QuotientFilterConfig, state: bytes):
    """Check the header and decode the shard's fingerprint array once,
    so the probe path never pays the O(state-size) bytes hash of the
    LRU per Arrow batch (after predecode() the decoded arrays ship with
    the broadcast handle)."""
    check_state(cfg, state)
    return state, _decode_cached(state)


def probe_state(
    cfg: QuotientFilterConfig, prepared, shard_id: int, h_u64: np.ndarray
) -> np.ndarray:
    state, fps = prepared
    return _contains_in_state(state, h_u64, fps=fps)


FAMILY = base.FilterFamily(
    sketch_name=lambda cfg: f"quotient{cfg.remainder_bits}",
    build_state=build_state,
    merge_states=merge_states,
    prepare_state=prepare_state,
    probe_state=probe_state,
)
QuotientFilterConfig.family = FAMILY
build_quotient = base.build_filter
ShardedQuotient = base.ShardedFilter
