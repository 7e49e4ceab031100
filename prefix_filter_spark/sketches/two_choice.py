"""Two-choice fingerprint table — the reference's TC_shortcut family
re-derived for batch builds.

The reference (/root/reference/TC-Shortcut/TC-shortcut.hpp:10-307,
tc-sym.hpp:53-733) places each key in one of two candidate buckets
(VQF-style), preferring the primary while it is below a shortcut
threshold (tc-sym.hpp:200-217), else the lesser-loaded. Batch form:

1. all keys try their primary bucket; buckets keep up to B fingerprints
   (smallest-fingerprint-first retention so the result is independent
   of arrival order — same determinism trick as the PF's
   keep-25-smallest protocol);
2. spilled keys try their alternate bucket (cuckoo-style partner:
   ``alt = bucket XOR fastrange(fp)``, the symmetric trick of
   cuckoofilter_stable.h:120-129 reused by TC, TC-shortcut.hpp:113-143);
3. keys spilled twice land in a sorted per-shard overflow array
   (probed exactly via searchsorted -> still zero false negatives, a
   graceful version of the reference's capacity throw).

Fingerprints carry a primary/alt flag bit, so a serialized table can be
decoded back to (primary_bucket, fp) pairs — which makes same-shard
MERGE a deterministic rebuild over the union of pairs: associative,
commutative, bit-identical under any merge order.

State: 'PFTC' | u8 ver | u8 slots | u16 fp_bits | u32 num_buckets
       | u32 n_overflow | u64 seed | u32 num_shards
       | table u16[num_buckets * slots] | overflow u32[]

seed and num_shards are serialized so every parse boundary (probe,
merge, delete) rejects a state/config mismatch loudly instead of
silently mis-deriving fingerprints (false negatives) or routing deletes
to the wrong pairs.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame

from prefix_filter_spark.hashing import as_u64, mix_with_seed
from prefix_filter_spark.sketches import base

FORMAT = base.StateFormat("two-choice", b"PFTC", (2,), "BHIIQI")
_SEED_MASK = 0xFFFFFFFFFFFFFFFF
_ALT_FLAG = np.uint16(0x8000)  # bit 15: stored in its alternate bucket


@dataclass(frozen=True)
class TwoChoiceConfig:
    n_capacity: int
    slots_per_bucket: int = 16
    fp_bits: int = 12  # fingerprint width (<=14; bit 15 = alt flag)
    load: float = 0.85
    num_shards: int = 32
    seed: int = 42

    def __post_init__(self):
        if not 1 <= self.fp_bits <= 14:
            raise ValueError(
                f"fp_bits must be in [1, 14] (bit 15 is the alt flag; "
                f"got {self.fp_bits})"
            )

    @property
    def num_buckets_per_shard(self) -> int:
        per_shard = math.ceil(self.n_capacity / self.num_shards)
        nb = max(2, math.ceil(per_shard / (self.slots_per_bucket * self.load)))
        if nb >= 1 << 16:
            raise ValueError(
                "two-choice shard too large (bucket id must fit 16 bits for "
                "the packed overflow encoding) — raise num_shards"
            )
        return nb


def _derive(cfg: TwoChoiceConfig, hashes_u64: np.ndarray, num_buckets: int):
    """key hash -> (primary bucket, fingerprint in [1, 2^fp_bits))."""
    g = mix_with_seed(hashes_u64, cfg.seed + 0x7C01)
    b1 = (((g >> np.uint64(32)) * np.uint64(num_buckets)) >> np.uint64(32)).astype(
        np.int64
    )
    fp = (g & np.uint64((1 << cfg.fp_bits) - 1)).astype(np.uint16)
    fp = np.where(fp == 0, np.uint16(1), fp)  # 0 = empty slot sentinel
    return b1, fp


def _alt_bucket(cfg: TwoChoiceConfig, bucket: np.ndarray, fp: np.ndarray, num_buckets: int):
    """Symmetric partner bucket: b XOR fastrange(mix(fp)), made
    self-inverse by XOR on the bucket index modulo table wrap."""
    old = np.seterr(over="ignore")
    try:
        salt = mix_with_seed(fp.astype(np.uint64), cfg.seed + 0x7C02)
        delta = ((salt & np.uint64(0xFFFFFFFF)) * np.uint64(num_buckets)) >> np.uint64(32)
        alt = bucket ^ delta.astype(np.int64)
        return np.where(alt < num_buckets, alt, bucket)  # keep in range; self-inverse
    finally:
        np.seterr(**old)


def _fill_buckets(
    cfg: TwoChoiceConfig, b1: np.ndarray, fp: np.ndarray, num_buckets: int
):
    """Deterministic batch two-choice placement (arrival-order free)."""
    B = cfg.slots_per_bucket
    table = np.zeros((num_buckets, B), dtype=np.uint16)
    occupancy = np.zeros(num_buckets, dtype=np.int64)
    # dedupe (b1, fp) pairs — set semantics like the PF kernel
    packed = np.unique(as_u64(b1) * np.uint64(1 << 16) + fp.astype(np.uint64))
    b1u = (packed >> np.uint64(16)).astype(np.int64)
    fpu = (packed & np.uint64(0xFFFF)).astype(np.uint16)

    # three deterministic spill rounds approximating lesser-loaded
    # placement (the reference's shortcut: primary while below a
    # threshold, tc-sym.hpp:200-217; then the partner; then primary's
    # reserve slots). Each round is one vectorized rank-and-scatter.
    shortcut = max(1, int(B * 0.8))
    alt_all = _alt_bucket(cfg, b1u, fpu, num_buckets)
    rounds = [
        (b1u, shortcut, np.uint16(0)),
        (alt_all, B, _ALT_FLAG),
        (b1u, B, np.uint16(0)),
    ]
    pending = np.ones(len(b1u), dtype=bool)
    for target_all, cap, flag in rounds:
        if not pending.any():
            break
        idx = np.flatnonzero(pending)
        target = target_all[idx]
        order = np.lexsort((fpu[idx], target))  # smallest-fp-first
        idx = idx[order]
        target = target[order]
        t_counts = np.bincount(target, minlength=num_buckets)
        t_starts = np.concatenate(([0], t_counts.cumsum()))[:-1]
        rank = np.arange(len(target)) - t_starts[target]
        fits = occupancy[target] + rank < cap
        placed = idx[fits]
        rows = target[fits]
        cols = (occupancy[target] + rank)[fits]
        table[rows, cols] = fpu[placed] | flag
        occupancy += np.bincount(rows, minlength=num_buckets)
        pending[placed] = False
    overflow = np.sort(
        (as_u64(b1u[pending]) * np.uint64(1 << 16) + fpu[pending].astype(np.uint64))
    ).astype(np.uint32)
    return table, overflow


def _pack_header(cfg: TwoChoiceConfig, nb: int, n_overflow: int) -> bytes:
    return FORMAT.pack(
        2,
        cfg.slots_per_bucket,
        cfg.fp_bits,
        nb,
        n_overflow,
        cfg.seed & _SEED_MASK,
        cfg.num_shards,
    )


def build_state(cfg: TwoChoiceConfig, shard_id: int, hashes_u64: np.ndarray) -> bytes:
    nb = cfg.num_buckets_per_shard
    b1, fp = _derive(cfg, hashes_u64, nb)
    table, overflow = _fill_buckets(cfg, b1, fp, nb)
    return (
        _pack_header(cfg, nb, len(overflow))
        + table.tobytes()
        + overflow.tobytes()
    )


def _parse_state(state: bytes):
    r = FORMAT.open(state)
    slots, fp_bits, nb, n_ov, seed, num_shards = r.fields
    table = r.array(np.uint16, nb * slots).reshape(nb, slots)
    overflow = r.array(np.uint32, n_ov)
    r.end()
    return slots, fp_bits, nb, table, overflow, seed, num_shards


def _pairs_of_state(cfg: TwoChoiceConfig, state: bytes) -> np.ndarray:
    """Decode -> packed (primary_bucket << 16 | fp) u64 array."""
    slots, fp_bits, nb, table, overflow, _seed, _ns = _parse_state(state)
    rows = np.repeat(np.arange(nb, dtype=np.int64), slots)
    vals = table.ravel()
    occ = vals != 0
    fp = (vals[occ] & ~_ALT_FLAG).astype(np.uint16)
    is_alt = (vals[occ] & _ALT_FLAG) != 0
    bucket = rows[occ]
    primary = bucket.copy()
    if is_alt.any():
        primary[is_alt] = _alt_bucket(cfg, bucket[is_alt], fp[is_alt], nb)
    packed = as_u64(primary) * np.uint64(1 << 16) + fp.astype(np.uint64)
    return np.concatenate([packed, overflow.astype(np.uint64)])


def _check_geometry(cfg: TwoChoiceConfig, state: bytes):
    """Reject states built under a different geometry before a rebuild
    silently mis-places every pair (or IndexErrors); returns the
    ``_parse_state`` tuple."""
    parsed = _parse_state(state)
    slots, fp_bits, nb, _, _, seed, num_shards = parsed
    if (
        nb != cfg.num_buckets_per_shard
        or slots != cfg.slots_per_bucket
        or fp_bits != cfg.fp_bits
        or seed != (cfg.seed & _SEED_MASK)
        or num_shards != cfg.num_shards
    ):
        raise ValueError(
            f"two-choice state (nb={nb}, slots={slots}, fp_bits={fp_bits}, "
            f"seed={seed}, num_shards={num_shards}) does not match config "
            f"(nb={cfg.num_buckets_per_shard}, slots={cfg.slots_per_bucket}, "
            f"fp_bits={cfg.fp_bits}, seed={cfg.seed & _SEED_MASK}, "
            f"num_shards={cfg.num_shards})"
        )
    return parsed


def merge_states(states: list[bytes], cfg: TwoChoiceConfig, shard_id: int = 0) -> bytes:
    """Union of (primary, fp) pairs -> deterministic rebuild."""
    nb = cfg.num_buckets_per_shard
    for s in states:
        _check_geometry(cfg, s)
    pairs = np.unique(np.concatenate([_pairs_of_state(cfg, s) for s in states]))
    b1 = (pairs >> np.uint64(16)).astype(np.int64)
    fp = (pairs & np.uint64(0xFFFF)).astype(np.uint16)
    table, overflow = _fill_buckets(cfg, b1, fp, nb)
    return (
        _pack_header(cfg, nb, len(overflow))
        + table.tobytes()
        + overflow.tobytes()
    )


def _contains_in_state(cfg: TwoChoiceConfig, state: bytes, g_hashes: np.ndarray) -> np.ndarray:
    # a mismatch here is silent false negatives
    _, _, nb, table, overflow, _, _ = _check_geometry(cfg, state)
    b1, fp = _derive(cfg, g_hashes, nb)  # g_hashes are the raw key hashes
    b2 = _alt_bucket(cfg, b1, fp, nb)
    plain = fp.astype(np.uint16)
    flagged = plain | _ALT_FLAG
    hit1 = (table[b1] == plain[:, None]).any(axis=1)
    hit2 = (table[b2] == flagged[:, None]).any(axis=1)
    res = hit1 | hit2
    if len(overflow):
        packed = (as_u64(b1) * np.uint64(1 << 16) + fp.astype(np.uint64)).astype(
            np.uint32
        )
        idx = np.searchsorted(overflow, packed)
        idx = np.minimum(idx, len(overflow) - 1)
        res |= overflow[idx] == packed
    return res


def remove_states(state: bytes, cfg: TwoChoiceConfig, hashes_u64: np.ndarray) -> bytes:
    """Batch Remove — the reference's TC delete support
    (/root/reference/TC-Shortcut/TC-shortcut.hpp:251-264, functionality
    mask includes delete; PF/Bloom throw 'Unsupported' and so do ours).

    Set semantics: deleting key k removes the (primary_bucket, fp) pair
    k maps to. Like every fingerprint filter, a *different* key that
    collides on the same pair is removed with it (the reference carries
    the same caveat: deleting never-inserted keys corrupts a cuckoo
    table; here it is a no-op unless the pair collides). Rebuild keeps
    the deterministic placement, so remove(merge(A,B)) ==
    merge(remove(A), remove'(B)) at pair level.
    """
    _check_geometry(cfg, state)
    nb = cfg.num_buckets_per_shard
    b1, fp = _derive(cfg, hashes_u64, nb)
    dead = np.unique(as_u64(b1) * np.uint64(1 << 16) + fp.astype(np.uint64))
    pairs = _pairs_of_state(cfg, state)
    keep = pairs[~np.isin(pairs, dead)]
    kb = (keep >> np.uint64(16)).astype(np.int64)
    kf = (keep & np.uint64(0xFFFF)).astype(np.uint16)
    table, overflow = _fill_buckets(cfg, kb, kf, nb)
    return (
        _pack_header(cfg, nb, len(overflow))
        + table.tobytes()
        + overflow.tobytes()
    )


def remove_keys(df: DataFrame, key_col, cfg: TwoChoiceConfig, shards_df: DataFrame) -> DataFrame:
    """Distributed delete (see base.remove_keys_sharded; un-compacted
    partial rows per shard are merged before the delete applies).
    ``n_keys`` is recounted exactly from the rebuilt state's occupied
    pairs, so the lineage stays honest after merge-dedupe + delete."""
    return base.remove_keys_sharded(
        df,
        key_col,
        cfg,
        shards_df,
        remove_state_fn=lambda state, h: remove_states(state, cfg, h),
        count_state_fn=lambda state: len(_pairs_of_state(cfg, state)),
    )


def probe_state(
    cfg: TwoChoiceConfig, state: bytes, shard_id: int, h_u64: np.ndarray
) -> np.ndarray:
    return _contains_in_state(cfg, state, h_u64)


# the kernel checks the state geometry on every call: no prepare step
FAMILY = base.FilterFamily(
    sketch_name=lambda cfg: f"tc{cfg.fp_bits}",
    build_state=build_state,
    merge_states=merge_states,
    probe_state=probe_state,
)
TwoChoiceConfig.family = FAMILY
build_two_choice = base.build_filter
ShardedTwoChoice = base.ShardedFilter
