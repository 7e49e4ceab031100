"""Sharded 3-wise binary fuse filter — the Xor filter's denser
successor (Graf & Lemire, "Binary Fuse Filters: Fast and Smaller Than
Xor Filters", JEA 2022 — public algorithm, re-derived in vectorized
NumPy): same static build-once membership contract as sketches/xor.py
at ~1.13·f bits/key instead of 1.23·f.

The density comes from the LAYOUT, not the peeling: instead of three
disjoint thirds, slots form ``num_segments + 2`` windows of power-of-2
``segment_length``; a key hashes to a start segment s and its three
slots live in consecutive segments (s, s+1, s+2), one per segment.
That spatial locality lets the hypergraph peel at a load much closer
to 1. Construction reuses xor.py's vectorized round-peeling verbatim
(the peel is layout-agnostic: any (n, 3) distinct-slot index array),
with the paper's sizing:

    factor(n)      = max(1.125, 0.875 + 0.25·ln(2^20)/ln(n))
    segment_length = 2^floor(log(n)/log(3.33) + 2.25)   (capped)

Failed peels (likelier than xor's near the tight factor) retry with a
remixed seed — deterministic, recorded in the header like xor's.

Mergeability, capability mask, probe protocol: identical to the xor
filter (LOOKUP-only, static; ``merge_states`` raises; ShardedBFuse is
protocol-compatible with ``functions.register_contains_udf``).

State layout (little-endian):
    magic 'PFSF' | u8 version | u8 fp_bits | u8 attempt | u8 pad
    | u32 segment_length | u32 num_segments | u64 seed
    | u32 num_shards | fingerprint array (u8 / u16)
    [(num_segments + 2) * segment_length]
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from prefix_filter_spark.hashing import mix_with_seed
from prefix_filter_spark.sketches import base
from prefix_filter_spark.sketches.xor import _peel

FORMAT = base.StateFormat("bfuse", b"PFSF", (1,), "BBBIIQI")
_SEED_MASK = 0xFFFFFFFFFFFFFFFF
_MAX_ATTEMPTS = 128


@dataclass(frozen=True)
class BFuseConfig:
    """Like XorConfig, sizing is from the ACTUAL shard key batch (the
    filter is static); ``n_capacity`` is API uniformity only."""

    n_capacity: int
    fingerprint_bits: int = 8  # 8 or 16
    num_shards: int = 32
    seed: int = 42

    def __post_init__(self):
        if self.fingerprint_bits not in (8, 16):
            raise ValueError("fingerprint_bits must be 8 or 16")

    def theoretical_fpr(self) -> float:
        return 2.0 ** -self.fingerprint_bits


def _layout_for(n: int) -> tuple[int, int]:
    """(segment_length, num_segments) per the paper's 3-wise sizing."""
    n = max(n, 2)
    seg_len = 1 << min(
        18, max(2, int(math.floor(math.log(n) / math.log(3.33) + 2.25)))
    )
    factor = max(1.125, 0.875 + 0.25 * math.log(2**20) / math.log(n))
    array_len = int(math.ceil(factor * n))
    num_seg = max(1, -(-array_len // seg_len) - 2)
    return seg_len, num_seg


def _derive(g: np.ndarray, seg_len: int, num_seg: int, fp_bits: int):
    """(n, 3) slot indices in consecutive segments + fingerprints."""
    old = np.seterr(over="ignore")
    try:
        mask = np.uint64(seg_len - 1)
        seg = ((g >> np.uint64(32)) * np.uint64(num_seg)) >> np.uint64(32)
        base_pos = (seg * np.uint64(seg_len)).astype(np.int64)
        h = np.stack(
            [
                base_pos + (g & mask).astype(np.int64),
                base_pos + seg_len + ((g >> np.uint64(18)) & mask).astype(np.int64),
                base_pos + 2 * seg_len + ((g >> np.uint64(36)) & mask).astype(np.int64),
            ],
            axis=1,
        )
        fp = (g ^ (g >> np.uint64(32))) & np.uint64((1 << fp_bits) - 1)
        return h, fp.astype(np.uint16 if fp_bits == 16 else np.uint8)
    finally:
        np.seterr(**old)


def build_state(cfg: BFuseConfig, shard_id: int, hashes_u64: np.ndarray) -> bytes:
    seg_len, num_seg = _layout_for(len(hashes_u64))
    slots = (num_seg + 2) * seg_len
    dtype = np.uint16 if cfg.fingerprint_bits == 16 else np.uint8
    fingers = np.zeros(slots, dtype=dtype)
    attempt = 0
    if len(hashes_u64):
        for attempt in range(_MAX_ATTEMPTS):
            g = mix_with_seed(hashes_u64, cfg.seed + 0xBF5E + attempt * 0x9E37)
            h, fp = _derive(g, seg_len, num_seg, cfg.fingerprint_bits)
            g_u, idx = np.unique(g, return_index=True)
            if len(g_u) != len(g):
                h, fp = h[idx], fp[idx]
            rounds, claimed = _peel(h, slots)
            if (rounds >= 0).all():
                for r in range(int(rounds.max()), -1, -1):
                    sel = rounds == r
                    val = (
                        fp[sel]
                        ^ fingers[h[sel, 0]]
                        ^ fingers[h[sel, 1]]
                        ^ fingers[h[sel, 2]]
                    )
                    fingers[claimed[sel]] = val
                break
            fingers[:] = 0
        else:
            raise RuntimeError(
                f"binary fuse peeling failed {_MAX_ATTEMPTS} times "
                f"(n={len(hashes_u64)}, slots={slots})"
            )
    return (
        FORMAT.pack(
            1, cfg.fingerprint_bits, attempt, 0,
            seg_len, num_seg, cfg.seed & _SEED_MASK, cfg.num_shards,
        )
        + fingers.tobytes()
    )


def _parse_state(state: bytes):
    r = FORMAT.open(state)
    fp_bits, attempt, _, seg_len, num_seg, seed, ns = r.fields
    dtype = np.uint16 if fp_bits == 16 else np.uint8
    fingers = r.array(dtype, (num_seg + 2) * seg_len)
    r.end()
    return fp_bits, attempt, seg_len, num_seg, seed, ns, fingers


def check_state(cfg: BFuseConfig, state: bytes) -> None:
    fp_bits, _, _, _, seed, ns, _ = _parse_state(state)
    if (
        fp_bits != cfg.fingerprint_bits
        or seed != (cfg.seed & _SEED_MASK)
        or ns != cfg.num_shards
    ):
        raise ValueError(
            f"bfuse state (fp_bits={fp_bits}, seed={seed}, num_shards={ns}) "
            f"does not match config (fp_bits={cfg.fingerprint_bits}, "
            f"seed={cfg.seed & _SEED_MASK}, num_shards={cfg.num_shards})"
        )


def _contains_in_state(state: bytes, h_u64: np.ndarray) -> np.ndarray:
    fp_bits, attempt, seg_len, num_seg, seed, _ns, fingers = _parse_state(state)
    if len(h_u64) == 0:
        return np.zeros(0, dtype=bool)
    g = mix_with_seed(h_u64, seed + 0xBF5E + attempt * 0x9E37)
    h, fp = _derive(g, seg_len, num_seg, fp_bits)
    return (fingers[h[:, 0]] ^ fingers[h[:, 1]] ^ fingers[h[:, 2]]) == fp


def merge_states(states: list[bytes], cfg=None, shard_id: int = 0) -> bytes:
    raise ValueError(
        "binary fuse filter states are not mergeable (static filter) — "
        "rebuild from the union of keys, or use bloom/cuckoo for "
        "incremental corpora"
    )


def prepare_state(cfg: BFuseConfig, state: bytes) -> bytes:
    check_state(cfg, state)
    return state


def probe_state(
    cfg: BFuseConfig, state: bytes, shard_id: int, h_u64: np.ndarray
) -> np.ndarray:
    return _contains_in_state(state, h_u64)


FAMILY = base.FilterFamily(
    sketch_name=lambda cfg: f"bfuse{cfg.fingerprint_bits}",
    build_state=build_state,
    merge_states=merge_states,
    prepare_state=prepare_state,
    probe_state=probe_state,
)
BFuseConfig.family = FAMILY
build_bfuse = base.build_filter
ShardedBFuse = base.ShardedFilter
