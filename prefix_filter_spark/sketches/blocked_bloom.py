"""Blocked Bloom filter (register-blocked) — the reference's BBF family.

Semantics follow ``SimdBlockFilter`` (/root/reference/Bloom_Filter/
simd-block.h:29-152): one cache-line-sized block per key, k=8 bits set,
one bit per 32-bit lane, lane bit picked by an 8-constant multiply-shift
(``simd-block.h:100-114`` MakeMask); and ``Impala512``
(/root/reference/Bloom_Filter/Impala512.h) which is the same with
64-byte blocks. ``SimdBlockFilterFixed`` (simd-block-fixed-fpp.h:46-213)
= non-power-of-2 block count via fastrange — which is what we use.

Vectorized: a key batch computes its (block, 8-lane-bit) matrix in
NumPy; the block OR is np.bitwise_or.at on the uint32 lane view.
Merge = elementwise OR (same-shard partials bit-identical, like bloom).

Trade-off vs classic Bloom (same as the reference's): one memory line
per op instead of k scattered lines -> much faster probes, ~2x higher
FPR at the same bits/key (block-local collisions).

State: 'PFBB' | u8 ver | u8 log2(block_bytes) | u16 pad | u64 num_blocks
       | u64 seed | u32 num_shards | blocks (num_blocks * block_bytes).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from functools import reduce

import numpy as np

from prefix_filter_spark.hashing import mix_with_seed
from prefix_filter_spark.sketches import base

# log2(block_bytes) | pad | num_blocks u64 | seed u64 | num_shards u32
# — seed/shard count serialized so mismatches fail loud
FORMAT = base.StateFormat("blocked-bloom", b"PFBB", (2,), "BHQQI")
_SEED_MASK = 0xFFFFFFFFFFFFFFFF

# the reference's 8 odd multiply constants (public, from the SIMD
# blocked-bloom literature; simd-block.h:100-108)
_SALTS = np.array(
    [
        0x47B6137B,
        0x44974D91,
        0x8824AD5B,
        0xA2B7289D,
        0x705495C7,
        0x2DF1424B,
        0x9EFC4947,
        0x5C6BFB31,
    ],
    dtype=np.uint64,
)


@dataclass(frozen=True)
class BlockedBloomConfig:
    n_capacity: int
    bits_per_key: int = 10
    block_bytes: int = 32  # 32 = SimdBlockFilter, 64 = Impala512
    num_shards: int = 32
    seed: int = 42
    # True = the reference's plain SimdBlockFilter sizing (block count
    # rounded up to a power of two, simd-block.h:66-74); False = the
    # Fixed variant's exact fastrange count (simd-block-fixed-fpp.h).
    # fastrange(h, 2^k) == top-k-bits-of-h, so the same index code
    # serves both — only the count changes.
    pow2_blocks: bool = False

    @property
    def num_blocks_per_shard(self) -> int:
        per_shard_keys = math.ceil(self.n_capacity / self.num_shards)
        m_bits = per_shard_keys * self.bits_per_key
        nb = max(1, math.ceil(m_bits / (8 * self.block_bytes)))
        return 1 << (nb - 1).bit_length() if self.pow2_blocks else nb

    @property
    def lanes(self) -> int:
        return self.block_bytes // 4  # 32-bit lanes per block


def _block_and_masks(cfg: BlockedBloomConfig, g: np.ndarray):
    """(block index, lane bit positions[8]) per key — MakeMask analogue."""
    old = np.seterr(over="ignore")
    try:
        block = ((g >> np.uint64(32)) * np.uint64(cfg.num_blocks_per_shard)) >> np.uint64(32)
        h32 = g & np.uint64(0xFFFFFFFF)
        # 8 lane-bit picks: (h * salt_i) >> 27 gives a 5-bit bit index
        prod = (h32[:, None] * _SALTS[None, :]) & np.uint64(0xFFFFFFFF)
        bitpos = (prod >> np.uint64(27)).astype(np.uint32)  # [0, 32)
        lane_count = cfg.lanes
        if lane_count == 8:
            # SimdBlockFilter: bit i goes to lane i (simd-block.h:130-138)
            lanes = np.broadcast_to(
                np.arange(8, dtype=np.int64)[None, :], bitpos.shape
            )
        else:
            # 64B blocks (Impala512 shape): lane picked from product bits
            # so all 16 lanes are used
            lanes = ((prod >> np.uint64(22)) & np.uint64(lane_count - 1)).astype(
                np.int64
            )
        return block.astype(np.int64), lanes, bitpos
    finally:
        np.seterr(**old)


def build_state(cfg: BlockedBloomConfig, shard_id: int, hashes_u64: np.ndarray) -> bytes:
    nblocks = cfg.num_blocks_per_shard
    lanes_total = nblocks * cfg.lanes
    lanes_arr = np.zeros(lanes_total, dtype=np.uint32)
    if len(hashes_u64):
        g = mix_with_seed(hashes_u64, cfg.seed + 0xBB0C)
        block, lanes, bitpos = _block_and_masks(cfg, g)
        lane_idx = block[:, None] * cfg.lanes + lanes
        np.bitwise_or.at(
            lanes_arr, lane_idx.ravel(), (np.uint32(1) << bitpos.ravel())
        )
    fields = (cfg.block_bytes.bit_length() - 1, 0, nblocks, cfg.seed & _SEED_MASK, cfg.num_shards)
    return FORMAT.pack(2, *fields) + lanes_arr.tobytes()


def _open(state: bytes) -> tuple[list, np.ndarray]:
    """The header fields (log2 block bytes, pad, num_blocks, seed,
    num_shards) and the u32 lanes of a whole state."""
    r = FORMAT.open(state)
    lanes = r.array(np.uint32, r.fields[2] << r.fields[0] >> 2)
    r.end()
    return r.fields, lanes


def check_state(cfg: BlockedBloomConfig, state: bytes) -> np.ndarray:
    """State/config consistency check (probe boundary); returns the
    state's lanes."""
    (log2_bb, _, nblocks, seed, ns), lanes = _open(state)
    if (
        (1 << log2_bb) != cfg.block_bytes
        or nblocks != cfg.num_blocks_per_shard
        or seed != (cfg.seed & _SEED_MASK)
        or ns != cfg.num_shards
    ):
        raise ValueError(
            f"blocked-bloom state (block_bytes={1 << log2_bb}, "
            f"nblocks={nblocks}, seed={seed}, num_shards={ns}) does not "
            f"match config (block_bytes={cfg.block_bytes}, "
            f"nblocks={cfg.num_blocks_per_shard}, "
            f"seed={cfg.seed & _SEED_MASK}, num_shards={cfg.num_shards})"
        )
    return lanes


def _contains_in_state(cfg: BlockedBloomConfig, state: bytes, g: np.ndarray) -> np.ndarray:
    lanes_arr = check_state(cfg, state)  # a mismatch here is silent false negatives
    if len(g) == 0:
        return np.zeros(0, dtype=bool)
    block, lanes, bitpos = _block_and_masks(cfg, g)
    lane_idx = block[:, None] * cfg.lanes + lanes
    want = np.uint32(1) << bitpos
    got = lanes_arr[lane_idx]
    return ((got & want) == want).all(axis=1)


def merge_states(states: list[bytes], cfg=None, shard_id: int = 0) -> bytes:
    """OR-merge; the full header (incl. seed + shard count) must agree,
    so the family merge's ``cfg`` and ``shard_id`` are not needed."""
    parsed = [_open(s) for s in states]
    fields = parsed[0][0]
    if any(f != fields for f, _ in parsed[1:]):
        raise ValueError("config mismatch")
    merged = reduce(np.bitwise_or, (lanes for _, lanes in parsed))
    return FORMAT.pack(2, *fields) + merged.tobytes()


def probe_state(
    cfg: BlockedBloomConfig, state: bytes, shard_id: int, h_u64: np.ndarray
) -> np.ndarray:
    return _contains_in_state(cfg, state, mix_with_seed(h_u64, cfg.seed + 0xBB0C))


# the kernel checks the state header on every call: no prepare step
FAMILY = base.FilterFamily(
    sketch_name=lambda cfg: f"bbf{cfg.block_bytes * 8}",
    build_state=build_state,
    merge_states=merge_states,
    probe_state=probe_state,
)
BlockedBloomConfig.family = FAMILY
build_blocked_bloom = base.build_filter
ShardedBlockedBloom = base.ShardedFilter
