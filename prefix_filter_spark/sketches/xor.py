"""Sharded Xor filter — a STATIC approximate-membership filter at
~(fingerprint_bits * 1.23) bits per key with FPR ~ 2^-fingerprint_bits
(Graf & Lemire, "Xor Filters: Faster and Smaller Than Bloom and Cuckoo
Filters", JEA 2020 — public algorithm, re-derived here in vectorized
NumPy; no reference counterpart: the C++ suite's comparison set
(/root/reference/main-perf.cpp:16-31) stops at Bloom/BBF/CF/TC, so this
extends the companion-filter family on the space-optimal static side).

Construction is 3-segment hypergraph peeling. The classic algorithm
peels one key at a time off a singleton queue; here each shard peels in
vectorized ROUNDS: one ``np.bincount`` per round finds every slot with
exactly one remaining key, all keys owning such a slot are removed
together, and assignment replays the rounds in reverse. Why that is
sound: when key A is peeled in round r, its claimed slot has count 1
among the keys still alive at round r — so no key peeled in an EARLIER
round (assigned later) touches any of A's three slots, and within a
round no key uses another's claimed slot. Round count is O(log n) with
high probability at load 1/1.23, so the build is a handful of bincount
passes rather than n queue pops.

The filter is intentionally NOT mergeable: a built state cannot absorb
new keys (the peeling order is a global property of the key set) and
two states cannot be combined — ``merge_states`` raises. The sharded
build still distributes perfectly (each shard is built once from its
full key batch, the same one-shuffle plan as every other filter here);
incremental corpora should rebuild, or use Bloom/CF when they need
mergeability. Capability mask: LOOKUP only.

State layout (little-endian):
    magic 'PFSX' | u8 version | u8 fp_bits | u8 attempt | u8 pad
    | u64 seglen | u64 seed | u32 num_shards | fingerprint array
    [3 * seglen] (u8 when fp_bits==8, u16 when fp_bits==16)
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from prefix_filter_spark.hashing import mix_with_seed
from prefix_filter_spark.sketches import base

FORMAT = base.StateFormat("xor", b"PFSX", (1,), "BBBQQI")
_SEED_MASK = 0xFFFFFFFFFFFFFFFF
_MAX_ATTEMPTS = 64  # peeling fails w.p. << 1e-6 per attempt at c=1.23


@dataclass(frozen=True)
class XorConfig:
    """Unlike the dynamic filters, a shard is sized from its ACTUAL key
    batch (slot count = 32 + 1.23 * n, one segment per hash): the filter
    is static and built from the full key set, so hash imbalance across
    shards can never push a shard past the peeling threshold (sizing
    from ``n_capacity/num_shards`` did exactly that — a shard at +5%
    skew exceeds load 1/1.23 and stalls). ``n_capacity`` is kept for
    API uniformity with the other filter configs; it does not size."""

    n_capacity: int
    fingerprint_bits: int = 8  # 8 or 16
    num_shards: int = 32
    seed: int = 42

    def __post_init__(self):
        if self.fingerprint_bits not in (8, 16):
            raise ValueError("fingerprint_bits must be 8 or 16")

    def theoretical_fpr(self) -> float:
        return 2.0 ** -self.fingerprint_bits


def _seglen_for(n: int) -> int:
    slots = 32 + int(1.23 * n) + 1
    return max(4, -(-slots // 3))


def _derive(g: np.ndarray, seglen: int, fp_bits: int):
    """(h0, h1, h2, fp) from a mixed 64-bit hash: three rotations
    fastranged into their segment, fingerprint from a fourth rotation."""
    old = np.seterr(over="ignore")
    try:
        def rot(x, r):
            if r == 0:  # a shift by 64 is undefined in NumPy, as in C
                return x
            r = np.uint64(r)
            return (x << r) | (x >> (np.uint64(64) - r))

        def seg(x, k):
            r32 = (rot(x, 21 * k) & np.uint64(0xFFFFFFFF))
            return ((r32 * np.uint64(seglen)) >> np.uint64(32)).astype(np.int64) + k * seglen

        h = np.stack([seg(g, 0), seg(g, 1), seg(g, 2)], axis=1)
        fp = (g ^ (g >> np.uint64(32))) & np.uint64((1 << fp_bits) - 1)
        return h, fp.astype(np.uint16 if fp_bits == 16 else np.uint8)
    finally:
        np.seterr(**old)


def _peel(h: np.ndarray, slots: int):
    """Vectorized cascade peeling (IBLT-style). Returns (rounds,
    claimed) where ``rounds[i]`` is the round key i was peeled in
    (-1 = never: FAIL) and ``claimed[i]`` its assigned slot.

    Per slot we keep the ALIVE-key count and the XOR of alive key
    indices — when the count is 1 the xor IS the owning key, so each
    round touches only the newly peeled keys and the slots they vacate
    (total work O(n)), instead of re-scanning every alive key per
    round. That difference is what makes the binary fuse layout
    buildable: its windowed segments peel in a LONG cascade (measured
    530 rounds at 500k keys, where the rescan formulation cost 13 s vs
    well under a second here); the xor layout's short cascades are
    equally correct either way. Soundness is the same round-peeling
    invariant: a claimed slot has exactly one alive key at peel time,
    so no key peeled in an earlier round (assigned later) can touch a
    later-peeled key's slots."""
    n = len(h)
    rounds = np.full(n, -1, dtype=np.int64)
    claimed = np.full(n, -1, dtype=np.int64)
    if n == 0:
        return rounds, claimed
    flat = h.ravel()
    cnt = np.bincount(flat, minlength=slots)
    owner = np.zeros(slots, dtype=np.int64)
    keys3 = np.repeat(np.arange(n, dtype=np.int64), 3)
    np.bitwise_xor.at(owner, flat, keys3)
    alive = np.ones(n, dtype=bool)
    frontier = np.flatnonzero(cnt == 1)
    r = 0
    while len(frontier):
        k = owner[frontier]  # cnt==1 -> xor of alive keys IS the key
        uk, first = np.unique(k, return_index=True)
        live = alive[uk]
        uk, first = uk[live], first[live]
        if not len(uk):
            break
        rounds[uk] = r
        claimed[uk] = frontier[first]
        alive[uk] = False
        vac = h[uk].ravel()
        np.subtract.at(cnt, vac, 1)
        np.bitwise_xor.at(owner, vac, np.repeat(uk, 3))
        cand = np.unique(vac)
        frontier = cand[cnt[cand] == 1]
        r += 1
    return rounds, claimed


def build_state(cfg: XorConfig, shard_id: int, hashes_u64: np.ndarray) -> bytes:
    seglen = _seglen_for(len(hashes_u64))
    slots = 3 * seglen
    dtype = np.uint16 if cfg.fingerprint_bits == 16 else np.uint8
    fingers = np.zeros(slots, dtype=dtype)
    attempt = 0
    if len(hashes_u64):
        for attempt in range(_MAX_ATTEMPTS):
            g = mix_with_seed(hashes_u64, cfg.seed + 0x0F0 + attempt * 0x9E37)
            h, fp = _derive(g, seglen, cfg.fingerprint_bits)
            # a duplicate mixed hash makes its pair unpeelable; dedupe
            # defensively (build_sharded already dedupes base hashes,
            # but two base hashes can collide post-mix)
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
                f"xor filter peeling failed {_MAX_ATTEMPTS} times "
                f"(n={len(hashes_u64)}, slots={slots}) — capacity too tight?"
            )
    return (
        FORMAT.pack(
            1, cfg.fingerprint_bits, attempt, 0,
            seglen, cfg.seed & _SEED_MASK, cfg.num_shards,
        )
        + fingers.tobytes()
    )


def _parse_state(state: bytes):
    r = FORMAT.open(state)
    fp_bits, attempt, _, seglen, seed, ns = r.fields
    fingers = r.array(np.uint16 if fp_bits == 16 else np.uint8, 3 * seglen)
    r.end()
    return fp_bits, attempt, seglen, seed, ns, fingers


def check_state(cfg: XorConfig, state: bytes) -> None:
    """Reject a state/config mismatch before probing (a wrong seed is
    silent false negatives). seglen is per-shard data (derived from
    the shard's actual key count), so the probe reads it from the
    header rather than comparing it to the config."""
    fp_bits, _, _, seed, ns, _ = _parse_state(state)
    if (
        fp_bits != cfg.fingerprint_bits
        or seed != (cfg.seed & _SEED_MASK)
        or ns != cfg.num_shards
    ):
        raise ValueError(
            f"xor state (fp_bits={fp_bits}, seed={seed}, num_shards={ns}) "
            f"does not match config (fp_bits={cfg.fingerprint_bits}, "
            f"seed={cfg.seed & _SEED_MASK}, num_shards={cfg.num_shards})"
        )


def _contains_in_state(state: bytes, h_u64: np.ndarray) -> np.ndarray:
    fp_bits, attempt, seglen, seed, _ns, fingers = _parse_state(state)
    if len(h_u64) == 0:
        return np.zeros(0, dtype=bool)
    g = mix_with_seed(h_u64, seed + 0x0F0 + attempt * 0x9E37)
    h, fp = _derive(g, seglen, fp_bits)
    return (fingers[h[:, 0]] ^ fingers[h[:, 1]] ^ fingers[h[:, 2]]) == fp


def merge_states(states: list[bytes], cfg=None, shard_id: int = 0) -> bytes:
    raise ValueError(
        "xor filter states are not mergeable (static build-once filter: "
        "the peeling order is a global property of the key set) — rebuild "
        "from the union of keys, or use bloom/cuckoo for incremental corpora"
    )


def prepare_state(cfg: XorConfig, state: bytes) -> bytes:
    check_state(cfg, state)
    return state


def probe_state(
    cfg: XorConfig, state: bytes, shard_id: int, h_u64: np.ndarray
) -> np.ndarray:
    return _contains_in_state(state, h_u64)


FAMILY = base.FilterFamily(
    sketch_name=lambda cfg: f"xor{cfg.fingerprint_bits}",
    build_state=build_state,
    merge_states=merge_states,
    prepare_state=prepare_state,
    probe_state=probe_state,
)
XorConfig.family = FAMILY
build_xor = base.build_filter
ShardedXor = base.ShardedFilter
