"""Sharded Ribbon RETRIEVAL structure — a compact static function
(key -> r-bit value) at ~(1 + epsilon) * value_bits bits per key.

The same banded-Gaussian solver as the ribbon filter (sketches/ribbon.py;
Dillinger & Walzer 2021 build ribbon explicitly as a static-function /
retrieval data structure — the AMQ is the special case where the stored
value is a fingerprint of the key). Instead of deriving the right-hand
side from the key's hash, the caller supplies it: for every inserted key
the lookup returns the EXACT stored value; for a key never inserted it
returns an arbitrary (hash-determined) value — the static-function
contract. Pair with any AMQ filter from this library when membership is
unknown.

No reference counterpart (the C++ suite at /root/reference has only
membership filters); this is the engine extension that replaces
driver-side hash maps at scale: a token -> quality-bucket / language-id
/ stop-flag map over a 10^8-token vocabulary costs (1+eps)*r bits per
token as a broadcast (e.g. ~2.2 MB per million tokens at r=16) instead
of a Java hash map an order of magnitude larger, and lookups run inside
the same vectorized Arrow probe path as the membership filters — one
(n, 64) gather + masked XOR-reduce per batch, no join, no shuffle.

Like the filter, the structure is static: ``merge_states`` raises, and
the per-shard solve is sequential Python, so shards are the parallelism
unit (``spread_tasks``-style pinned one-task-per-shard shuffle).
Duplicate (key, value) pairs are deduplicated inside the shard build;
CONFLICTING values for one key raise — a retrieval structure cannot
represent them, and resolving silently would hide upstream data bugs.

State layout (little-endian):
    magic 'PFSV' | u8 version | u8 value_bits | u8 attempt | u8 pad
    | u64 m_slots | u64 seed | u32 num_shards | value array
    (u8 / u16 / u32 by value_bits)
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from prefix_filter_spark.sketches import base
from prefix_filter_spark.sketches.ribbon import _MAX_ATTEMPTS, _W, _derive, _m_for, _solve

FORMAT = base.StateFormat("retrieval", b"PFSV", (1,), "BBBQQI")
_SEED_MASK = 0xFFFFFFFFFFFFFFFF
_DTYPE = {8: np.uint8, 16: np.uint16, 32: np.uint32}


@dataclass(frozen=True)
class RetrievalConfig:
    """Sizing follows the ribbon filter: a shard's slot count comes from
    its ACTUAL key batch (static structure — capacity/shards sizing
    would let hash imbalance push a shard past the solvable load);
    ``n_capacity`` is API uniformity only. ``value_bits`` is the stored
    value width — values must be in [0, 2**value_bits)."""

    n_capacity: int
    value_bits: int = 16
    epsilon: float = 0.10
    num_shards: int = 32
    seed: int = 42

    def __post_init__(self):
        if self.value_bits not in _DTYPE:
            raise ValueError("value_bits must be 8, 16 or 32")
        if not (0.01 <= self.epsilon <= 1.0):
            raise ValueError("epsilon must be in [0.01, 1.0]")


def build_state(
    cfg: RetrievalConfig, shard_id: int, hashes_u64: np.ndarray, values: np.ndarray
) -> bytes:
    """Solve Z so that lookup(h) == value for every pair. ``hashes_u64``
    need not be pre-deduplicated: exact duplicate pairs collapse here,
    conflicting ones raise."""
    if len(hashes_u64):
        order = np.argsort(hashes_u64, kind="stable")
        h_s, v_s = hashes_u64[order], values[order]
        first = np.ones(len(h_s), dtype=bool)
        first[1:] = h_s[1:] != h_s[:-1]
        same_h_diff_v = (~first[1:]) & (v_s[1:] != v_s[:-1])
        if same_h_diff_v.any():
            bad = h_s[1:][same_h_diff_v][0]
            raise ValueError(
                f"conflicting values for one key (hash {bad:#x}): a "
                "retrieval structure stores one value per key — resolve "
                "duplicates upstream (groupBy key + an explicit rule)"
            )
        hashes_u64, values = h_s[first], v_s[first]
        vmax = 1 << cfg.value_bits
        if int(values.max()) >= vmax or int(values.min()) < 0:
            raise ValueError(
                f"values must be in [0, {vmax}) for value_bits={cfg.value_bits}"
            )
    m = _m_for(len(hashes_u64), cfg.epsilon)
    dtype = _DTYPE[cfg.value_bits]
    z = np.zeros(m, dtype=dtype)
    attempt = 0
    if len(hashes_u64):
        vals = values.astype(np.int64)
        for attempt in range(_MAX_ATTEMPTS):
            start, coeff, _fp = _derive(hashes_u64, cfg.seed, attempt, m, 8)
            solved = _solve(start, coeff, vals, m)
            if solved is not None:
                z = np.asarray(solved, dtype=np.uint64).astype(dtype)
                break
        else:
            raise RuntimeError(
                f"retrieval solve failed {_MAX_ATTEMPTS} times "
                f"(n={len(hashes_u64)}, m={m}) — epsilon too tight?"
            )
    return (
        FORMAT.pack(
            1, cfg.value_bits, attempt, 0,
            m, cfg.seed & _SEED_MASK, cfg.num_shards,
        )
        + z.tobytes()
    )


def _parse_state(state: bytes):
    r = FORMAT.open(state)
    vbits, attempt, _, m, seed, ns = r.fields
    if vbits not in _DTYPE:
        raise ValueError(f"bad retrieval state: value_bits {vbits} is not 8, 16 or 32")
    z = r.array(_DTYPE[vbits], m)
    r.end()
    return vbits, attempt, m, seed, ns, z


def check_state(cfg: RetrievalConfig, state: bytes) -> None:
    vbits, _, _, seed, ns, _ = _parse_state(state)
    if (
        vbits != cfg.value_bits
        or seed != (cfg.seed & _SEED_MASK)
        or ns != cfg.num_shards
    ):
        raise ValueError(
            f"retrieval state (value_bits={vbits}, seed={seed}, "
            f"num_shards={ns}) does not match config "
            f"(value_bits={cfg.value_bits}, seed={cfg.seed & _SEED_MASK}, "
            f"num_shards={cfg.num_shards})"
        )


def _lookup_in_state(state: bytes, h_u64: np.ndarray) -> np.ndarray:
    """Vectorized lookup: gather the w-slot window, mask by coefficient
    bits, XOR-reduce — identical probe shape to the ribbon filter, but
    the reduction IS the answer (int64 array)."""
    _, attempt, m, seed, _, z = _parse_state(state)
    if len(h_u64) == 0:
        return np.zeros(0, dtype=np.int64)
    start, coeff, _fp = _derive(h_u64, seed, attempt, m, 8)
    idx = start[:, None] + np.arange(_W, dtype=np.int64)[None, :]
    vals = z[idx]
    old = np.seterr(over="ignore")
    try:
        mask = (
            (coeff[:, None] >> np.arange(_W, dtype=np.uint64)[None, :])
            & np.uint64(1)
        ).astype(bool)
    finally:
        np.seterr(**old)
    return np.bitwise_xor.reduce(np.where(mask, vals, 0), axis=1).astype(np.int64)


def merge_states(states: list[bytes], cfg=None, shard_id: int = 0) -> bytes:
    raise ValueError(
        "retrieval states are not mergeable (static structure: the "
        "elimination order is a global property of the key set) — rebuild "
        "from the union of pairs"
    )


def prepare_state(cfg: RetrievalConfig, state: bytes) -> bytes:
    check_state(cfg, state)
    return state


def probe_state(
    cfg: RetrievalConfig, state: bytes, shard_id: int, h_u64: np.ndarray
) -> np.ndarray:
    return _lookup_in_state(state, h_u64)


FAMILY = base.FilterFamily(
    sketch_name=lambda cfg: f"ribbon_retrieval{cfg.value_bits}",
    build_state=build_state,
    merge_states=merge_states,
    prepare_state=prepare_state,
    probe_state=probe_state,
    spread_tasks=True,  # one sequential banded solve per task, like ribbon
    out_dtype=np.int64,
)
RetrievalConfig.family = FAMILY
ShardedRetrieval = base.ShardedFilter
