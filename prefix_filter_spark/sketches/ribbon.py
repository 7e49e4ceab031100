"""Sharded Ribbon filter — a STATIC approximate-membership filter at
~(1 + epsilon) * fingerprint_bits bits per key with FPR 2^-fingerprint_bits
(Dillinger & Walzer, "Ribbon filter: practically smaller than Bloom and
Xor", 2021 — public algorithm, re-derived here from the paper; no
reference counterpart: the C++ suite's comparison set
(/root/reference/main-perf.cpp:16-31) stops at Bloom/BBF/CF/TC, so this
extends the static companion-filter family past Xor (23% slot overhead)
and Binary Fuse (~13%) to the ~10% regime — the densest row in
BENCH/fpr_table.md).

A key maps to a START position ``s`` in [0, m-w] and a w-bit (w=64)
COEFFICIENT word ``c`` with bit 0 forced set, plus an r-bit fingerprint
``b``. The filter is an m × r bit matrix ``Z`` satisfying, for every
inserted key, ``XOR_{j: c_j = 1} Z[s + j] == b``. Construction is banded
Gaussian elimination ("Ribbon" = Rapid Incremental Boolean Banding ON
the fly): keys are processed in ascending-start order; each insertion
reduces its row against the already-placed rows in its band and settles
in the first empty slot. Because every row spans at most w consecutive
slots, elimination touches only a w-wide window — expected O(1/eps^2)
word-XORs per key, independent of n. Back-substitution then assigns Z
bottom-up. A rank-deficient collision (same reduced row, different
fingerprint) fails the attempt; the build retries with a remixed seed,
exactly like the xor filter's peeling retry.

The per-shard solve is an inherently sequential loop (banded elimination
is order-dependent), so unlike the other sketches the shard build is
plain-Python-int arithmetic rather than NumPy — the Spark story is that
SHARDS are the parallelism unit: 64 shards of n/64 keys solve
independently in one applyInPandas pass, and probing is fully
vectorized (one gather + masked XOR-reduce per batch). Like the xor
filter the result is intentionally NOT mergeable (the elimination order
is a global property of the key set): ``merge_states`` raises, and
incremental corpora should rebuild or use Bloom/CF. Capability mask:
LOOKUP only.

State layout (little-endian):
    magic 'PFSR' | u8 version | u8 fp_bits | u8 attempt | u8 pad
    | u64 m_slots | u64 seed | u32 num_shards | fingerprint array
    (u8 when fp_bits==8, u16 when fp_bits==16)
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from prefix_filter_spark.hashing import mix_with_seed
from prefix_filter_spark.sketches import base

FORMAT = base.StateFormat("ribbon", b"PFSR", (1,), "BBBQQI")
_SEED_MASK = 0xFFFFFFFFFFFFFFFF
_W = 64  # ribbon width: one machine word, as the paper recommends
_MAX_ATTEMPTS = 64
# distinct salts so start / coefficients / fingerprint are pairwise
# independent mixes of the same base hash
_SALT_START = 0x1B0
_SALT_COEFF = 0x2B0
_SALT_FP = 0x3B0
_ATTEMPT_STEP = 0x9E37


@dataclass(frozen=True)
class RibbonConfig:
    """Like the xor filter, a shard is sized from its ACTUAL key batch
    (m = w + ceil((1 + epsilon) * n)): the filter is static, so sizing
    from ``n_capacity / num_shards`` would let hash imbalance push a
    shard past the solvable load. ``n_capacity`` is kept for API
    uniformity; it does not size. ``epsilon`` is the slot overhead —
    the paper's space/ature trade: construction cost grows ~1/eps^2,
    so 0.10 is the sweet spot for Python-loop solves (still the
    densest filter in the table)."""

    n_capacity: int
    fingerprint_bits: int = 8  # 8 or 16
    epsilon: float = 0.10
    num_shards: int = 32
    seed: int = 42

    def __post_init__(self):
        if self.fingerprint_bits not in (8, 16):
            raise ValueError("fingerprint_bits must be 8 or 16")
        if not (0.01 <= self.epsilon <= 1.0):
            raise ValueError("epsilon must be in [0.01, 1.0]")

    def theoretical_fpr(self) -> float:
        return 2.0 ** -self.fingerprint_bits


def _m_for(n: int, epsilon: float) -> int:
    return _W + int(np.ceil((1.0 + epsilon) * max(n, 1)))


def _derive(h_u64: np.ndarray, seed: int, attempt: int, m: int, fp_bits: int):
    """(start, coeff, fp) arrays from the base hashes. Three independent
    seeded remixes; start is fastranged into [0, m - w], coeff gets bit 0
    forced (the row's leading 1 — required by the elimination invariant),
    fp is the low r bits."""
    salt = attempt * _ATTEMPT_STEP
    gs = mix_with_seed(h_u64, seed + _SALT_START + salt)
    gc = mix_with_seed(h_u64, seed + _SALT_COEFF + salt)
    gf = mix_with_seed(h_u64, seed + _SALT_FP + salt)
    old = np.seterr(over="ignore")
    try:
        nstart = np.uint64(m - _W + 1)
        start = (((gs >> np.uint64(32)) * nstart) >> np.uint64(32)).astype(np.int64)
        coeff = gc | np.uint64(1)
        fp = (gf & np.uint64((1 << fp_bits) - 1)).astype(
            np.uint16 if fp_bits == 16 else np.uint8
        )
        return start, coeff, fp
    finally:
        np.seterr(**old)


def _solve(start: np.ndarray, coeff: np.ndarray, fp: np.ndarray, m: int):
    """Banded Gaussian elimination + back-substitution. Returns the
    solved fingerprint array (length m) or None when the system is
    inconsistent (two keys reduced to the same row with different
    fingerprints — retry with a new attempt salt).

    Python-int loop by design: each insertion's while-loop is
    data-dependent (settles in the first empty slot of its band), and
    at epsilon = 0.10 the expected XOR count per key is a small
    constant, so n/num_shards keys solve in milliseconds. Ascending-
    start order keeps the band hot (paper §4: sorting by start is the
    on-the-fly banding)."""
    n = len(start)
    coeffs = [0] * m
    results = [0] * m
    order = np.argsort(start, kind="stable")
    s_l = start[order].tolist()
    c_l = coeff[order].tolist()
    b_l = fp[order].tolist()
    for i in range(n):
        pos = s_l[i]
        row = c_l[i]
        rhs = b_l[i]
        while True:
            slot = coeffs[pos]
            if slot == 0:
                coeffs[pos] = row
                results[pos] = rhs
                break
            row ^= slot
            rhs ^= results[pos]
            if row == 0:
                if rhs != 0:
                    return None  # inconsistent: same row, different fp
                break  # redundant row (duplicate key post-mix): fine
            j = (row & -row).bit_length() - 1
            row >>= j
            pos += j
    # back-substitution, bottom-up; free variables stay 0 (any value
    # satisfies the system — 0 keeps the state deterministic)
    z = [0] * m
    for pos in range(m - 1, -1, -1):
        row = coeffs[pos]
        if row == 0:
            continue
        acc = results[pos]
        row &= row - 1  # clear bit 0 (the Z[pos] term itself)
        while row:
            j = (row & -row).bit_length() - 1
            acc ^= z[pos + j]
            row &= row - 1
        z[pos] = acc
    return z


def build_state(cfg: RibbonConfig, shard_id: int, hashes_u64: np.ndarray) -> bytes:
    m = _m_for(len(hashes_u64), cfg.epsilon)
    dtype = np.uint16 if cfg.fingerprint_bits == 16 else np.uint8
    z = np.zeros(m, dtype=dtype)
    attempt = 0
    if len(hashes_u64):
        for attempt in range(_MAX_ATTEMPTS):
            start, coeff, fp = _derive(
                hashes_u64, cfg.seed, attempt, m, cfg.fingerprint_bits
            )
            solved = _solve(start, coeff, fp, m)
            if solved is not None:
                z = np.asarray(solved, dtype=np.uint64).astype(dtype)
                break
        else:
            raise RuntimeError(
                f"ribbon solve failed {_MAX_ATTEMPTS} times "
                f"(n={len(hashes_u64)}, m={m}) — epsilon too tight?"
            )
    return (
        FORMAT.pack(
            1, cfg.fingerprint_bits, attempt, 0,
            m, cfg.seed & _SEED_MASK, cfg.num_shards,
        )
        + z.tobytes()
    )


def _parse_state(state: bytes):
    r = FORMAT.open(state)
    fp_bits, attempt, _, m, seed, ns = r.fields
    z = r.array(np.uint16 if fp_bits == 16 else np.uint8, m)
    r.end()
    return fp_bits, attempt, m, seed, ns, z


def check_state(cfg: RibbonConfig, state: bytes) -> None:
    """Reject a state/config mismatch before probing (a wrong seed is
    silent false negatives); m is per-shard data."""
    fp_bits, _, _, seed, ns, _ = _parse_state(state)
    if (
        fp_bits != cfg.fingerprint_bits
        or seed != (cfg.seed & _SEED_MASK)
        or ns != cfg.num_shards
    ):
        raise ValueError(
            f"ribbon state (fp_bits={fp_bits}, seed={seed}, num_shards={ns}) "
            f"does not match config (fp_bits={cfg.fingerprint_bits}, "
            f"seed={cfg.seed & _SEED_MASK}, num_shards={cfg.num_shards})"
        )


def _contains_in_state(state: bytes, h_u64: np.ndarray) -> np.ndarray:
    """Vectorized probe: gather each key's w-slot window of Z, mask by
    its coefficient bits, XOR-reduce, compare to the fingerprint. One
    (n, 64) gather per batch — no per-key Python."""
    fp_bits, attempt, m, seed, _ns, z = _parse_state(state)
    if len(h_u64) == 0:
        return np.zeros(0, dtype=bool)
    start, coeff, fp = _derive(h_u64, seed, attempt, m, fp_bits)
    idx = start[:, None] + np.arange(_W, dtype=np.int64)[None, :]
    vals = z[idx]  # (n, 64)
    old = np.seterr(over="ignore")
    try:
        mask = (
            (coeff[:, None] >> np.arange(_W, dtype=np.uint64)[None, :])
            & np.uint64(1)
        ).astype(bool)
    finally:
        np.seterr(**old)
    acc = np.bitwise_xor.reduce(np.where(mask, vals, 0), axis=1)
    return acc == fp


def merge_states(states: list[bytes], cfg=None, shard_id: int = 0) -> bytes:
    raise ValueError(
        "ribbon filter states are not mergeable (static build-once filter: "
        "the elimination order is a global property of the key set) — "
        "rebuild from the union of keys, or use bloom/cuckoo for "
        "incremental corpora"
    )


def prepare_state(cfg: RibbonConfig, state: bytes) -> bytes:
    check_state(cfg, state)
    return state


def probe_state(
    cfg: RibbonConfig, state: bytes, shard_id: int, h_u64: np.ndarray
) -> np.ndarray:
    return _contains_in_state(state, h_u64)


FAMILY = base.FilterFamily(
    sketch_name=lambda cfg: f"ribbon{cfg.fingerprint_bits}",
    build_state=build_state,
    merge_states=merge_states,
    prepare_state=prepare_state,
    probe_state=probe_state,
    # the banded solve is seconds of sequential Python per shard: keep
    # one task per shard instead of letting AQE coalesce the small
    # shuffle partitions onto fewer tasks (see base.build_sharded)
    spread_tasks=True,
)
RibbonConfig.family = FAMILY
build_ribbon = base.build_filter
ShardedRibbon = base.ShardedFilter
