"""HyperLogLog (dense) as a mergeable aggregate.

North-rule extension (SURVEY.md §2.4) — no reference implementation;
semantics per Flajolet et al. 2007 / HLL++ (Heule et al. 2013), the same
family as Spark's built-in ``approx_count_distinct`` (our oracle).

State: magic 'PFSH' | u8 ver | u8 p | u16 format | u64 seed | registers
u8[2^p] (dense) or sorted u32 (idx << 8 | rank) entries (sparse).
Merge = elementwise max (associative, commutative, idempotent).
Error: +-1.04/sqrt(m) relative std at large n; linear counting below.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from functools import reduce

import numpy as np
from pyspark.sql import DataFrame

from prefix_filter_spark.hashing import as_u64, mix_with_seed
from prefix_filter_spark.sketches import base

# p | format | seed u64 — the seed is serialized so merging registers
# produced under a different hash mix fails loudly instead of silently
# corrupting the estimate
FORMAT = base.StateFormat("hll", b"PFSH", (2,), "BHQ")
_SEED_MASK = 0xFFFFFFFFFFFFFFFF


@dataclass(frozen=True)
class HllConfig:
    """``sparse=True`` (opt-in) serializes states whose nonzero-register
    count is below m/4 as sorted (idx, rank) entries (~3.25 B/entry)
    instead of the dense m-byte array — the per-GROUP memory fix at
    scale: a million per-source HLLs at p=14 cost 16 GB dense but only
    ~n_distinct*3 B sparse while a group is small, with AUTOMATIC dense
    promotion (the format is per-state, chosen at serialize time).
    Register CONTENT is identical either way, so estimates, merges
    (mixed formats welcome) and the dense default's byte layout are
    all unchanged."""

    p: int = 14  # 16384 registers, ~0.81% rel. std error
    seed: int = 42
    sparse: bool = False

    def __post_init__(self):
        if not 4 <= self.p <= 24:
            # the sparse u32 entry packs idx << 8 | rank — a register
            # index needs <= 24 bits, and p > 24 (16M+ registers) is
            # past any useful accuracy/size tradeoff anyway
            raise ValueError(f"HllConfig.p must be in [4, 24], got {self.p}")

    @property
    def m(self) -> int:
        return 1 << self.p

    def rel_error(self) -> float:
        return 1.04 / math.sqrt(self.m)


class HllAccumulator(base.Accumulator):
    def __init__(self, cfg: HllConfig):
        self.cfg = cfg
        self.registers = np.zeros(cfg.m, dtype=np.uint8)

    def update(self, values: np.ndarray) -> None:
        if len(values) == 0:
            return
        g = mix_with_seed(as_u64(values), self.cfg.seed + 0x4117)
        p = self.cfg.p
        idx = (g & np.uint64(self.cfg.m - 1)).astype(np.int64)
        w = g >> np.uint64(p)
        # w < 2^(64-p) <= 2^52: float64 is exact, frexp gives bit_length
        # in one vectorized pass (vs 6-step shift loop)
        _, exp = np.frexp(w.astype(np.float64))
        rho = ((64 - p) - exp + 1).astype(np.uint8)  # w==0 -> exp 0 -> 64-p+1
        np.maximum.at(self.registers, idx, rho)

    def to_bytes(self) -> bytes:
        return _serialize(
            self.cfg.p, self.cfg.seed, self.registers, sparse=self.cfg.sparse
        )


# the format field: 0 = dense register array, 1 = sparse sorted u32
# entries (idx << 8 | rank)
_FMT_DENSE, _FMT_SPARSE = 0, 1


def _serialize(p: int, seed: int, regs: np.ndarray, *, sparse: bool) -> bytes:
    m = 1 << p
    nnz = int((regs != 0).sum())
    if sparse and nnz < m // 4:
        idx = np.flatnonzero(regs).astype(np.uint32)
        entries = (idx << np.uint32(8)) | regs[idx].astype(np.uint32)
        return FORMAT.pack(2, p, _FMT_SPARSE, seed & _SEED_MASK) + entries.tobytes()
    return FORMAT.pack(2, p, _FMT_DENSE, seed & _SEED_MASK) + regs.tobytes()


def _parse_state(state: bytes) -> tuple[list, np.ndarray]:
    """The header fields (p, format, seed) and the dense registers."""
    r = FORMAT.open(state)
    p, fmt, _ = r.fields
    if fmt == _FMT_DENSE:
        regs = r.array(np.uint8, 1 << p)
    elif fmt == _FMT_SPARSE:
        entries = r.rest(np.uint32)
        idx = (entries >> np.uint32(8)).astype(np.int64)
        if np.any(idx >= 1 << p):
            raise ValueError(f"bad hll state: sparse entry past register {(1 << p) - 1}")
        regs = np.zeros(1 << p, dtype=np.uint8)
        regs[idx] = (entries & np.uint32(0xFF)).astype(np.uint8)
    else:
        raise ValueError(f"bad hll state: format {fmt} is neither dense nor sparse")
    r.end()
    return r.fields, regs


def merge_states(states: list[bytes], cfg=None, shard_id: int = 0) -> bytes:
    parsed = [_parse_state(s) for s in states]
    p, _, seed = parsed[0][0]
    if any((f[0], f[2]) != (p, seed) for f, _ in parsed[1:]):
        raise ValueError("cannot merge HLLs with different p or seed")
    regs = reduce(np.maximum, (r for _, r in parsed))
    # result stays sparse only if every input chose sparse (keeps the
    # dense default's bytes unchanged and the format monotone)
    all_sparse = all(f[1] == _FMT_SPARSE for f, _ in parsed)
    return _serialize(p, seed, regs, sparse=all_sparse)


def estimate(state: bytes) -> float:
    """Raw HLL estimator with linear-counting small-range correction."""
    (p, _, _), regs = _parse_state(state)
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    est = alpha * m * m / np.power(2.0, -regs.astype(np.float64)).sum()
    zeros = int((regs == 0).sum())
    if est <= 2.5 * m and zeros > 0:
        est = m * math.log(m / zeros)
    return float(est)


FAMILY = base.EstimateFamily(
    sketch_name=lambda cfg: f"hll{cfg.p}", accumulator=HllAccumulator, merge_states=merge_states
)
HllConfig.family = FAMILY
build_hll = base.build_estimate


def distinct_estimate(df: DataFrame, value_col, cfg: HllConfig | None = None) -> float:
    return estimate(base.estimate_state(df, value_col, cfg or HllConfig()))
