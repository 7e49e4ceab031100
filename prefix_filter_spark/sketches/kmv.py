"""KMV (bottom-k / theta) distinct sketch as a mergeable aggregate.

North-rule extension in the same family as §2.4's HLL: where HLL's
max-register state only supports union, the KMV state (the k smallest
distinct hash values) supports **set expressions** — union,
intersection, difference, and Jaccard — with published error bounds
(Beyer et al. 2007 "On Synopses for Distinct-Value Estimation";
Dasgupta et al. 2016, the DataSketches theta sketch). This is the
sketch a dedup pipeline reaches for when it needs "how many tokens do
these two crawls share?" without a distinct-join.

State: magic 'PFKM' | u8 ver | u8 pad | u16 pad | u32 k | seed u64 |
sorted u64[min(n_distinct, k)]. Merge = union of value sets, keep the
k smallest (associative, commutative, idempotent). With fewer than k
distinct values the sketch is the exact hash set.

Estimator: theta = (k-th smallest + 1) / 2^64; distinct ~= (k-1)/theta,
relative std error ~ 1/sqrt(k-2). Set expressions restrict both value
sets below the smaller theta and scale the surviving count by 1/theta;
intersection error grows with |A union B| / |A intersect B| (documented
in ``intersection_estimate``).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from prefix_filter_spark.hashing import as_u64, mix_with_seed
from prefix_filter_spark.sketches import base

# KMV states written before this magic used KLL's 'PFSK' (same layout
# otherwise); they no longer load
FORMAT = base.StateFormat("kmv", b"PFKM", (1,), "BHIQ")
_SEED_MASK = 0xFFFFFFFFFFFFFFFF
_FULL_RANGE = float(2**64)


@dataclass(frozen=True)
class KmvConfig:
    k: int = 2048  # ~2.2% rel. std error
    seed: int = 42

    def rel_error(self) -> float:
        return 1.0 / math.sqrt(max(self.k - 2, 1))


class KmvAccumulator(base.Accumulator):
    def __init__(self, cfg: KmvConfig):
        self.cfg = cfg
        self.values = np.empty(0, dtype=np.uint64)

    def update(self, values: np.ndarray) -> None:
        if len(values) == 0:
            return
        g = mix_with_seed(as_u64(values), self.cfg.seed + 0x137E7A)
        # np.unique sorts ascending, so the bottom-k is the head slice;
        # self.values is capped at k, so each batch costs
        # O((k + batch) log(k + batch)) regardless of stream length
        merged = np.unique(np.concatenate([self.values, g]))
        self.values = merged[: self.cfg.k]

    def to_bytes(self) -> bytes:
        return FORMAT.pack(1, 0, 0, self.cfg.k, self.cfg.seed & _SEED_MASK) + self.values.tobytes()


def _parse_state(state: bytes) -> tuple[list, np.ndarray]:
    """The header fields (pad, pad, k, seed) and the retained values."""
    try:
        r = FORMAT.open(state)
    except ValueError as e:
        if state[:4] != b"PFSK":
            raise
        raise ValueError(
            f"{e}; a kmv state written before kmv's magic became 'PFKM' "
            "has the 'PFSK' layout and no longer loads: rebuild it"
        ) from e
    vals = r.rest(np.uint64)
    if len(vals) > r.fields[2]:
        raise ValueError(f"bad kmv state: {len(vals)} values, more than k={r.fields[2]}")
    return r.fields, vals


def merge_states(states: list[bytes], cfg=None, shard_id: int = 0) -> bytes:
    parsed = [_parse_state(s) for s in states]
    fields = parsed[0][0]
    if any(f != fields for f, _ in parsed[1:]):
        raise ValueError("cannot merge KMV sketches with different k or seed")
    vals = np.unique(np.concatenate([v for _, v in parsed]))
    return FORMAT.pack(1, *fields) + vals[: fields[2]].tobytes()


def _theta_raw(k: int, vals: np.ndarray) -> int:
    """Inclusion threshold as a raw hash bound: values < theta_raw are
    the sketch's sample of the full hash space [0, 2^64)."""
    if len(vals) < k:
        return 2**64  # exact regime: the whole space was retained
    return int(vals[k - 1]) + 1


def retained_values(state: bytes) -> np.ndarray:
    """The sketch's retained bottom-k hash sample (sorted u64). Public
    because pair-pruning (operators/overlap.py) needs the raw samples:
    two sketches' intersection estimate is nonzero iff their retained
    sets share a value, so an inverted index over these arrays finds
    every nonzero pair without the quadratic estimate pass."""
    return _parse_state(state)[1]


def estimate(state: bytes) -> float:
    (_, _, k, _), vals = _parse_state(state)
    if len(vals) < k:
        return float(len(vals))
    theta = _theta_raw(k, vals) / _FULL_RANGE
    return (k - 1) / theta


def _aligned(sa: bytes, sb: bytes) -> tuple[np.ndarray, np.ndarray, float]:
    """Restrict both value sets below the shared (smaller) theta."""
    (_, _, ka, seed_a), va = _parse_state(sa)
    (_, _, kb, seed_b), vb = _parse_state(sb)
    if seed_a != seed_b:
        raise ValueError("set expressions need sketches built with one seed")
    t = min(_theta_raw(ka, va), _theta_raw(kb, vb))
    bound = np.uint64(t - 1)  # vals <= bound  <=>  vals < t (t >= 1 always)
    return va[va <= bound], vb[vb <= bound], t / _FULL_RANGE


def union_estimate(sa: bytes, sb: bytes) -> float:
    va, vb, theta = _aligned(sa, sb)
    n = len(np.union1d(va, vb))
    return n / theta


def intersection_estimate(sa: bytes, sb: bytes) -> float:
    """Relative std error ~ (1/sqrt(k)) * sqrt(|A u B| / |A n B|): a
    tiny intersection of two huge sets leaves few sample points below
    theta, so size k to the union/intersection ratio you care about."""
    va, vb, theta = _aligned(sa, sb)
    n = len(np.intersect1d(va, vb, assume_unique=True))
    return n / theta


def difference_estimate(sa: bytes, sb: bytes) -> float:
    """Estimate |A \\ B|."""
    va, vb, theta = _aligned(sa, sb)
    n = len(np.setdiff1d(va, vb, assume_unique=True))
    return n / theta


def jaccard_estimate(sa: bytes, sb: bytes) -> float:
    va, vb, theta = _aligned(sa, sb)
    u = len(np.union1d(va, vb))
    if u == 0:
        return 1.0
    return len(np.intersect1d(va, vb, assume_unique=True)) / u


FAMILY = base.EstimateFamily(
    sketch_name=lambda cfg: f"kmv{cfg.k}", accumulator=KmvAccumulator, merge_states=merge_states
)
KmvConfig.family = FAMILY
build_kmv = base.build_estimate
sketch_bytes = base.estimate_state
