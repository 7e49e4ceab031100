"""Count-min sketch as a mergeable aggregate.

North-rule extension (SURVEY.md §2.4); semantics per Cormode &
Muthukrishnan 2005, same family as Spark SQL's ``count_min_sketch``
(our oracle). Point estimate >= true count always (one-sided), and
<= true + eps*N with probability 1-delta, eps = e/w, delta = e^-d.

State: 'PFSC' | u8 ver | u8 d | u16 pad | u32 w | u32 pad | i64 total
       | u64 seed | counters i64[d*w]  (self-describing: SQL probes
       re-derive positions from the stored seed).
Merge = elementwise add (associative, commutative).
Row hash j uses double hashing on the key's splitmix64 remix — the
same a + j*b scheme as the reference Bloom probes (bloom.hpp:140-154).
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass

import numpy as np

from prefix_filter_spark.hashing import as_u64, mix_with_seed
from prefix_filter_spark.sketches import base

_MAGIC = b"PFSC"
_VERSION = 2
_HDR = struct.Struct("<4sBBHIIqQ")


@dataclass(frozen=True)
class CmsConfig:
    width: int = 8192
    depth: int = 5
    seed: int = 42

    @property
    def eps(self) -> float:
        return math.e / self.width

    @property
    def delta(self) -> float:
        return math.exp(-self.depth)


def _positions(g: np.ndarray, depth: int, width: int) -> np.ndarray:
    """(n, d) counter columns via double hashing + fastrange."""
    old = np.seterr(over="ignore")
    try:
        a = g >> np.uint64(32)
        b = g & np.uint64(0xFFFFFFFF)
        j = np.arange(depth, dtype=np.uint64)
        mix = (a[:, None] + j[None, :] * b[:, None]) & np.uint64(0xFFFFFFFF)
        return ((mix * np.uint64(width)) >> np.uint64(32)).astype(np.int64)
    finally:
        np.seterr(**old)


class CmsAccumulator(base.Accumulator):
    def __init__(self, cfg: CmsConfig):
        self.cfg = cfg
        self.counters = np.zeros((cfg.depth, cfg.width), dtype=np.int64)
        self.total = 0

    def update(self, values: np.ndarray) -> None:
        if len(values) == 0:
            return
        g = mix_with_seed(as_u64(values), self.cfg.seed + 0xC035)
        old = np.seterr(over="ignore")
        try:
            a = g >> np.uint64(32)
            b = g & np.uint64(0xFFFFFFFF)
            w64 = np.uint64(self.cfg.width)
            for j in range(self.cfg.depth):
                # 1-D per row (no (n,d) temporaries): a + j*b fastranged
                mix = (a + np.uint64(j) * b) & np.uint64(0xFFFFFFFF)
                pos = ((mix * w64) >> np.uint64(32)).astype(np.int64)
                self.counters[j] += np.bincount(pos, minlength=self.cfg.width)
        finally:
            np.seterr(**old)
        self.total += len(values)

    def to_bytes(self) -> bytes:
        return (
            _HDR.pack(
                _MAGIC,
                _VERSION,
                self.cfg.depth,
                0,
                self.cfg.width,
                0,
                self.total,
                self.cfg.seed & 0xFFFFFFFFFFFFFFFF,
            )
            + self.counters.tobytes()
        )


def _parse_state(state: bytes):
    magic, version, d, _, w, _, total, seed = _HDR.unpack_from(state, 0)
    if magic != _MAGIC or version != _VERSION:
        raise ValueError("bad cms state")
    counters = np.frombuffer(state, dtype=np.int64, offset=_HDR.size).reshape(d, w)
    return d, w, total, seed, counters


def merge_states(states: list[bytes], cfg=None, shard_id: int = 0) -> bytes:
    parsed = [_parse_state(s) for s in states]
    d, w, seed = parsed[0][0], parsed[0][1], parsed[0][3]
    if any(p[0] != d or p[1] != w or p[3] != seed for p in parsed):
        raise ValueError("cannot merge CMS with different dims/seed")
    total = sum(p[2] for p in parsed)
    counters = np.sum([p[4] for p in parsed], axis=0)
    return _HDR.pack(_MAGIC, _VERSION, d, 0, w, 0, total, seed) + counters.tobytes()


def point_estimates(state: bytes, keys: np.ndarray, cfg: CmsConfig | None = None) -> np.ndarray:
    """Vectorized min-over-rows point estimates (seed read from state)."""
    d, w, _, seed, counters = _parse_state(state)
    g = mix_with_seed(as_u64(keys), seed + 0xC035)
    pos = _positions(g, d, w)
    ests = np.stack([counters[j][pos[:, j]] for j in range(d)], axis=1)
    return ests.min(axis=1)


def total_count(state: bytes) -> int:
    return _parse_state(state)[2]


FAMILY = base.EstimateFamily(
    sketch_name=lambda cfg: f"cms{cfg.depth}x{cfg.width}",
    accumulator=CmsAccumulator,
    merge_states=merge_states,
)
CmsConfig.family = FAMILY
build_cms = base.build_estimate
