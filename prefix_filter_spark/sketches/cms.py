"""Count-min sketch as a mergeable aggregate.

North-rule extension (SURVEY.md §2.4); semantics per Cormode &
Muthukrishnan 2005, same family as Spark SQL's ``count_min_sketch``
(our oracle). Point estimate >= true count always (one-sided), and
<= true + eps*N with probability 1-delta, eps = e/w, delta = e^-d.

State: 'PFSC' | u8 ver | u8 d | u16 pad | u32 w | u32 n_esc | i64 total
       | u64 seed | counters  (self-describing: SQL probes re-derive
       positions from the stored seed). The counters are written as

- version 3: u16[d*w], then n_esc escapes (u32 index, i64 value)
  ascending by index, one for every counter >= 0xFFFF or negative,
  which holds 0xFFFF in the u16 array. This is the variable-width
  counter idea of "Single Update Sketch with Variable Counter
  Structure" (VLDB 2023), applied to the wire only: a 5 x 8192 token
  profile's state is ~82 KB instead of 328 KB;
- version 2: i64[d*w] with n_esc = 0, written when the escapes would
  cost at least what u16 saves (12 * n_esc >= 6 * d * w).

Both versions decode and merge with each other; the counters are
int64 in memory either way, so the encoding is lossless and
deterministic.
Merge = elementwise add (associative, commutative).
Row hash j uses double hashing on the key's splitmix64 remix — the
same a + j*b scheme as the reference Bloom probes (bloom.hpp:140-154).
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import NamedTuple

import numpy as np

from prefix_filter_spark.hashing import as_u64, mix_with_seed
from prefix_filter_spark.sketches import base

FORMAT = base.StateFormat("cms", b"PFSC", (2, 3), "BHIIqQ")
_ESCAPE = 0xFFFF  # dense u16 sentinel: the value is in the escape list
_ESC_REC = np.dtype([("idx", "<u4"), ("val", "<i8")])  # 12 bytes, packed


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
        return _pack(self.cfg.depth, self.cfg.width, self.total, self.cfg.seed, self.counters)


def _pack(d: int, w: int, total: int, seed: int, counters: np.ndarray) -> bytes:
    """The one encoder: version 3 (u16 counters + escape list) unless
    the escapes would outgrow the saving, then version 2 (i64)."""
    flat = counters.reshape(-1)
    esc = np.flatnonzero((flat >= _ESCAPE) | (flat < 0))
    seed &= 0xFFFFFFFFFFFFFFFF
    if 12 * len(esc) >= 6 * d * w or d * w > 0xFFFFFFFF:
        return FORMAT.pack(2, d, 0, w, 0, total, seed) + flat.astype("<i8").tobytes()
    dense = flat.astype("<u2")
    dense[esc] = _ESCAPE
    recs = np.empty(len(esc), dtype=_ESC_REC)
    recs["idx"] = esc
    recs["val"] = flat[esc]
    return FORMAT.pack(3, d, 0, w, len(esc), total, seed) + dense.tobytes() + recs.tobytes()


class CmsState(NamedTuple):
    """A decoded state; ``counters`` is the (d, w) int64 matrix."""

    depth: int
    width: int
    total: int
    seed: int
    counters: np.ndarray

    @classmethod
    def from_bytes(cls, state: bytes) -> "CmsState":
        """Decode a version 2 or 3 state. Any other version, a byte
        length that does not match the header, or a malformed escape
        list raises ``ValueError``."""
        r = FORMAT.open(state)
        d, _, w, n_esc, total, seed = r.fields
        n = d * w
        if r.version == 2:
            if n_esc:
                raise ValueError("bad cms state: version 2 with escapes")
            counters = r.array("<i8", n)
        else:
            dense = r.array("<u2", n)
            recs = r.array(_ESC_REC, n_esc)
            idx = recs["idx"].astype(np.int64)
            if (
                np.any(idx >= n)
                or np.any(np.diff(idx) <= 0)
                or np.count_nonzero(dense == _ESCAPE) != n_esc
                or np.any(dense[idx] != _ESCAPE)
            ):
                raise ValueError("bad cms state: escape list does not match the counters")
            counters = dense.astype(np.int64)
            counters[idx] = recs["val"]
        r.end()
        return cls(d, w, total, seed, counters.reshape(d, w))

    def point(self, keys: np.ndarray) -> np.ndarray:
        """Vectorized min-over-rows point estimates."""
        g = mix_with_seed(as_u64(keys), self.seed + 0xC035)
        pos = _positions(g, self.depth, self.width)
        return np.stack(
            [self.counters[j][pos[:, j]] for j in range(self.depth)], axis=1
        ).min(axis=1)


def merge_states(states: list[bytes], cfg=None, shard_id: int = 0) -> bytes:
    """Sum the counters; inputs may mix versions 2 and 3, the result
    is encoded by ``_pack`` like any accumulator's state."""
    parsed = [CmsState.from_bytes(s) for s in states]
    d, w, seed = parsed[0].depth, parsed[0].width, parsed[0].seed
    if any(p.depth != d or p.width != w or p.seed != seed for p in parsed):
        raise ValueError("cannot merge CMS with different dims/seed")
    total = sum(p.total for p in parsed)
    return _pack(d, w, total, seed, np.sum([p.counters for p in parsed], axis=0))


def point_estimates(state: bytes, keys: np.ndarray, cfg: CmsConfig | None = None) -> np.ndarray:
    """Vectorized min-over-rows point estimates (seed read from state)."""
    return CmsState.from_bytes(state).point(keys)


def total_count(state: bytes) -> int:
    return CmsState.from_bytes(state).total


FAMILY = base.EstimateFamily(
    sketch_name=lambda cfg: f"cms{cfg.depth}x{cfg.width}",
    accumulator=CmsAccumulator,
    merge_states=merge_states,
)
CmsConfig.family = FAMILY
build_cms = base.build_estimate
