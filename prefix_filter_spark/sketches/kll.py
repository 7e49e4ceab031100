"""KLL quantile sketch as a mergeable aggregate.

North-rule extension (SURVEY.md §2.4); semantics per Karnin, Lang &
Liberty 2016 (FOCS), the algorithm behind Apache DataSketches' KLL.
Simplified single-array-per-level variant:

- level i holds items of weight 2^i, kept sorted;
- level capacities decay geometrically: cap(i) = max(8, k * c^(H-1-i)),
  c = 2/3 (paper's recommended decay);
- a full level is compacted: sort, keep every second item starting at a
  deterministic offset (seeded by level + compaction counter, SURVEY.md
  §7 'KLL/t-digest merge determinism'), promote to level i+1.

Merge = levelwise concatenation + re-compaction. Bit-identity under
merge reordering is NOT promised (the compaction offsets differ);
rank estimates stay within the epsilon bound for any order — that is
the associativity contract tested (BASELINE.md).

For k=200 the normalized rank error is ~1.65% (99% conf, DataSketches
published figure); tests assert 2.5%.

State: 'PFSK' | u8 ver | u8 pad | u16 k | u32 n_levels | u64 n_total
       | u64 compact_count | u32 len[level] ... | f64 items ...
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from prefix_filter_spark.hashing import splitmix64
from prefix_filter_spark.sketches import base

FORMAT = base.StateFormat("kll", b"PFSK", (1,), "BHIQQ")
_C = 2.0 / 3.0


@dataclass(frozen=True)
class KllConfig:
    k: int = 200
    seed: int = 42

    def rank_eps(self) -> float:
        # DataSketches published single-sided rank error for k=200 ≈ 1.65%
        return 1.65 / 100 * (200.0 / self.k)


def _cap(k: int, level: int, num_levels: int) -> int:
    return max(8, int(np.ceil(k * _C ** (num_levels - 1 - level))))


class KllSketch(base.Accumulator):
    def __init__(self, cfg: KllConfig):
        self.cfg = cfg
        self.levels: list[np.ndarray] = [np.empty(0, dtype=np.float64)]
        self.n_total = 0
        self.compact_count = 0

    # -- core ----------------------------------------------------------
    def update(self, values: np.ndarray) -> None:
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if len(v) == 0:
            return
        self.levels[0] = np.concatenate([self.levels[0], v])
        self.n_total += len(v)
        self._compress()

    def _total_cap(self) -> int:
        h = len(self.levels)
        return sum(_cap(self.cfg.k, i, h) for i in range(h))

    def _compress(self) -> None:
        while sum(len(lv) for lv in self.levels) > self._total_cap():
            h = len(self.levels)
            for i in range(h):
                if len(self.levels[i]) > _cap(self.cfg.k, i, h):
                    self._compact_level(i)
                    break
            else:
                break

    def _compact_level(self, i: int) -> None:
        items = np.sort(self.levels[i])
        # deterministic coin: seeded by (level, compaction ordinal)
        coin = int(
            splitmix64(
                np.uint64(
                    (self.cfg.seed << 20) ^ (i << 10) ^ (self.compact_count & 0x3FF)
                )
            )
            & np.uint64(1)
        )
        self.compact_count += 1
        promoted = items[coin::2]
        self.levels[i] = np.empty(0, dtype=np.float64)
        if i + 1 == len(self.levels):
            self.levels.append(np.empty(0, dtype=np.float64))
        self.levels[i + 1] = np.concatenate([self.levels[i + 1], promoted])

    # -- queries ---------------------------------------------------------
    def _weighted_items(self):
        items = np.concatenate(self.levels) if self.levels else np.empty(0)
        weights = np.concatenate(
            [np.full(len(lv), 1 << i, dtype=np.float64) for i, lv in enumerate(self.levels)]
        ) if self.levels else np.empty(0)
        order = np.argsort(items, kind="stable")
        return items[order], weights[order]

    def quantile(self, q: float) -> float:
        return float(self.quantiles([q])[0])

    def quantiles(self, qs) -> np.ndarray:
        """Vectorized: one weighted-items pass + one searchsorted for
        the whole query vector (the SQL surface evaluates per state
        blob, so a grouped call must not re-walk the levels per q)."""
        qs = np.asarray(qs, dtype=np.float64)
        items, weights = self._weighted_items()
        if len(items) == 0:
            return np.full(len(qs), np.nan)
        cw = np.cumsum(weights)
        idx = np.searchsorted(cw, qs * cw[-1], side="left")
        return items[np.minimum(idx, len(items) - 1)]

    def rank(self, value: float) -> float:
        return float(self.ranks([value])[0])

    def ranks(self, values) -> np.ndarray:
        """Fraction of sketched weight at or below each value: one
        weighted-items pass + one searchsorted for the whole vector."""
        values = np.asarray(values, dtype=np.float64)
        items, weights = self._weighted_items()
        if len(items) == 0:
            return np.full(len(values), np.nan)
        cw = np.concatenate([[0.0], np.cumsum(weights)])
        return cw[np.searchsorted(items, values, side="right")] / cw[-1]

    # -- serde -----------------------------------------------------------
    def to_bytes(self) -> bytes:
        lens = np.array([len(lv) for lv in self.levels], dtype=np.uint32)
        items = np.concatenate(self.levels) if self.levels else np.empty(0)
        return (
            FORMAT.pack(1, 0, self.cfg.k, len(self.levels), self.n_total, self.compact_count)
            + lens.tobytes()
            + items.astype(np.float64).tobytes()
        )

    @classmethod
    def from_bytes(cls, state: bytes, cfg: KllConfig | None = None) -> "KllSketch":
        r = FORMAT.open(state)
        _, k, n_levels, n_total, ccount = r.fields
        # (a KMV state written before its own magic reads as k == 0 here)
        if k == 0:
            raise ValueError("bad kll state: k=0")
        lens = r.array(np.uint32, n_levels)
        items = r.array(np.float64, lens.sum(dtype=np.int64))
        r.end()
        sk = cls(cfg or KllConfig(k=k))
        sk.levels = []
        pos = 0
        for ln in lens:
            sk.levels.append(items[pos : pos + int(ln)].copy())
            pos += int(ln)
        sk.n_total = n_total
        sk.compact_count = ccount
        return sk

    def merge(self, other: "KllSketch") -> "KllSketch":
        out = KllSketch(self.cfg)
        h = max(len(self.levels), len(other.levels))
        out.levels = []
        for i in range(h):
            a = self.levels[i] if i < len(self.levels) else np.empty(0)
            b = other.levels[i] if i < len(other.levels) else np.empty(0)
            out.levels.append(np.concatenate([a, b]))
        out.n_total = self.n_total + other.n_total
        out.compact_count = self.compact_count + other.compact_count
        out._compress()
        return out


def range_fraction(state: bytes, lo: float, hi: float) -> float:
    """Estimated fraction of sketched values in [lo, hi] — the range
    selectivity a scan planner wants before touching data: rank(hi) -
    rank(lo-), each side within the sketch's rank_eps. ``lo-`` is the
    open left bound (values strictly below lo), realized via
    np.nextafter so integer-valued data at exactly ``lo`` counts."""
    sk = KllSketch.from_bytes(state)
    if hi < lo:
        return 0.0
    r_hi, r_lo = sk.ranks([hi, np.nextafter(lo, -np.inf)])
    return max(0.0, float(r_hi - r_lo))


def merge_states(states: list[bytes], cfg=None, shard_id: int = 0) -> bytes:
    sk = KllSketch.from_bytes(states[0])
    for s in states[1:]:
        sk = sk.merge(KllSketch.from_bytes(s))
    return sk.to_bytes()


FAMILY = base.EstimateFamily(
    sketch_name=lambda cfg: f"kll{cfg.k}", accumulator=KllSketch, merge_states=merge_states
)
KllConfig.family = FAMILY
build_kll = base.build_estimate
