"""DDSketch — relative-error quantiles as a mergeable aggregate.

North-rule §2.4-family extension; semantics per Masson, Rim & Lee,
"DDSketch: a fast and fully-mergeable quantile sketch with
relative-error guarantees" (VLDB 2019). Guarantee: for any quantile q,
the returned estimate x̂ satisfies |x̂ − x_q| ≤ α·x_q (relative, not
rank, error — the complement of KLL/t-digest, whose guarantee is in
rank space; tails of heavy-tailed token/latency distributions are where
relative error is the right contract).

Structure: logarithmic buckets i = ceil(log_γ(x)) with γ = (1+α)/(1−α);
a bucket stores an exact integer count. Negative values mirror into a
second bucket store on |x|; zeros get a dedicated counter. Because the
state is exact integer counts over deterministic bucket indices, merge
is plain per-index addition — associative, commutative, and (unlike
KLL's coin-flip compaction or t-digest's order-sensitive clustering)
**bit-identical under any merge order or input partitioning WHILE NO
STORE EXCEEDS max_bins** (pytest-pinned), which makes it the strongest
determinism story of the quantile sketches here. Once a store
collapses, WHICH low bins folded depends on when the threshold was
crossed, so chunking can shift the collapsed boundary — the α
guarantee above the collapsed mass still holds for every order, but
bit-identity does not; size max_bins for the value range (2048 bins
at α=1% spans >40 orders of magnitude) when the bit contract matters.

Bounded memory: when the positive store exceeds ``max_bins``, the
lowest bins collapse into one (the paper's collapsing-lowest variant) —
the α guarantee then holds for all quantiles above the collapsed mass,
the standard DDSketch trade. Collapse only triggers past max_bins;
with α=1% and 2048 bins the sketch spans >40 orders of magnitude, so
gate-scale builds never collapse and stay exactly mergeable.

State ('PFSD' | u8 ver | u8 pad ×3 | f64 alpha | u32 max_bins | u64 n
| u64 zero_count | u32 n_pos | u32 n_neg | i64 pos_idx[] | i64 pos_cnt[]
| i64 neg_idx[] | i64 neg_cnt[]), bucket arrays stored sorted by index
— the serialization is canonical, so equal sketches are equal bytes.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from prefix_filter_spark.sketches import base

FORMAT = base.StateFormat("dds", b"PFSD", (1,), "BBBdIQQII")


@dataclass(frozen=True)
class DDSketchConfig:
    alpha: float = 0.01  # relative accuracy
    max_bins: int = 2048  # collapse-lowest threshold (positive store)

    def __post_init__(self):
        if not 0 < self.alpha < 1:
            raise ValueError("alpha must be in (0, 1)")
        if self.max_bins < 2:
            raise ValueError("max_bins must be >= 2")

    @property
    def gamma(self) -> float:
        return (1 + self.alpha) / (1 - self.alpha)


def _merge_stores(idx_a, cnt_a, idx_b, cnt_b):
    """Union two sorted (index, count) stores, summing shared indices."""
    idx = np.concatenate([idx_a, idx_b])
    cnt = np.concatenate([cnt_a, cnt_b])
    u, inv = np.unique(idx, return_inverse=True)
    summed = np.zeros(len(u), dtype=np.int64)
    np.add.at(summed, inv, cnt)
    return u, summed


class DDSketch(base.Accumulator):
    def __init__(self, cfg: DDSketchConfig):
        self.cfg = cfg
        self._log_gamma = math.log(cfg.gamma)
        self.pos_idx = np.empty(0, dtype=np.int64)
        self.pos_cnt = np.empty(0, dtype=np.int64)
        self.neg_idx = np.empty(0, dtype=np.int64)
        self.neg_cnt = np.empty(0, dtype=np.int64)
        self.zero_count = 0
        self.n = 0

    # -- core ----------------------------------------------------------
    def _bucket_of(self, v: np.ndarray) -> np.ndarray:
        return np.ceil(np.log(v) / self._log_gamma).astype(np.int64)

    def update(self, values: np.ndarray) -> None:
        v = np.asarray(values, dtype=np.float64)
        # non-finite values are ignored like NaN: a log bucket cannot
        # represent inf, and ceil(inf).astype(int64) would wrap to
        # INT64_MIN — counting +inf in the LOWEST bucket (review find)
        v = v[np.isfinite(v)]
        if len(v) == 0:
            return
        self.n += len(v)
        self.zero_count += int((v == 0).sum())
        pos = v[v > 0]
        if len(pos):
            u, c = np.unique(self._bucket_of(pos), return_counts=True)
            self.pos_idx, self.pos_cnt = _merge_stores(
                self.pos_idx, self.pos_cnt, u, c.astype(np.int64)
            )
        neg = -v[v < 0]
        if len(neg):
            u, c = np.unique(self._bucket_of(neg), return_counts=True)
            self.neg_idx, self.neg_cnt = _merge_stores(
                self.neg_idx, self.neg_cnt, u, c.astype(np.int64)
            )
        self._collapse()

    def _collapse(self) -> None:
        # collapsing-lowest: fold the smallest-index bins into the first
        # kept bin (paper §2.3) — bounded memory, α preserved above the
        # collapsed mass
        for name in ("pos", "neg"):
            idx = getattr(self, f"{name}_idx")
            cnt = getattr(self, f"{name}_cnt")
            if len(idx) > self.cfg.max_bins:
                cut = len(idx) - self.cfg.max_bins
                folded = int(cnt[: cut + 1].sum())
                setattr(self, f"{name}_idx", idx[cut:].copy())
                new_cnt = cnt[cut:].copy()
                new_cnt[0] = folded
                setattr(self, f"{name}_cnt", new_cnt)

    # -- queries -------------------------------------------------------
    def _bucket_value(self, idx: np.ndarray) -> np.ndarray:
        g = self.cfg.gamma
        # midpoint estimate 2γ^i/(γ+1): max relative error α within the
        # bucket (γ^(i-1), γ^i]
        return 2.0 * np.power(g, idx.astype(np.float64)) / (g + 1.0)

    def quantiles(self, qs) -> np.ndarray:
        qs = np.asarray(qs, dtype=np.float64)
        if self.n == 0:
            return np.full(len(qs), np.nan)
        # global value order: negatives (largest |x| first bucket-wise →
        # most-negative first = descending index), then zeros, then
        # positives ascending
        vals = np.concatenate(
            [
                -self._bucket_value(self.neg_idx[::-1]),
                np.zeros(1 if self.zero_count else 0),
                self._bucket_value(self.pos_idx),
            ]
        )
        cnts = np.concatenate(
            [
                self.neg_cnt[::-1].astype(np.float64),
                np.full(1 if self.zero_count else 0, float(self.zero_count)),
                self.pos_cnt.astype(np.float64),
            ]
        )
        cw = np.cumsum(cnts)
        # rank convention: element at 0-based rank q*(n-1) (DataDog's)
        ranks = qs * (self.n - 1)
        pos = np.searchsorted(cw, ranks, side="right")
        return vals[np.minimum(pos, len(vals) - 1)]

    def quantile(self, q: float) -> float:
        return float(self.quantiles([q])[0])

    # -- serde ---------------------------------------------------------
    def to_bytes(self) -> bytes:
        return (
            FORMAT.pack(
                1, 0, 0, 0,
                self.cfg.alpha, self.cfg.max_bins,
                self.n, self.zero_count,
                len(self.pos_idx), len(self.neg_idx),
            )
            + self.pos_idx.tobytes()
            + self.pos_cnt.tobytes()
            + self.neg_idx.tobytes()
            + self.neg_cnt.tobytes()
        )

    @classmethod
    def from_bytes(cls, state: bytes) -> "DDSketch":
        r = FORMAT.open(state)
        _, _, _, alpha, max_bins, n, zc, np_, nn = r.fields
        sk = cls(DDSketchConfig(alpha=alpha, max_bins=max_bins))
        for name, ln in (("pos", np_), ("neg", nn)):
            setattr(sk, f"{name}_idx", r.array(np.int64, ln).copy())
            setattr(sk, f"{name}_cnt", r.array(np.int64, ln).copy())
        r.end()
        sk.n = n
        sk.zero_count = zc
        return sk

    def merge(self, other: "DDSketch") -> "DDSketch":
        if abs(self.cfg.alpha - other.cfg.alpha) > 1e-12:
            raise ValueError("cannot merge dds sketches with different alpha")
        if self.cfg.max_bins != other.cfg.max_bins:
            # silently adopting self's threshold would make the result
            # depend on operand order, breaking merge bit-identity
            raise ValueError("cannot merge dds sketches with different max_bins")
        out = DDSketch(self.cfg)
        out.pos_idx, out.pos_cnt = _merge_stores(
            self.pos_idx, self.pos_cnt, other.pos_idx, other.pos_cnt
        )
        out.neg_idx, out.neg_cnt = _merge_stores(
            self.neg_idx, self.neg_cnt, other.neg_idx, other.neg_cnt
        )
        out.zero_count = self.zero_count + other.zero_count
        out.n = self.n + other.n
        out._collapse()
        return out


def merge_states(states: list[bytes], cfg=None, shard_id: int = 0) -> bytes:
    sk = DDSketch.from_bytes(states[0])
    for s in states[1:]:
        sk = sk.merge(DDSketch.from_bytes(s))
    return sk.to_bytes()


FAMILY = base.EstimateFamily(
    sketch_name=lambda cfg: f"dds{int(cfg.alpha * 10000)}",
    accumulator=DDSketch,
    merge_states=merge_states,
)
DDSketchConfig.family = FAMILY
build_dds = base.build_estimate
