"""t-digest (merging variant) as a mergeable aggregate.

North-rule extension (SURVEY.md §2.4); semantics per Dunning & Ertl,
"Computing Extremely Accurate Quantiles Using t-Digests" (2019), the
merging-digest formulation with the k1 scale function
k(q) = (delta / 2pi) * asin(2q - 1) — tail-accurate quantiles.

Fully deterministic given input multiset order-normalization (values
are sorted before clustering); merge = concat centroids + re-cluster.
As with KLL, merge reordering changes centroid boundaries slightly but
estimates stay within bound (tested).

State: 'PFST' | u8 ver | u8 pad | u16 delta | u32 n_centroids
       | f64 min | f64 max | f64 total_weight
       | f64 means[n] | f64 weights[n]
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from prefix_filter_spark.sketches import base

FORMAT = base.StateFormat("tdigest", b"PFST", (1,), "BHIddd")


@dataclass(frozen=True)
class TDigestConfig:
    delta: int = 200  # compression; ~2*delta centroids max
    buffer_factor: int = 20


def _cluster(means: np.ndarray, weights: np.ndarray, delta: int):
    """Greedy merge pass over (mean-sorted) points using the k1 scale.

    Iterates once per output centroid (~delta iterations), each step a
    searchsorted on the cumulative weights — O(delta log n), no per-item
    Python loop.
    """
    order = np.argsort(means, kind="stable")
    means = means[order]
    weights = weights[order]
    total = weights.sum()
    cw = np.cumsum(weights)
    out_means: list[float] = []
    out_weights: list[float] = []
    i = 0
    n = len(means)
    q0 = 0.0
    while i < n:
        k0 = (delta / (2 * math.pi)) * math.asin(2 * q0 - 1)
        k1 = k0 + 1.0
        q_limit = (math.sin(min(k1, delta / 4.0) * 2 * math.pi / delta) + 1) / 2
        w_limit = q_limit * total
        j = int(np.searchsorted(cw, w_limit, side="left")) + 1
        j = max(j, i + 1)
        j = min(j, n)
        w = cw[j - 1] - (cw[i - 1] if i > 0 else 0.0)
        m = float(np.dot(means[i:j], weights[i:j]) / w)
        out_means.append(m)
        out_weights.append(float(w))
        q0 = cw[j - 1] / total
        i = j
    return np.array(out_means), np.array(out_weights)


class TDigest(base.Accumulator):
    def __init__(self, cfg: TDigestConfig):
        self.cfg = cfg
        self.means = np.empty(0, dtype=np.float64)
        self.weights = np.empty(0, dtype=np.float64)
        self.vmin = math.inf
        self.vmax = -math.inf
        self._buf: list[np.ndarray] = []
        self._buf_len = 0

    def update(self, values: np.ndarray) -> None:
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if len(v) == 0:
            return
        self.vmin = min(self.vmin, float(v.min()))
        self.vmax = max(self.vmax, float(v.max()))
        self._buf.append(v)
        self._buf_len += len(v)
        if self._buf_len >= self.cfg.buffer_factor * self.cfg.delta:
            self._flush()

    def _flush(self) -> None:
        if not self._buf:
            return
        buf = np.concatenate(self._buf)
        self._buf = []
        self._buf_len = 0
        means = np.concatenate([self.means, buf])
        weights = np.concatenate([self.weights, np.ones(len(buf))])
        self.means, self.weights = _cluster(means, weights, self.cfg.delta)

    # -- queries -----------------------------------------------------
    def quantile(self, q: float) -> float:
        return float(self.quantiles([q])[0])

    def quantiles(self, qs) -> np.ndarray:
        """Vectorized over the query vector: np.interp between centroid
        midpoints reproduces the scalar interpolation exactly (same
        piecewise-linear formula), with explicit min/max tail handling.
        One centroid walk per call regardless of len(qs) — the SQL
        surface groups rows by state blob and evaluates per group."""
        self._flush()
        qs = np.asarray(qs, dtype=np.float64)
        if len(self.means) == 0:
            return np.full(len(qs), np.nan)
        if len(self.means) == 1:
            return np.full(len(qs), float(self.means[0]))
        total = self.weights.sum()
        targets = qs * total
        # centroid midpoints in cumulative-weight space
        cw = np.cumsum(self.weights)
        mids = cw - self.weights / 2.0
        out = np.interp(targets, mids, self.means)
        lo = targets <= mids[0]
        if lo.any():
            frac = targets[lo] / mids[0] if mids[0] > 0 else np.zeros(lo.sum())
            out[lo] = self.vmin + frac * (self.means[0] - self.vmin)
        hi = targets >= mids[-1]
        if hi.any():
            span = total - mids[-1]
            frac = (targets[hi] - mids[-1]) / span if span > 0 else np.zeros(hi.sum())
            out[hi] = self.means[-1] + frac * (self.vmax - self.means[-1])
        return out

    # -- serde ---------------------------------------------------------
    def to_bytes(self) -> bytes:
        self._flush()
        return (
            FORMAT.pack(
                1,
                0,
                self.cfg.delta,
                len(self.means),
                self.vmin if len(self.means) else math.nan,
                self.vmax if len(self.means) else math.nan,
                float(self.weights.sum()),
            )
            + self.means.tobytes()
            + self.weights.tobytes()
        )

    @classmethod
    def from_bytes(cls, state: bytes, cfg: TDigestConfig | None = None) -> "TDigest":
        r = FORMAT.open(state)
        _, delta, n, vmin, vmax, _total = r.fields
        td = cls(cfg or TDigestConfig(delta=delta))
        td.means = r.array(np.float64, n).copy()
        td.weights = r.array(np.float64, n).copy()
        r.end()
        td.vmin = vmin
        td.vmax = vmax
        return td

    def merge(self, other: "TDigest") -> "TDigest":
        self._flush()
        other._flush()
        out = TDigest(self.cfg)
        means = np.concatenate([self.means, other.means])
        weights = np.concatenate([self.weights, other.weights])
        if len(means):
            out.means, out.weights = _cluster(means, weights, self.cfg.delta)
        out.vmin = min(self.vmin, other.vmin)
        out.vmax = max(self.vmax, other.vmax)
        return out


def merge_states(states: list[bytes], cfg=None, shard_id: int = 0) -> bytes:
    td = TDigest.from_bytes(states[0])
    for s in states[1:]:
        td = td.merge(TDigest.from_bytes(s))
    return td.to_bytes()


FAMILY = base.EstimateFamily(
    sketch_name=lambda cfg: f"tdigest{cfg.delta}", accumulator=TDigest, merge_states=merge_states
)
TDigestConfig.family = FAMILY
build_tdigest = base.build_estimate
