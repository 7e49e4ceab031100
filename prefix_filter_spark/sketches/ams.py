"""AMS (Tug-of-War) sketch: second frequency moment F2 and equi-join
size, estimated without shuffling the data.

North-rule extension (SURVEY.md §2.4 family; no reference counterpart —
the reference is an AMQ library, /root/reference/Tests/wrappers.hpp).
Semantics per Alon, Matias & Szegedy 1996 in the bucketed "Fast-AMS" /
Count-Sketch form (Charikar-Chen-Farach-Colton 2002, Thorup-Zhang 2004):

- ``depth`` independent rows; row j maps a key to one of ``width``
  buckets and a sign in {-1, +1}, and adds the sign to the bucket.
- F2(R) = sum_k f_k^2 (the SELF-join size of R on the key) is estimated
  per row by sum_h counter[j,h]^2; the sketch estimate is the MEDIAN
  over rows. Per-row std ~ sqrt(2/width) * F2, so width drives accuracy
  and depth drives confidence.
- |R JOIN S| = sum_k fR_k * fS_k (the AMS inner-product identity) is
  estimated per row by sum_h cR[j,h] * cS[j,h], median over rows —
  per-row std <= sqrt(2 * F2(R) * F2(S) / width). This is the classic
  pre-join size/skew probe: KMV (sketches/kmv.py) sizes the DISTINCT
  overlap, AMS sizes the actual output rows WITH duplicates, which is
  what an optimizer needs when keys repeat.

Distributed shape: counters are integers and merge by elementwise add
(associative + commutative), so the build is base.build_estimate — one
partial per partition, zero data shuffle — and base.tree_merge fans the
partials in. Two tables sketched with the SAME config are comparable.

Determinism: integer counters throughout; estimates touch floats only
in the final driver-side median. Squares/products are computed in
Python ints (a viral key's count squares past int64 at corpus scale).
"""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass

import numpy as np

from prefix_filter_spark.hashing import as_u64, mix_with_seed
from prefix_filter_spark.sketches import base

FORMAT = base.StateFormat("ams", b"PFSA", (1,), "BHIIqQ")
_SALT = 0xA3F2


@dataclass(frozen=True)
class AmsConfig:
    width: int = 4096
    depth: int = 7
    seed: int = 42

    def rel_error_f2(self) -> float:
        """Per-row relative std of the F2 estimator (median of depth
        rows concentrates well inside 4x this)."""
        return math.sqrt(2.0 / self.width)


def _rows(g: np.ndarray, depth: int, width: int):
    """Per row j: (bucket, sign) via the repo's a + j*b double-hashing
    (cms.py:47) — bucket fastranged from the low 32 mix bits, sign from
    mix bit 63 (disjoint bits, same remix)."""
    old = np.seterr(over="ignore")
    try:
        a = g >> np.uint64(32)
        b = (g & np.uint64(0xFFFFFFFF)) | np.uint64(1)  # odd step
        for j in range(depth):
            m = (a + np.uint64(j) * b) * np.uint64(0x9E3779B97F4A7C15)
            pos = (((m & np.uint64(0xFFFFFFFF)) * np.uint64(width)) >> np.uint64(32)).astype(np.int64)
            sign = np.where((m >> np.uint64(63)).astype(bool), np.int64(1), np.int64(-1))
            yield pos, sign
    finally:
        np.seterr(**old)


class AmsAccumulator(base.Accumulator):
    def __init__(self, cfg: AmsConfig):
        self.cfg = cfg
        self.counters = np.zeros((cfg.depth, cfg.width), dtype=np.int64)
        self.total = 0

    def update(self, values: np.ndarray) -> None:
        if len(values) == 0:
            return
        g = mix_with_seed(as_u64(values), self.cfg.seed + _SALT)
        for j, (pos, sign) in enumerate(_rows(g, self.cfg.depth, self.cfg.width)):
            np.add.at(self.counters[j], pos, sign)
        self.total += len(values)

    def to_bytes(self) -> bytes:
        return (
            FORMAT.pack(
                1, self.cfg.depth, 0, self.cfg.width, 0,
                self.total, self.cfg.seed & 0xFFFFFFFFFFFFFFFF,
            )
            + self.counters.tobytes()
        )


def _parse_state(state: bytes):
    r = FORMAT.open(state)
    d, _, w, _, total, seed = r.fields
    counters = r.array(np.int64, d * w).reshape(d, w)
    r.end()
    return d, w, total, seed, counters


def merge_states(states: list[bytes], cfg=None, shard_id: int = 0) -> bytes:
    parsed = [_parse_state(s) for s in states]
    d, w, seed = parsed[0][0], parsed[0][1], parsed[0][3]
    if any(p[0] != d or p[1] != w or p[3] != seed for p in parsed):
        raise ValueError("cannot merge AMS with different dims/seed")
    total = sum(p[2] for p in parsed)
    counters = np.sum([p[4] for p in parsed], axis=0)
    return FORMAT.pack(1, d, 0, w, 0, total, seed) + counters.tobytes()


def f2_estimate(state: bytes) -> int:
    """Median-of-rows estimate of F2 = sum_k count(k)^2 (the self-join
    size on the sketched key)."""
    d, _w, _t, _s, counters = _parse_state(state)
    per_row = [sum(int(c) * int(c) for c in counters[j]) for j in range(d)]
    return int(statistics.median(per_row))


def inner_product_estimate(state_a: bytes, state_b: bytes) -> int:
    """Median-of-rows estimate of sum_k fA(k) * fB(k) — the EXACT
    row count of A JOIN B on the sketched key (AMS identity). Both
    states must share (depth, width, seed)."""
    da, wa, _ta, sa, ca = _parse_state(state_a)
    db, wb, _tb, sb, cb = _parse_state(state_b)
    if (da, wa, sa) != (db, wb, sb):
        raise ValueError("AMS states not comparable (dims/seed differ)")
    per_row = [
        sum(int(x) * int(y) for x, y in zip(ca[j], cb[j])) for j in range(da)
    ]
    return int(statistics.median(per_row))


def total_count(state: bytes) -> int:
    return _parse_state(state)[2]


FAMILY = base.EstimateFamily(
    sketch_name=lambda cfg: f"ams{cfg.depth}x{cfg.width}",
    accumulator=AmsAccumulator,
    merge_states=merge_states,
)
AmsConfig.family = FAMILY
build_ams = base.build_estimate
sketch_bytes = base.estimate_state
