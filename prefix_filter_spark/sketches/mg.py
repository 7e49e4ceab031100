"""Misra-Gries heavy-hitters summary as a mergeable aggregate.

North-rule extension in the §2.4 family, complementing the count-min
sketch: CMS answers point queries over an unbounded key space with a
probabilistic one-sided bound; Misra-Gries keeps the candidate tokens
THEMSELVES (at most k counters) with a deterministic two-sided bound —
the shape a training-data pipeline wants for "which tokens dominate
this crawl" without a full GROUP BY over 10^12 rows.

Semantics per Misra & Gries 1982 with the merge rule of Agarwal et al.
2012 ("Mergeable Summaries", PODS): merging sums counter maps and then
compresses back to k counters by subtracting the (k+1)-th largest
count from every counter and dropping the non-positive ones.

Deterministic guarantee (tracked explicitly in the state as ``err``):

    est(x) <= true(x) <= est(x) + err        for every token x
    err <= n / (k + 1)                        n = total items folded in

Invariant behind the bound: every compression that subtracts ``s``
removes at least ``(k+1) * s`` of stored weight (k+1 counters were
>= s), stored weight only enters via real items, so the sum of all
subtractions — across any merge ORDER or tree shape — is at most
n/(k+1). The counter SET is merge-order dependent (ties break
differently), but the bound above holds for every order; the pytest
property suite shuffles merge orders and asserts exactly that. Any
token with true count > err (in particular > n/(k+1)) is guaranteed
present in the summary.

State: magic 'PFSM' | u8 ver | u8 pad | u16 pad | u32 k | i64 total
| i64 err | u32 n_entries | i64[n] counts | u32[n] token byte lengths
| concatenated UTF-8 token bytes. Self-describing; entries are stored
sorted by token for bit-stable serialization of a given counter map.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

from prefix_filter_spark.sketches import base

_MAGIC = b"PFSM"
_VERSION = 1
_HDR = struct.Struct("<4sBBHIqqI")


@dataclass(frozen=True)
class MgConfig:
    k: int = 256  # max counters kept; err <= n/(k+1)


def _compress(counts: dict[str, int], k: int) -> int:
    """Compress to at most k counters; returns the subtracted amount."""
    if len(counts) <= k:
        return 0
    # (k+1)-th largest count is the subtraction that leaves <= k positive
    vals = np.sort(np.fromiter(counts.values(), dtype=np.int64))[::-1]
    sub = int(vals[k])
    for t in list(counts):
        c = counts[t] - sub
        if c > 0:
            counts[t] = c
        else:
            del counts[t]
    return sub


class MgAccumulator(base.Accumulator):
    def __init__(self, cfg: MgConfig):
        self.cfg = cfg
        self.counts: dict[str, int] = {}
        self.total = 0
        self.err = 0

    def update(self, values: np.ndarray) -> None:
        if len(values) == 0:
            return
        toks, cnts = np.unique(values.astype(str), return_counts=True)
        for t, c in zip(toks, cnts):
            self.counts[t] = self.counts.get(t, 0) + int(c)
        self.total += int(cnts.sum())
        self.err += _compress(self.counts, self.cfg.k)

    def to_bytes(self) -> bytes:
        return _serialize(self.cfg.k, self.total, self.err, self.counts)


def _serialize(k: int, total: int, err: int, counts: dict[str, int]) -> bytes:
    toks = sorted(counts)
    blobs = [t.encode("utf-8") for t in toks]
    cnt_arr = np.array([counts[t] for t in toks], dtype=np.int64)
    len_arr = np.array([len(b) for b in blobs], dtype=np.uint32)
    return (
        _HDR.pack(_MAGIC, _VERSION, 0, 0, k, total, err, len(toks))
        + cnt_arr.tobytes()
        + len_arr.tobytes()
        + b"".join(blobs)
    )


def _parse_state(state: bytes) -> tuple[int, int, int, dict[str, int]]:
    magic, version, _, _, k, total, err, n = _HDR.unpack_from(state, 0)
    if magic != _MAGIC or version != _VERSION:
        raise ValueError("bad mg state")
    off = _HDR.size
    cnts = np.frombuffer(state, dtype=np.int64, offset=off, count=n)
    off += 8 * n
    lens = np.frombuffer(state, dtype=np.uint32, offset=off, count=n)
    off += 4 * n
    counts: dict[str, int] = {}
    for c, ln in zip(cnts, lens):
        counts[state[off : off + ln].decode("utf-8")] = int(c)
        off += ln
    return k, total, err, counts


def merge_states(states: list[bytes], cfg=None, shard_id: int = 0) -> bytes:
    parsed = [_parse_state(s) for s in states]
    k = parsed[0][0]
    if any(p[0] != k for p in parsed):
        raise ValueError("cannot merge MG summaries with different k")
    total = sum(p[1] for p in parsed)
    err = sum(p[2] for p in parsed)
    counts: dict[str, int] = {}
    for _, _, _, c in parsed:
        for t, v in c.items():
            counts[t] = counts.get(t, 0) + v
    err += _compress(counts, k)
    return _serialize(k, total, err, counts)


def estimates(state: bytes) -> tuple[int, int, dict[str, int]]:
    """(total items, error bound, token -> lower-bound count)."""
    _, total, err, counts = _parse_state(state)
    return total, err, counts


def heavy_hitters(state: bytes, phi: float) -> dict[str, int]:
    """Tokens that MAY have true frequency >= phi * n (no false
    negatives: est + err >= true, so true >= phi*n implies
    est >= phi*n - err and the token survives this cut)."""
    _, total, err, counts = _parse_state(state)
    cut = phi * total - err
    return {t: c for t, c in counts.items() if c >= cut}


FAMILY = base.EstimateFamily(
    sketch_name=lambda cfg: f"mg{cfg.k}", accumulator=MgAccumulator, merge_states=merge_states
)
MgConfig.family = FAMILY
build_mg = base.build_estimate
sketch_bytes = base.estimate_state
