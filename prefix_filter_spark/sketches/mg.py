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

from dataclasses import dataclass

import numpy as np

from prefix_filter_spark.sketches import base

FORMAT = base.StateFormat("mg", b"PFSM", (1,), "BHIqqI")


@dataclass(frozen=True)
class MgConfig:
    k: int = 256  # max counters kept; err <= n/(k+1)


def _fold(keys: np.ndarray, cnts: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray, int]:
    """Sum the counts of equal keys, then compress to at most k counters:
    subtract the (k+1)-th largest count from every counter and drop the
    non-positive ones. Returns (sorted distinct keys, counts, subtracted
    amount). The survivors depend only on the counts, not on key order."""
    uniq, inv = np.unique(keys, return_inverse=True)
    sums = np.zeros(len(uniq), dtype=np.int64)
    np.add.at(sums, inv, cnts)
    if len(sums) <= k:
        return uniq, sums, 0
    sub = int(np.partition(sums, len(sums) - k - 1)[len(sums) - k - 1])
    keep = sums > sub
    return uniq[keep], sums[keep] - sub, sub


def _as_keys(values: np.ndarray) -> np.ndarray:
    """Integral input stays int64 (stringified only in ``to_bytes``);
    everything else is counted by its ``str`` form."""
    if values.dtype.kind in "iu" and np.can_cast(values.dtype, np.int64):
        return values.astype(np.int64, copy=False)
    return values.astype(str)


class MgAccumulator(base.Accumulator):
    """Counters as parallel ``keys``/``cnts`` arrays: each batch folds in
    with one ``np.unique`` over the kept keys plus the batch."""

    def __init__(self, cfg: MgConfig):
        self.cfg = cfg
        self.keys = np.zeros(0, dtype=np.int64)
        self.cnts = np.zeros(0, dtype=np.int64)
        self.total = 0
        self.err = 0

    def update(self, values: np.ndarray) -> None:
        if len(values) == 0:
            return
        batch = _as_keys(values)
        if batch.dtype.kind != self.keys.dtype.kind:
            batch, self.keys = batch.astype(str), self.keys.astype(str)
        self.keys, self.cnts, sub = _fold(
            np.concatenate([self.keys, batch]),
            np.concatenate([self.cnts, np.ones(len(batch), dtype=np.int64)]),
            self.cfg.k,
        )
        self.total += len(batch)
        self.err += sub

    def to_bytes(self) -> bytes:
        return _serialize(self.cfg.k, self.total, self.err, self.keys, self.cnts)


def _serialize(k: int, total: int, err: int, keys: np.ndarray, cnts: np.ndarray) -> bytes:
    toks = [str(t) for t in keys]
    order = sorted(range(len(toks)), key=toks.__getitem__)
    blobs = [toks[i].encode("utf-8") for i in order]
    cnt_arr = np.asarray(cnts, dtype=np.int64)[order]
    len_arr = np.array([len(b) for b in blobs], dtype=np.uint32)
    return (
        FORMAT.pack(1, 0, 0, k, total, err, len(toks))
        + cnt_arr.tobytes()
        + len_arr.tobytes()
        + b"".join(blobs)
    )


def _parse_arrays(state: bytes) -> tuple[int, int, int, np.ndarray, np.ndarray]:
    """(k, total, err, token object array, int64 counts)."""
    r = FORMAT.open(state)
    _, _, k, total, err, n = r.fields
    cnts = r.array(np.int64, n)
    lens = r.array(np.uint32, n)
    ends = np.cumsum(lens, dtype=np.int64)
    blob = r.take(ends[-1] if n else 0)
    r.end()
    toks = np.array(
        [blob[e - ln : e].decode("utf-8") for e, ln in zip(ends.tolist(), lens.tolist())],
        dtype=object,
    )
    return k, total, err, toks, cnts


def _parse_state(state: bytes) -> tuple[int, int, int, dict[str, int]]:
    k, total, err, toks, cnts = _parse_arrays(state)
    return k, total, err, dict(zip(toks.tolist(), cnts.tolist()))


def merge_states(states: list[bytes], cfg=None, shard_id: int = 0) -> bytes:
    parsed = [_parse_arrays(s) for s in states]
    k = parsed[0][0]
    if any(p[0] != k for p in parsed):
        raise ValueError("cannot merge MG summaries with different k")
    keys, cnts, sub = _fold(
        np.concatenate([p[3] for p in parsed]), np.concatenate([p[4] for p in parsed]), k
    )
    total = sum(p[1] for p in parsed)
    err = sum(p[2] for p in parsed) + sub
    return _serialize(k, total, err, keys, cnts)


def estimates(state: bytes) -> tuple[int, int, dict[str, int]]:
    """(total items, error bound, token -> lower-bound count)."""
    _, total, err, counts = _parse_state(state)
    return total, err, counts


def lookup(counts: dict[str, int], tokens: np.ndarray) -> np.ndarray:
    """Lower-bound counts of ``tokens`` in an ``estimates`` map, each
    keyed as ``to_bytes`` stores it (an integral token by its decimal
    string); 0 for a token outside the summary."""
    return np.array([counts.get(str(t), 0) for t in _as_keys(tokens)], dtype=np.int64)


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
