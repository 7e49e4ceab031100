"""The dict-of-counters Misra-Gries accumulator and merge that
``sketches/mg.py`` used before its array kernel, kept as a byte-level
oracle: every token is counted by its ``str`` form through a Python
dict, and compression subtracts the (k+1)-th largest count."""

from __future__ import annotations

import numpy as np

from prefix_filter_spark.sketches import mg


def _compress(counts: dict[str, int], k: int) -> int:
    if len(counts) <= k:
        return 0
    vals = np.sort(np.fromiter(counts.values(), dtype=np.int64))[::-1]
    sub = int(vals[k])
    for t in list(counts):
        c = counts[t] - sub
        if c > 0:
            counts[t] = c
        else:
            del counts[t]
    return sub


def _serialize(k: int, total: int, err: int, counts: dict[str, int]) -> bytes:
    toks = sorted(counts)
    blobs = [t.encode("utf-8") for t in toks]
    cnt_arr = np.array([counts[t] for t in toks], dtype=np.int64)
    len_arr = np.array([len(b) for b in blobs], dtype=np.uint32)
    return (
        mg.FORMAT.pack(1, 0, 0, k, total, err, len(toks))
        + cnt_arr.tobytes()
        + len_arr.tobytes()
        + b"".join(blobs)
    )


class DictMgAccumulator:
    def __init__(self, cfg: mg.MgConfig):
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


def merge_states(states: list[bytes]) -> bytes:
    parsed = [mg._parse_state(s) for s in states]
    k = parsed[0][0]
    counts: dict[str, int] = {}
    for _, _, _, c in parsed:
        for t, v in c.items():
            counts[t] = counts.get(t, 0) + v
    err = sum(p[2] for p in parsed) + _compress(counts, k)
    return _serialize(k, sum(p[1] for p in parsed), err, counts)
