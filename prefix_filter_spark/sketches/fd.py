"""Frequent Directions: a mergeable matrix sketch over embeddings.

North-rule extension in the §2.4 family, for the one aggregate shape
the scalar sketches (HLL/CMS/KLL/t-digest/KMV/AMS) cannot express: the
**covariance structure of an embedding column**. FD (Liberty 2013,
"Simple and Deterministic Matrix Sketching"; Ghashami-Liberty-Phillips-
Woodruff 2016) maintains an ell x d matrix B such that

    0 <= x' (A'A - B'B) x <= ||A||_F^2 / ell      for every unit x,

i.e. the sketch's Gram matrix undershoots the true one by at most a
uniform spectral slack — enough to recover top principal directions,
whiten embeddings for ANN, or compare per-source embedding subspaces
(drift), all without ever shuffling a d x d Gram per row or collecting
n x d to the driver.

Why it fits this library: FD is *deterministic* and *mergeable* —
shrink(stack(B1, B2)) satisfies the same bound with the slacks adding
(GLPW16 Thm. 3.1) — so it drops straight into the build_partials_multi ->
tree_merge shape every other sketch here uses: one pass over the rows,
one tiny state per partition, a log-fanout reduction of states. At
10^12 rows the shuffle moves num_partitions * (2*ell*d) doubles, never
the data.

Exactness ledger: the state carries n_rows, ||A||_F^2 and the total
shrink mass `delta` (sum over every shrink of the removed sigma_ell^2,
times the rank deficit) EXACTLY, and the FD invariant

    ||A'A - B'B||_2 <= delta <= ||A||_F^2 / ell

is pytest-asserted against a dense reference — no tolerance fudge, the
tracked delta IS the certificate. Unlike the hash sketches the *rows of
B* are not partition-invariant (SVD order sensitivity); what IS
invariant is the guarantee, plus n_rows and fro_sq bit-exactly — the
property test shuffles partitionings and asserts exactly that split.

Reference tie-in: the Prefix Filter repo has no matrix sketch; this
extends its "tiny mergeable state + published bound" design rule
(Prefix-Filter.hpp:1, Tests/wrappers.hpp:1) to the embeddings table the
training-pipeline operators (similarity.py, dedup.py semdedup) consume.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from prefix_filter_spark.sketches import base

# pad u8 | ell u16 | dim u32 | n_rows u64 | fro_sq f64 | delta f64
# | k u32 (stored rows) | pad u32 | then B[k, dim] float64.
FORMAT = base.StateFormat("fd", b"PFFD", (1,), "BHIQddII")


@dataclass(frozen=True)
class FdConfig:
    ell: int = 16  # sketch rank budget; cov error <= ||A||_F^2 / ell
    dim: int = 64  # embedding dimensionality (must match the column)

    def __post_init__(self):
        if self.ell < 2 or self.dim < 1:
            raise ValueError("need ell >= 2 and dim >= 1")


class FdAccumulator(base.Accumulator):
    """Buffer 2*ell rows; when full, SVD-shrink back to ell.

    The shrink subtracts sigma_ell^2 from every squared singular value
    (clipping at 0), which is what buys mergeability: each shrink adds
    at most sigma_ell^2 <= ||A||_F^2 / ell total spectral error, and the
    exact removed mass is accumulated in ``delta``.
    """

    def __init__(self, cfg: FdConfig):
        self.cfg = cfg
        self.buf = np.zeros((2 * cfg.ell, cfg.dim), dtype=np.float64)
        self.used = 0
        self.n_rows = 0
        self.fro_sq = 0.0
        self.delta = 0.0

    def _shrink(self) -> None:
        ell = self.cfg.ell
        # full_matrices=False: U is (used, r), Vt is (r, dim)
        _, s, vt = np.linalg.svd(self.buf[: self.used], full_matrices=False)
        if len(s) <= ell:
            sig = s
        else:
            lam = s[ell - 1] ** 2
            self.delta += float(lam)
            sig = np.sqrt(np.maximum(s[:ell] ** 2 - lam, 0.0))
        k = len(sig)
        self.buf[:k] = sig[:, None] * vt[:k]
        self.buf[k:] = 0.0
        self.used = k

    def update(self, values: np.ndarray) -> None:
        if len(values) == 0:
            return
        m = np.stack(values).astype(np.float64, copy=False)
        if m.shape[1] != self.cfg.dim:
            raise ValueError(
                f"embedding dim {m.shape[1]} != configured {self.cfg.dim}"
            )
        self.n_rows += len(m)
        self.fro_sq += float(np.einsum("ij,ij->", m, m))
        cap = self.buf.shape[0]
        i = 0
        while i < len(m):
            take = min(cap - self.used, len(m) - i)
            self.buf[self.used : self.used + take] = m[i : i + take]
            self.used += take
            i += take
            if self.used == cap:
                self._shrink()

    def to_bytes(self) -> bytes:
        # One final shrink so the serialized state is <= ell rows: the
        # wire format is the invariant-carrying sketch, not the buffer.
        if self.used > self.cfg.ell:
            self._shrink()
        body = np.ascontiguousarray(self.buf[: self.used])
        return (
            FORMAT.pack(
                1,
                0,
                self.cfg.ell,
                self.cfg.dim,
                self.n_rows,
                self.fro_sq,
                self.delta,
                self.used,
                0,
            )
            + body.tobytes()
        )


def _parse_state(state: bytes):
    r = FORMAT.open(state)
    _, ell, dim, n, fro, delta, k, _ = r.fields
    b = r.array(np.float64, k * dim).reshape(k, dim)
    r.end()
    return ell, dim, n, fro, delta, b


def merge_states(states: list[bytes], cfg=None, shard_id: int = 0) -> bytes:
    """Stack every stored row and re-shrink: associative up to the FD
    bound, with the exact removed mass folded into the merged delta."""
    ell, dim, _, _, _, _ = _parse_state(states[0])
    acc = FdAccumulator(FdConfig(ell=ell, dim=dim))
    for s in states:
        e2, d2, n, fro, delta, b = _parse_state(s)
        if (e2, d2) != (ell, dim):
            raise ValueError("cannot merge FD sketches with different ell/dim")
        acc.n_rows += n
        acc.fro_sq += fro
        acc.delta += delta
        if len(b):
            # reuse update's buffering/shrink loop, but without double
            # counting n_rows/fro_sq (B's rows are pseudo-rows)
            saved_n, saved_f = acc.n_rows, acc.fro_sq
            acc.update(b)
            acc.n_rows, acc.fro_sq = saved_n, saved_f
    return acc.to_bytes()


def n_rows(state: bytes) -> int:
    return _parse_state(state)[2]


def frobenius_sq(state: bytes) -> float:
    return _parse_state(state)[3]


def shrink_mass(state: bytes) -> float:
    """The exact accumulated spectral slack: ||A'A - B'B||_2 <= this."""
    return _parse_state(state)[4]


def gram_estimate(state: bytes) -> np.ndarray:
    """B'B — the sketched Gram matrix (undershoots A'A by <= delta)."""
    *_, b = _parse_state(state)
    return b.T @ b


def top_directions(state: bytes, k: int) -> tuple[np.ndarray, np.ndarray]:
    """(singular_values, right_vectors[k, dim]) of the sketch — the
    approximate top-k principal directions of the embedding cloud."""
    *_, b = _parse_state(state)
    _, s, vt = np.linalg.svd(b, full_matrices=False)
    return s[:k], vt[:k]


def subspace_distance(sa: bytes, sb: bytes, k: int) -> float:
    """Embedding-drift score between two corpora: 1 - mean squared
    cosine between the two top-k right subspaces (0 = identical span,
    1 = orthogonal). Used per-source the way drift.py uses KL over
    token histograms, but in embedding space."""
    _, va = top_directions(sa, k)
    _, vb = top_directions(sb, k)
    # squared singular values of Va Vb' are cos^2 of principal angles
    c = np.linalg.svd(va @ vb.T, compute_uv=False)
    return float(1.0 - np.mean(c**2))


FAMILY = base.EstimateFamily(
    sketch_name=lambda cfg: f"fd{cfg.ell}x{cfg.dim}",
    accumulator=FdAccumulator,
    merge_states=merge_states,
    vector_rows=True,
)
FdConfig.family = FAMILY
build_fd = base.build_estimate
sketch_bytes = base.estimate_state
