"""Per-group embedding SUBSPACE drift via the FD matrix sketch.

``operators/drift.py`` ranks sources by KL divergence of their token
histograms — lexical drift. This operator answers the embedding-space
twin: *which source's vectors live in a different part of the space
than the corpus?* — the signal that catches a source whose WORDS look
normal but whose content distribution shifted (new language mix, a
crawler gone wrong, embedding-model version skew between ingestion
batches).

The naive answer needs per-group covariance (d x d per group — at
d=1024 that is 8 MB per group per partial, and exact PCA needs a
second pass). The frequent-directions sketch (``sketches/fd.py``)
gives the top principal directions of each group from ONE pass with
2*ell*d doubles of state and a deterministic spectral-error
certificate, and it merges — so the corpus-wide sketch is literally
the merge of the per-group sketches (n_rows and ||A||_F^2 exact, FD
slacks adding; no second scan).

Plan shape (the library's standard skew-safe per-group build):
phase 1 groupBy(group, salt) partials -> phase 2 groupBy(group) merge
(``per_group.sketch_by_group``); a hot group fans out over
``salt_buckets`` tasks. The report is one row per group — collected
driver-side only after reduction to sketch states (groups ~ sources,
bounded; the data itself never leaves its executors).

Score: ``fd.subspace_distance`` — 1 - mean cos^2 of the principal
angles between the group's top-k right subspace and the corpus's
(0 = same span, 1 = orthogonal). The pytest gate plants a rotated
subspace for one group and asserts it ranks first, plus exact
n_rows/fro accounting group-by-group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from prefix_filter_spark.operators.per_group import sketch_by_group
from prefix_filter_spark.sketches import fd


def embedding_subspace_drift(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    *,
    dim: int,
    ell: int = 16,
    k: int = 8,
    salt_on: str = "vec_id",
    salt_buckets: int = 8,
) -> DataFrame:
    """-> (group, n_rows, fro_sq, drift, err_bound) one row per group,
    drift descending. ``drift`` = subspace distance between the
    group's top-``k`` principal directions and the corpus-wide ones
    (corpus sketch = merge of the group sketches — no extra scan).
    ``err_bound`` = the group sketch's exact accumulated FD slack
    divided by its ||A||_F^2: the certificate that the group's Gram
    estimate (and so its subspace) is trustworthy; groups with
    err_bound near 1/ell are at the sketch's resolution limit —
    raise ``ell`` before trusting small drift differences."""
    if k > ell:
        raise ValueError(f"k={k} principal directions need ell >= k (got {ell})")
    cfg = fd.FdConfig(ell=ell, dim=dim)
    states = sketch_by_group(
        df,
        group_col,
        vec_col,
        cfg,
        salt_on=salt_on,
        salt_buckets=salt_buckets,
    ).collect()  # one row per group — bounded by design
    if not states:
        return df.sparkSession.createDataFrame(
            [], "group string, n_rows long, fro_sq double, drift double, err_bound double"
        )
    by_group = {r["group"]: bytes(r["state"]) for r in states}
    corpus = fd.merge_states(list(by_group.values()))
    rows = []
    for g, st in by_group.items():
        fro = fd.frobenius_sq(st)
        rows.append(
            (
                g,
                fd.n_rows(st),
                fro,
                fd.subspace_distance(st, corpus, k),
                fd.shrink_mass(st) / fro if fro > 0 else 0.0,
            )
        )
    rows.sort(key=lambda r: (-r[3], r[0]))
    return df.sparkSession.createDataFrame(
        rows, "group string, n_rows long, fro_sq double, drift double, err_bound double"
    )
