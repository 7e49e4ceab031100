"""Pairwise content overlap between sources — the mirror detector.

Curation question: which of a corpus's sources are near-copies of each
other (mirrors, scrapes of the same site, re-crawls)? Doc-level dedup
answers per document; this answers per SOURCE, and must not cost a
pairwise corpus join. One corpus pass builds a KMV/theta sketch of
each source's k-gram shingle set (skew-safe salted per-group build,
``operators/per_group.py``); every pairwise Jaccard / intersection /
distinct estimate then comes from the collected states — G sketches of
k u64 each, so the G² pair arithmetic is driver-side NumPy over a few
MB and the corpus is never touched again. Error ~ 1/sqrt(k) per
estimate (``sketches/kmv.py`` bounds, gate-tested against exact).

Scale: G = source count (10s-10^4) — states total G*k*8 bytes (160 MB
at G=10^4, k=2048). The pair pass is G² by default; ``prune=True``
cuts it to the OUTPUT-sensitive cost first: an inverted index over the
sketches' retained bottom-k samples (one numpy sort of G*k values)
finds exactly the pairs whose samples share a value — and a pair's KMV
intersection estimate is nonzero IFF its samples intersect (a shared
retained value is below both sketches' thetas by construction), so
pruning is lossless: every surviving pair's row is bit-identical to
the unpruned matrix and every dropped pair had jaccard == 0 exactly.

Reference scope note: the reference repo (TomerEven/Prefix-Filter) has
no multi-set analytics; this extends the engine's KMV set-expression
family (SURVEY.md §2.4) to the pairwise-matrix shape.
"""

from __future__ import annotations

from itertools import combinations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prefix_filter_spark.operators.per_group import sketch_by_group
from prefix_filter_spark.sketches import kmv
from prefix_filter_spark.sources.tokenizer import words_col


def source_shingles(
    docs: DataFrame,
    *,
    group_col: str = "source",
    text_col: str = "text",
    k: int = 5,
    seed: int = 0x0B31,
) -> DataFrame:
    """(group, g): every word k-gram of every doc, hashed to 64 bits
    JVM-side — the value stream the per-source sketches fold. Same
    word normalization as every text operator."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    wsd = docs.select(
        F.col(group_col).alias("group"), words_col(text_col).alias("_ws")
    )
    ws = F.col("_ws")
    grams = F.when(
        F.size(ws) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(ws) - k),
            lambda i: F.xxhash64(
                F.concat_ws(" ", F.slice(ws, i + 1, k)), F.lit(seed)
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return wsd.select("group", F.explode(grams).alias("g"))


def candidate_pairs(states: dict) -> list[tuple]:
    """Unordered pairs whose retained bottom-k samples intersect —
    the ONLY pairs whose KMV intersection estimate can be nonzero.

    One inverted index over all retained values (a single numpy sort
    of sum(len(sample)) u64s, then a walk over the duplicate runs):
    cost O(G*k*log(G*k)) + output-size, vs the G² estimate pass it
    gates. A shared retained value v is in both sketches' bottom-k,
    hence below both thetas, hence counted by ``intersection_estimate``
    — so the prune is exact, not heuristic.
    """
    import numpy as np

    names = sorted(states)
    if len(names) < 2:
        return []
    arrs = [kmv.retained_values(states[n]) for n in names]
    lens = np.array([len(a) for a in arrs], dtype=np.int64)
    vals = np.concatenate(arrs)
    owners = np.repeat(np.arange(len(names)), lens)
    order = np.argsort(vals, kind="stable")
    sv, so = vals[order], owners[order]
    # duplicate-value runs: only values retained by >= 2 sources matter
    bounds = np.flatnonzero(np.diff(sv) != 0) + 1
    starts = np.concatenate(([0], bounds))
    ends = np.concatenate((bounds, [len(sv)]))
    pairs: set[tuple] = set()
    for s, e in zip(starts[ends - starts >= 2], ends[ends - starts >= 2]):
        group = np.unique(so[s:e])
        for i, j in combinations(group.tolist(), 2):
            pairs.add((names[i], names[j]))
    return sorted(pairs)


def overlap_matrix_from_states(
    states: dict, *, prune: bool = False
) -> pd.DataFrame:
    """The pairwise estimate pass over collected {group: kmv_state}.

    ``prune=True`` restricts the quadratic loop to ``candidate_pairs``
    — lossless (surviving rows are bit-identical to the unpruned
    matrix; dropped pairs all had jaccard/n_common exactly 0), and the
    cost drops from G² to the number of actually-overlapping pairs.
    """
    pair_iter = (
        candidate_pairs(states) if prune else combinations(sorted(states), 2)
    )
    rows = []
    for a, b in pair_iter:
        sa, sb = states[a], states[b]
        rows.append(
            {
                "a": a,
                "b": b,
                "jaccard": kmv.jaccard_estimate(sa, sb),
                "n_common": kmv.intersection_estimate(sa, sb),
                "n_union": kmv.union_estimate(sa, sb),
                "n_a": kmv.estimate(sa),
                "n_b": kmv.estimate(sb),
            }
        )
    out = pd.DataFrame(
        rows, columns=["a", "b", "jaccard", "n_common", "n_union", "n_a", "n_b"]
    )
    return out.sort_values(
        ["jaccard", "a", "b"], ascending=[False, True, True], ignore_index=True
    )


def source_overlap_matrix(
    docs: DataFrame,
    *,
    group_col: str = "source",
    text_col: str = "text",
    k: int = 5,
    cfg: kmv.KmvConfig | None = None,
    salt_buckets: int = 16,
    seed: int = 0x0B31,
    prune: bool = False,
) -> pd.DataFrame:
    """All source pairs with estimated shingle-set overlap.

    -> pandas DataFrame (a, b, jaccard, n_common, n_union, n_a, n_b)
    sorted by jaccard descending, one row per unordered pair — small
    by construction, so it comes back driver-side like every collected
    report in the library. Estimates carry the KMV bounds; a mirror
    pair reads jaccard ~= 1, disjoint sources ~= 0. ``prune=True``
    emits only pairs with nonzero estimated overlap (see
    ``overlap_matrix_from_states``) — the G>=10^3 path.
    """
    cfg = cfg or kmv.KmvConfig(k=2048, seed=42)
    shingles = source_shingles(
        docs, group_col=group_col, text_col=text_col, k=k, seed=seed
    )
    states_df = sketch_by_group(
        shingles,
        "group",
        "g",
        cfg,
        salt_on="g",
        salt_buckets=salt_buckets,
    )
    states = {
        r["group"]: bytes(r["state"]) for r in states_df.collect()
    }
    return overlap_matrix_from_states(states, prune=prune)
