"""One-pass table profiling — ANALYZE-style per-column statistics
(count, nulls, distinct, min/max) for planning decisions: broadcast
eligibility, bucket counts, skew candidates, dictionary-encoding wins.
Composes with operators/join_stats.py (KMV pre-join cardinality): the
profile answers per-column questions, KMV answers cross-table ones.

Plan shape: ONE scan + ONE aggregate for the whole column list (all
stats are expressions in a single agg; Spark plans multi-column
count(distinct) via a single Expand — still one pass over the data),
then a map-side unpivot of the 1-row result. At 100 TB, profiling cost
equals one full scan regardless of how many columns are profiled.

``exact=False`` swaps count(distinct) for approx_count_distinct
(HLL++, ~2% error) — the scale default, since exact multi-column
distinct counts widen the Expand; the gate uses exact so DuckDB can
hash-match it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def table_profile(
    df: DataFrame, columns: list[str], exact: bool = True
) -> DataFrame:
    """(column, n_rows, n_nulls, n_distinct, min_value, max_value) —
    min/max rendered as strings so one schema covers every column type
    (cross-engine caveat: float rendering differs between engines; use
    numeric/string columns in oracle comparisons)."""
    ndv = F.countDistinct if exact else F.approx_count_distinct
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in columns:
        aggs += [
            F.count(c).alias(f"{c}__nn"),
            ndv(c).alias(f"{c}__ndv"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    row = df.agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col("__n").alias("n_rows"),
                (F.col("__n") - F.col(f"{c}__nn")).alias("n_nulls"),
                F.col(f"{c}__ndv").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_value"),
                F.col(f"{c}__max").alias("max_value"),
            )
            for c in columns
        ]
    )
    return row.select(F.explode(per_col).alias("s")).select("s.*")


def token_sketch_profile(
    seqs: DataFrame,
    *,
    heavy_phi: float = 0.001,
    quantile_qs: tuple = (0.25, 0.5, 0.75, 0.95, 0.99),
):
    """The north-rule observability suite over the pre-tokenized
    sequence table (doc_id, tokens array<int>, n_tok, source) in ONE
    corpus scan: distinct tokens (HLL + KMV), token frequencies (CMS),
    heavy-hitter tokens (Misra-Gries), and n_tok quantiles (KLL +
    t-digest) — six sketches, one read.

    Built on ``sketches.base.build_partials_multi`` over one row per
    document: the ``tokens`` array ships through Arrow as the list it
    is and the worker flattens it for the four token sketches, and
    ``n_tok`` (NULL for a document without tokens) feeds the two
    quantile sketches once per document. Separate builds would read
    the corpus six times; at 10^12 sequences the scan IS the cost, so
    this is a ~6x wall-clock cut for the suite.

    Spark jobs: one scan fills the cached partials and bounds their
    shard ids, then one collect runs the whole merge tree.

    Returns (states, report): ``states`` maps sketch name -> merged
    state bytes (each mergeable downstream — resumable / unionable
    across corpus snapshots); ``report`` is a driver-side dict of the
    headline estimates, each within its sketch's published bound
    (pytest-asserted against exact values in test_token_profile.py).
    """
    from prefix_filter_spark.sketches import (
        base,
        cms as cms_m,
        hll as hll_m,
        kll as kll_m,
        kmv as kmv_m,
        mg as mg_m,
        tdigest as td_m,
    )

    sketches = {
        "hll": ("tokens", hll_m.HllConfig()),
        "cms": ("tokens", cms_m.CmsConfig()),
        "mg": ("tokens", mg_m.MgConfig()),
        "kmv": ("tokens", kmv_m.KmvConfig()),
        "kll": ("n_tok", kll_m.KllConfig()),
        "tdigest": ("n_tok", td_m.TDigestConfig()),
    }
    value_cols = {
        "tokens": "tokens",
        "n_tok": F.when(F.size("tokens") > 0, F.col("n_tok")).cast("long"),
    }
    partials = base.build_partials_multi(seqs, value_cols, sketches).cache()
    try:
        # the ONE scan: materializes the partials, counts the tokens
        # fed and bounds the shard ids, so the merge needs no job of
        # its own before the collect
        top, n_tokens = partials.agg(
            F.max("shard_id"),
            F.sum(F.when(F.col("sketch") == "hll", F.col("n_keys"))),
        ).collect()[0]
        if not n_tokens:
            raise ValueError(
                "token_sketch_profile: empty input (no token rows) — "
                "nothing to profile"
            )
        # one tree merges all six sketches (tree_merge is looked up on
        # the module at call time, so a tracing wrapper sees it)
        rows = base.tree_merge(
            partials,
            {name: cfg for name, (_, cfg) in sketches.items()},
            shard_bound=top + 1,
        ).collect()
    finally:
        partials.unpersist()
    merged = {r["sketch"]: bytes(r["state"]) for r in rows}
    states = {name: merged[name] for name in sketches}

    import numpy as np

    kll_sk = kll_m.KllSketch.from_bytes(states["kll"])
    td_sk = td_m.TDigest.from_bytes(states["tdigest"])
    mg_total, mg_err, _ = mg_m.estimates(states["mg"])
    report = {
        "distinct_tokens_hll": hll_m.estimate(states["hll"]),
        "distinct_tokens_kmv": kmv_m.estimate(states["kmv"]),
        "total_tokens": cms_m.total_count(states["cms"]),
        "heavy_hitters": {
            int(k): v
            for k, v in mg_m.heavy_hitters(states["mg"], heavy_phi).items()
        },
        "mg_count_error_bound": mg_err,
        "n_tok_quantiles_kll": dict(
            zip(quantile_qs, np.asarray(kll_sk.quantiles(quantile_qs)).tolist())
        ),
        "n_tok_quantiles_tdigest": dict(
            zip(quantile_qs, np.asarray(td_sk.quantiles(quantile_qs)).tolist())
        ),
    }
    return states, report
