"""DSIR-style data selection: hashed n-gram importance weights.

Xie et al. 2023 ("Data Selection for Language Models via Importance
Resampling") select pre-training documents whose hashed n-gram
distribution looks like a small TARGET corpus (the domain you want
more of) rather than the RAW crawl. The classifier-free recipe:

1. hash every word uni/bigram into B buckets;
2. fit two smoothed multinomials over the buckets — target vs raw;
3. per raw doc, importance weight = sum over its feature occurrences
   of log p_target(bucket) - log p_raw(bucket);
4. keep the top fraction (the paper resamples with Gumbel noise; the
   deterministic top-k variant is the reproducible pipeline form).

Spark shape (everything bounded by B except one doc-key shuffle):

- feature explode is map-side; the two distribution fits are
  groupBy(bucket) aggregations with AT MOST B output rows each;
- the B-row log-ratio table broadcast-joins onto the feature stream;
- the only corpus-sized exchange is the final groupBy(doc_id).

Determinism across engines (the gate requirement): the bucket hash is
md5-prefix mod B — identical expression in Spark (`conv(substr(md5(w),
1, 8), 16, 10) % B`) and DuckDB (`('0x' || substr(md5(w), 1, 8))::
UBIGINT % B`) — and the per-bucket log-ratio is quantized to integer
fixed-point (1e4 nats) BEFORE the per-doc sum, so the doc weight is an
exact integer sum: partition/accumulation order cannot perturb it
(the lesson from the lm_perplexity float-avg review finding). The ln
inputs are identical doubles in both engines, so a 1-ulp libm
difference flips the quantization only within ~5e-12 of a rounding
boundary — negligible at B=10^4.

Reference scope note: the reference repo (TomerEven/Prefix-Filter) has
no selection pipeline; this extends the training-data family.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prefix_filter_spark.sources.tokenizer import words_col

#: fixed-point scale for the per-bucket log ratio (1e4 = 0.0001 nats).
RATIO_SCALE = 10_000


def _bucket(col, n_buckets: int):
    """Cross-engine stable hash bucket of a string column (see module
    docstring for the DuckDB mirror expression)."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % n_buckets
    ).alias("bucket")


def hashed_features(
    docs: DataFrame, *, n_buckets: int = 10_000, bigrams: bool = True
) -> DataFrame:
    """Explode each doc's word uni(+bi)grams into hash buckets.

    -> (doc_id, bucket). Occurrences kept (the multinomial is over
    occurrences, not distinct features). Map-side only.
    """
    # project the word array ONCE: slice(<words expr>, i, n) inside a
    # transform lambda re-runs the tokenizer regexp per element —
    # O(len^2) per doc (measured 5x at sf0.1); a bound column is O(1)
    wsd = docs.select("doc_id", words_col("text").alias("_ws"))
    ws = F.col("_ws")
    feats = ws
    if bigrams:
        bi = F.when(
            F.size(ws) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(ws) - 2),
                lambda i: F.concat_ws(" ", F.slice(ws, i + 1, 2)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        feats = F.concat(ws, bi)
    return wsd.select("doc_id", F.explode(feats).alias("f")).select(
        "doc_id", _bucket(F.col("f"), n_buckets)
    )


def _bucket_log_probs(feats: DataFrame, n_buckets: int, prob_name: str) -> DataFrame:
    """Smoothed multinomial over buckets: (bucket, <prob_name>) with
    Laplace +1 smoothing so unseen buckets get mass. Only OBSERVED
    buckets are materialized; callers fold the unseen-bucket constant
    ln(1 / (total + B)) in via coalesce."""
    counts = feats.groupBy("bucket").agg(F.count("*").alias("cnt"))
    total = counts.agg(F.sum("cnt")).collect()[0][0] or 0
    return (
        counts.select(
            "bucket",
            F.log((F.col("cnt") + 1) / F.lit(float(total + n_buckets))).alias(
                prob_name
            ),
        ),
        total,
    )


def importance_weights(
    raw: DataFrame,
    target: DataFrame,
    *,
    n_buckets: int = 10_000,
    bigrams: bool = True,
) -> DataFrame:
    """Per-raw-doc DSIR importance weight.

    -> (doc_id, weight_fp bigint, n_feats bigint). weight_fp is the
    summed per-bucket log ratio in RATIO_SCALE fixed point (positive =
    looks more like the target corpus); n_feats the doc's feature
    occurrence count. Docs with no features (empty text) get weight 0.
    """
    raw_feats = hashed_features(raw, n_buckets=n_buckets, bigrams=bigrams)
    tgt_feats = hashed_features(target, n_buckets=n_buckets, bigrams=bigrams)
    p_r, total_r = _bucket_log_probs(raw_feats, n_buckets, "lp_raw")
    p_t, total_t = _bucket_log_probs(tgt_feats, n_buckets, "lp_tgt")
    unseen_r = math.log(1.0 / (total_r + n_buckets))
    unseen_t = math.log(1.0 / (total_t + n_buckets))
    ratio = (
        p_r.join(p_t, "bucket", "full_outer")
        .select(
            "bucket",
            F.round(
                (
                    F.coalesce("lp_tgt", F.lit(unseen_t))
                    - F.coalesce("lp_raw", F.lit(unseen_r))
                )
                * RATIO_SCALE
            )
            .cast("bigint")
            .alias("ratio_fp"),
        )
    )
    # ratio has <= n_buckets rows — broadcast onto the feature stream.
    scored = raw_feats.join(F.broadcast(ratio), "bucket", "left")
    per_doc = scored.groupBy("doc_id").agg(
        F.sum("ratio_fp").alias("weight_fp"),
        F.count("*").alias("n_feats"),
    )
    return (
        raw.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("weight_fp", F.lit(0)).cast("bigint").alias("weight_fp"),
            F.coalesce("n_feats", F.lit(0)).cast("bigint").alias("n_feats"),
        )
    )


def select_top_fraction(
    weights: DataFrame, frac: float, *, approx: bool = False
) -> DataFrame:
    """Keep the top ``frac`` of docs by weight_fp (ties broken by
    doc_id ascending — fully deterministic).

    exact path (default): distributed top-m (per-partition top-m then
    driver merge — Spark's TakeOrderedAndProject). m rows land on the
    driver, so this is for gate/moderate scale; at 10^12 docs use
    ``approx=True``: a KLL sketch picks the weight threshold at the
    (1-frac) rank (eps rank error ~1.3% at k=200) and the selection is
    a map-side filter — no global ordering anywhere.
    """
    if not 0.0 < frac <= 1.0:
        raise ValueError(f"frac must be in (0, 1], got {frac}")
    n = weights.count()
    m = max(1, math.ceil(frac * n))
    if not approx:
        return weights.orderBy(F.desc("weight_fp"), F.asc("doc_id")).limit(m)
    from prefix_filter_spark.sketches import base, kll

    sk = kll.KllSketch.from_bytes(
        base.estimate_state(weights, "weight_fp", kll.KllConfig(k=200, seed=7))
    )
    thresh = float(sk.quantiles([1.0 - frac])[0])
    return weights.where(F.col("weight_fp") >= thresh)
