"""N-gram language-model perplexity scoring — the CCNet-style quality
filter (Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
Datasets from Web Crawl Data"): score every document by its perplexity
under an n-gram LM trained on a reference corpus, then keep/bucket docs
by score. This is the classic third leg of a training-data pipeline
beside dedup and heuristic quality scores (operators/text.py).

No reference counterpart in /root/reference (the reference is an AMQ
filter library); this family is brief-mandated ("the operations a
large-scale training-data pipeline would need").

Model: bigram LM with add-alpha smoothing over the deterministic word
split shared by every text operator (sources/tokenizer.words_col — the
DuckDB oracles mirror it 1:1):

    p(w | u) = (c(u, w) + alpha) / (c(u) + alpha * V)

score(doc) = -mean(log2 p) over the doc's bigram stream;
perplexity(doc) = 2^score. Everything is exact double arithmetic over
integer counts — DuckDB reproduces it bit-for-bit, so the gate is a
hash-matched oracle, not a bound.

Scale shape (100 TB corpus, bounded reference):
- training = two groupBy counts over the REFERENCE corpus (one shuffle
  each); reference corpora are curated and small relative to the corpus
  being scored (CCNet uses Wikipedia), so count tables are of vocab
  size, not corpus size.
- scoring = map-side bigram explode (pure Catalyst, no per-doc join
  keys other than the bigram itself) + join against the count tables —
  broadcast when the vocab fits (measured-size decision left to AQE),
  shuffle-hash on (w1) otherwise — then one groupBy(doc_id) to average.
  Nothing all-pairs, nothing driver-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from prefix_filter_spark.sources.tokenizer import words_col


def _bigrams(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, w1, w2) — one row per consecutive word pair, built
    map-side with a sequence/transform (no self-join, no shuffle).

    The word array is PROJECTED into a column before the transform:
    ``element_at(<words expr>, i)`` inside the lambda re-evaluates the
    whole tokenizer expression (regexp split + filter) per element —
    O(len^2) regexp work per document, measured 16x slower at sf0.1.
    Bound to a column it's a plain O(1) array index."""
    wsd = docs.select("doc_id", words_col(text_col).alias("_ws")).where(
        F.size("_ws") >= 2
    )
    ws = F.col("_ws")
    pairs = F.transform(
        F.sequence(F.lit(0), F.size(ws) - 2),
        lambda i: F.struct(
            F.element_at(ws, i + 1).alias("w1"),
            F.element_at(ws, i + 2).alias("w2"),
        ),
    )
    return (
        wsd.select("doc_id", F.explode(pairs).alias("bg"))
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )


def train_bigram_counts(
    ref_docs: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, DataFrame, int]:
    """Train the LM: (unigram counts, bigram counts, vocab size) over
    the reference corpus. Unigram counts exclude each doc's last word —
    they are continuation denominators c(u) = Σ_w c(u, w), so the
    smoothed distribution Σ_w p(w|u) sums to exactly 1."""
    bg = _bigrams(ref_docs, text_col)
    bigrams = bg.groupBy("w1", "w2").agg(F.count("*").alias("c_bg"))
    unigrams = bg.groupBy("w1").agg(F.count("*").alias("c_u"))
    ws = words_col(text_col)
    vocab = (
        ref_docs.select(F.explode(ws).alias("w")).agg(
            F.countDistinct("w").alias("v")
        )
    ).collect()[0]["v"]
    return unigrams, bigrams, int(vocab)


def lm_perplexity(
    docs: DataFrame,
    unigrams: DataFrame,
    bigrams: DataFrame,
    vocab_size: int,
    alpha: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """Score docs under the trained LM: (doc_id, n_bigrams, avg_nll,
    perplexity). avg_nll is the mean negative log2 probability of the
    doc's bigrams; unseen words/bigrams fall back to the add-alpha
    floor (left joins; coalesce(count, 0)).

    Deterministic reduction: a plain F.avg over doubles is partial-
    aggregation-order dependent (partitioning can flip the last ulp,
    which flips a round() at a boundary and reddens the hash gate on
    bigger SFs). Instead each bigram's nll is quantized to 1e-9
    (``round(nll * 1e9) -> bigint``) and summed as exact integers — a
    commutative, associative reduction, so avg_nll is a pure function
    of the data regardless of partitioning or executor count. The 1e-9
    quantum is far below any meaningful perplexity difference."""
    bg = _bigrams(docs, text_col)
    scored = (
        bg.join(bigrams, ["w1", "w2"], "left")
        .join(unigrams, ["w1"], "left")
        .select(
            "doc_id",
            (
                -F.log2(
                    (F.coalesce(F.col("c_bg"), F.lit(0)) + F.lit(float(alpha)))
                    / (
                        F.coalesce(F.col("c_u"), F.lit(0))
                        + F.lit(float(alpha) * vocab_size)
                    )
                )
            ).alias("nll"),
        )
    )
    quant = scored.select(
        "doc_id", F.round(F.col("nll") * F.lit(1e9), 0).cast("long").alias("nll_q")
    )
    avg = F.sum("nll_q").cast("double") / (F.count("*") * F.lit(1e9))
    return quant.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        avg.alias("avg_nll"),
        F.pow(F.lit(2.0), avg).alias("perplexity"),
    )


def _trigrams(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, u, v, w) — one row per consecutive word triple, built
    map-side like _bigrams (no self-join, no shuffle; same pre-projected
    array — see _bigrams for why)."""
    wsd = docs.select("doc_id", words_col(text_col).alias("_ws")).where(
        F.size("_ws") >= 3
    )
    ws = F.col("_ws")
    triples = F.transform(
        F.sequence(F.lit(0), F.size(ws) - 3),
        lambda i: F.struct(
            F.element_at(ws, i + 1).alias("u"),
            F.element_at(ws, i + 2).alias("v"),
            F.element_at(ws, i + 3).alias("w"),
        ),
    )
    return (
        wsd.select("doc_id", F.explode(triples).alias("tg"))
        .select(
            "doc_id",
            F.col("tg.u").alias("u"),
            F.col("tg.v").alias("v"),
            F.col("tg.w").alias("w"),
        )
    )


def train_kn_counts(ref_docs: DataFrame, text_col: str = "text", cache: bool = True):
    """Interpolated Kneser-Ney trigram model (Kneser & Ney 1995; Chen &
    Goodman 1999 interpolated form — the KenLM default, i.e. the model
    family CCNet actually filters with). Every lower-order quantity is
    the CONTINUATION count derived from the trigram type table, per the
    standard recipe:

    - ``tri``  : c(uvw) raw trigram counts
    - ``ctx``  : per (u,v): c(uv) = Σ_w c(uvw) and N1+(uv·) (distinct
      continuations — the discount mass multiplier)
    - ``cont_vw``: N1+(·vw) (distinct left contexts of bigram vw — the
      KN bigram "count")
    - ``mid``  : per v: N1+(·v·) = Σ_w N1+(·vw) and N1+(v·') =
      |{w : N1+(·vw)>0}|
    - ``cont_w``: N1+(·w) (distinct v preceding w)
    - scalars: N1+(··) total bigram types, V continuation vocab

    All integer counts from groupBys over the reference corpus — the
    model is a pure function of the reference text (bit-deterministic,
    no float accumulation in training). Tables are vocab-scale, so at
    100 TB the scoring joins broadcast or shuffle-hash tiny sides.
    """
    tri = (
        _trigrams(ref_docs, text_col)
        .groupBy("u", "v", "w")
        .agg(F.count("*").alias("c_uvw"))
    )
    if cache:
        # vocab-scale tables, but each is joined separately at scoring
        # time — uncached, the reference-corpus trigram explode would
        # re-run once per joined table (measured 5x at sf0.1)
        tri = tri.cache()
    ctx = tri.groupBy("u", "v").agg(
        F.sum("c_uvw").alias("c_uv"), F.count("*").alias("n1p_uv")
    )
    cont_vw = tri.groupBy("v", "w").agg(F.count("*").alias("n1p_vw"))
    if cache:
        cont_vw = cont_vw.cache()
    mid = cont_vw.groupBy("v").agg(
        F.sum("n1p_vw").alias("n1p_v_all"), F.count("*").alias("n1p_v_types")
    )
    cont_w = cont_vw.groupBy("w").agg(F.count("*").alias("n1p_w"))
    totals = cont_vw.agg(
        F.count("*").alias("n1p_total"), F.countDistinct("w").alias("v_cont")
    ).collect()[0]
    return {
        "tri": tri,
        "ctx": ctx,
        "cont_vw": cont_vw,
        "mid": mid,
        "cont_w": cont_w,
        "n1p_total": int(totals["n1p_total"]),
        "v_cont": int(totals["v_cont"]),
    }


def kn_perplexity(
    docs: DataFrame,
    model: dict,
    discount: float = 0.75,
    alpha: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """Score docs under the interpolated-KN trigram model:
    (doc_id, n_trigrams, avg_nll, perplexity).

        p1(w)     = (N1+(·w) + α) / (N1+(··) + α·(V+1))      [α floor
                     reserves mass for OOV words]
        p2(w|v)   = max(N1+(·vw)−D, 0)/N1+(·v·)
                    + D·N1+(v·)/N1+(·v·) · p1(w)              [if
                     N1+(·v·)=0 → p1(w)]
        p3(w|u,v) = max(c(uvw)−D, 0)/c(uv)
                    + D·N1+(uv·)/c(uv) · p2(w|v)              [if
                     c(uv)=0 → p2(w|v)]

    Plan: one map-side trigram explode, five left joins against the
    vocab-scale count tables (AQE sizes them; nothing corpus×corpus),
    one groupBy(doc_id). The per-trigram nll is quantized to 1e-9 and
    summed as exact integers — same deterministic-reduction contract as
    ``lm_perplexity`` (avg independent of partitioning)."""
    D = float(discount)
    if not 0.0 < D < 1.0:
        raise ValueError("discount must be in (0, 1)")
    if alpha <= 0:
        # alpha=0 would give p1=0 for OOV words -> -log2(0)=inf, which
        # the fixed-point long cast then traps under ANSI mid-job
        raise ValueError("alpha must be > 0")
    tg = _trigrams(docs, text_col)
    j = (
        tg.join(model["tri"], ["u", "v", "w"], "left")
        .join(model["ctx"], ["u", "v"], "left")
        .join(model["mid"], ["v"], "left")
        .join(model["cont_vw"], ["v", "w"], "left")
        .join(model["cont_w"], ["w"], "left")
    )
    z = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("double")
    p1 = (z("n1p_w") + F.lit(float(alpha))) / F.lit(
        model["n1p_total"] + alpha * (model["v_cont"] + 1)
    )
    p2 = F.when(
        z("n1p_v_all") > 0,
        F.greatest(z("n1p_vw") - F.lit(D), F.lit(0.0)) / z("n1p_v_all")
        + F.lit(D) * z("n1p_v_types") / z("n1p_v_all") * p1,
    ).otherwise(p1)
    p3 = F.when(
        z("c_uv") > 0,
        F.greatest(z("c_uvw") - F.lit(D), F.lit(0.0)) / z("c_uv")
        + F.lit(D) * z("n1p_uv") / z("c_uv") * p2,
    ).otherwise(p2)
    quant = j.select(
        "doc_id", F.round(-F.log2(p3) * F.lit(1e9), 0).cast("long").alias("nll_q")
    )
    avg = F.sum("nll_q").cast("double") / (F.count("*") * F.lit(1e9))
    return quant.groupBy("doc_id").agg(
        F.count("*").alias("n_trigrams"),
        avg.alias("avg_nll"),
        F.pow(F.lit(2.0), avg).alias("perplexity"),
    )


def perplexity_cutoffs_by_group(
    scores: DataFrame,
    group_col: str = "lang",
    qs: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
    alpha: float = 0.01,
) -> dict[str, tuple[float, float]]:
    """CCNet's actual cutoff protocol: the head/middle/tail thresholds
    are PER-LANGUAGE perplexity percentiles (Wenzek et al. 2020 §4.3 —
    each language gets its own tertiles, since absolute perplexity is
    not comparable across languages). One skew-safe pass with the
    salted per-group DDSketch (relative-error quantiles — the right
    sketch for perplexity's heavy right tail), returning
    {group: (c0, c1)} ready for ``perplexity_buckets``.

    ``scores``: output of lm_perplexity/kn_perplexity joined back to a
    group column. The group sketch table is tiny (one row per
    language); collecting it is the intended driver-side step."""
    from prefix_filter_spark.operators.per_group import sketch_by_group
    from prefix_filter_spark.sketches import dds

    cfg = dds.DDSketchConfig(alpha=alpha)
    rows = sketch_by_group(
        scores.where(F.col("perplexity").isNotNull()),
        group_col,
        F.col("perplexity"),
        cfg,
        salt_on="doc_id",
    ).collect()
    out: dict[str, tuple[float, float]] = {}
    for r in rows:
        sk = dds.DDSketch.from_bytes(bytes(r["state"]))
        c0, c1 = sk.quantiles(list(qs))
        out[r["group"]] = (float(c0), float(c1))
    return out


def perplexity_buckets(
    scores: DataFrame, cutoffs: tuple[float, float]
) -> Column:
    """CCNet's head/middle/tail split: a column expression bucketing
    ``perplexity`` at the two cutoffs (head < c0 <= middle < c1 <= tail).
    Per-language cutoffs come from ``perplexity_cutoffs_by_group``
    (one sketch pass); apply per group with a when-chain or a join."""
    c0, c1 = cutoffs
    return (
        F.when(scores["perplexity"] < c0, F.lit("head"))
        .when(scores["perplexity"] < c1, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
