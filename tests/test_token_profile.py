"""One-pass multi-sketch profile (base.build_partials_multi +
profile.token_sketch_profile): the six-sketch observability suite from
a single corpus scan, each estimate inside its published bound, states
bit-identical to independently-built sketches over the same stream."""

from collections import Counter

from pyspark.sql import functions as F

from prefix_filter_spark.operators.profile import token_sketch_profile


def _seqs(spark, n_docs=400, seed=7):
    """Deterministic Zipf-ish tokenized table in the input_hint shape."""
    import numpy as np

    rng = np.random.default_rng(seed)
    rows = []
    for d in range(n_docs):
        n = int(rng.integers(5, 120))
        toks = (rng.zipf(1.5, size=n) % 5000).astype(int).tolist()
        rows.append((str(d), toks, n, f"src{d % 3}"))
    return (
        spark.createDataFrame(
            rows, "doc_id string, tokens array<int>, n_tok int, source string"
        ),
        rows,
    )


def test_estimates_within_published_bounds(spark):
    df, rows = _seqs(spark)
    states, report = token_sketch_profile(df, heavy_phi=0.01)
    flat = [t for _, toks, _, _ in rows for t in toks]
    exact_distinct = len(set(flat))
    exact_total = len(flat)
    cnt = Counter(flat)

    # HLL p=14: ~0.81% rel std error -> 5 sigma
    assert abs(report["distinct_tokens_hll"] - exact_distinct) <= (
        0.05 * exact_distinct
    )
    # KMV k=2048: ~2.2% rel std error -> ~5 sigma
    assert abs(report["distinct_tokens_kmv"] - exact_distinct) <= (
        0.12 * exact_distinct
    )
    # CMS total is EXACT (sum of all increments)
    assert report["total_tokens"] == exact_total
    # Misra-Gries guarantee: every token with freq >= phi*n is reported
    hh = report["heavy_hitters"]
    for tok, c in cnt.items():
        if c >= 0.01 * exact_total:
            assert tok in hh, f"missing guaranteed heavy hitter {tok}"
            # reported count is a lower bound within the error bound
            assert hh[tok] <= c <= hh[tok] + report["mg_count_error_bound"]
    # KLL rank guarantee on n_tok quantiles
    ntoks = sorted(n for _, _, n, _ in rows)
    import bisect

    for q, v in report["n_tok_quantiles_kll"].items():
        lo = bisect.bisect_left(ntoks, v) / len(ntoks)
        hi = bisect.bisect_right(ntoks, v) / len(ntoks)
        assert lo - 0.05 <= q <= hi + 0.05, (q, v, lo, hi)
    # t-digest medians land inside the value range and are ordered
    tq = report["n_tok_quantiles_tdigest"]
    vals = [tq[q] for q in sorted(tq)]
    assert vals == sorted(vals)
    assert ntoks[0] <= vals[0] and vals[-1] <= ntoks[-1]


def test_one_pass_states_match_individual_builds(spark):
    """The combined scan's merged states are bit-identical to building
    each sketch separately over the identical row stream (same
    partitioning, same in-partition order, NULL-skip mirrored)."""
    from prefix_filter_spark.sketches import base, hll, kll

    df, _ = _seqs(spark, n_docs=120)
    states, _ = token_sketch_profile(df)
    ex = df.select(
        F.posexplode("tokens").alias("pos", "tok"), F.col("n_tok")
    ).select(
        F.col("tok").cast("long").alias("tok"),
        F.when(F.col("pos") == 0, F.col("n_tok")).cast("long").alias("no"),
    )
    solo_hll = base.build_estimate(ex.select("tok"), "tok", hll.HllConfig()).collect()
    assert bytes(solo_hll[0]["state"]) == states["hll"]
    solo_kll = base.build_estimate(
        ex.where("no is not null").select("no"), "no", kll.KllConfig()
    ).collect()
    assert bytes(solo_kll[0]["state"]) == states["kll"]


def test_single_scan_plan(spark, tmp_path):
    """The whole six-sketch partials job reads the parquet ONCE."""
    from prefix_filter_spark.sketches import base, cms, hll, kll, kmv, mg, tdigest

    df, _ = _seqs(spark, n_docs=60)
    p = str(tmp_path / "seqs.parquet")
    df.write.parquet(p)
    seqs = spark.read.parquet(p)
    ex = seqs.select(
        F.posexplode("tokens").alias("pos", "tok"), F.col("n_tok")
    ).select(
        F.col("tok").cast("long").alias("tok"),
        F.when(F.col("pos") == 0, F.col("n_tok")).cast("long").alias("no"),
    )
    partials = base.build_partials_multi(
        ex,
        {"tok": "tok", "no": "no"},
        {
            "hll": ("tok", hll.HllConfig()),
            "cms": ("tok", cms.CmsConfig()),
            "mg": ("tok", mg.MgConfig()),
            "kmv": ("tok", kmv.KmvConfig()),
            "kll": ("no", kll.KllConfig()),
            "td": ("no", tdigest.TDigestConfig()),
        },
    )
    plan = partials._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    # six sketches per populated partition, one scan
    got = partials.groupBy("sketch").count().collect()
    assert {r["sketch"] for r in got} == {"hll", "cms", "mg", "kmv", "kll", "td"}


def test_streaming_twin_matches_batch(spark, tmp_path):
    """streaming_token_profile_by_source over trigger-chopped files ==
    batch build over the same rows: HLL/CMS/KMV states bit-identical
    (canonical merges), MG/KLL/t-digest estimates within bounds."""
    from prefix_filter_spark.sketches import base, cms, hll, kmv
    from prefix_filter_spark.streaming.build import (
        streaming_token_profile_by_source,
    )

    df, rows = _seqs(spark, n_docs=150, seed=3)
    ex = df.select(
        F.lit("s0").alias("source"),
        F.posexplode("tokens").alias("pos", "tok"),
        F.col("n_tok"),
    ).select(
        "source",
        F.col("tok").cast("long").alias("token"),
        F.when(F.col("pos") == 0, F.col("n_tok"))
        .cast("long")
        .alias("ntok_once"),
    )
    src = str(tmp_path / "stream_src")
    # several files -> several stream chops
    ex.repartition(5).write.parquet(src)
    stream = spark.readStream.schema(
        "source string, token long, ntok_once long"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    out = streaming_token_profile_by_source(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("tok_profile_stream")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(180)
    pdf = spark.sql(
        "SELECT * FROM tok_profile_stream ORDER BY n_total DESC LIMIT 1"
    ).toPandas()
    assert int(pdf["n_total"].iloc[0]) == ex.count()

    batch = {}
    for name, cfg in {
        "hll": hll.HllConfig(),
        "cms": cms.CmsConfig(),
        "kmv": kmv.KmvConfig(),
    }.items():
        batch[name] = base.estimate_state(
            ex.select("token").where(F.col("token").isNotNull()), "token", cfg
        )
    for name in ("hll", "cms", "kmv"):
        assert bytes(pdf[name].iloc[0]) == batch[name], name
    # bound checks for the non-canonical sketches
    flat = [t for _, toks, _, _ in rows for t in toks]
    ntoks = sorted(n for _, _, n, _ in rows)
    assert pdf["total_tokens"].iloc[0] == len(flat)
    p50 = pdf["p50_ntok"].iloc[0]
    import bisect

    lo = bisect.bisect_left(ntoks, p50) / len(ntoks)
    hi = bisect.bisect_right(ntoks, p50) / len(ntoks)
    assert lo - 0.05 <= 0.5 <= hi + 0.05


def test_empty_input_raises_clearly(spark):
    import pytest

    empty = spark.createDataFrame(
        [], "doc_id string, tokens array<int>, n_tok int, source string"
    )
    with pytest.raises(ValueError, match="empty input"):
        token_sketch_profile(empty)


def test_documents_without_tokens_raise_clearly(spark):
    """Documents whose arrays are all empty or NULL still ship partial
    rows (with empty states); the profile must refuse them like an
    empty table."""
    import pytest

    docs = spark.createDataFrame(
        [("a", [], 0, "s"), ("b", None, 0, "s"), ("c", [], 0, "s")],
        "doc_id string, tokens array<int>, n_tok int, source string",
    )
    with pytest.raises(ValueError, match="no token rows"):
        token_sketch_profile(docs)


def test_profile_counts_only_documents_with_tokens(spark):
    """Empty and NULL token arrays feed no n_tok: the quantile sketches
    see one value per document with at least one token, and the token
    sketches see every non-NULL element."""
    from prefix_filter_spark.sketches import kll

    rows = [
        ("a", [1, 2, 3], 3, "s"),
        ("b", [], 0, "s"),
        ("c", None, 0, "s"),
        ("d", [4, None, 4], 3, "s"),
        ("e", [], 0, "s"),
        ("f", [5], 1, "s"),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id string, tokens array<int>, n_tok int, source string"
    )
    states, report = token_sketch_profile(docs)
    assert kll.KllSketch.from_bytes(states["kll"]).n_total == 3
    assert report["total_tokens"] == 6


def test_profile_runs_one_scan_job_and_one_merge_job(spark):
    """The scan that fills the cached partials also bounds the shard
    ids, so the profile starts two Spark actions and no more: that
    scan and the merge tree's collect, 5 jobs in the status tracker
    under AQE. A separate count() or max-shard-id read before the
    merge would add two more."""
    df, _ = _seqs(spark, n_docs=80)
    sc = spark.sparkContext
    sc.setJobGroup("token-profile-jobs", "job count")
    try:
        token_sketch_profile(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("token-profile-jobs")) == 5


def test_estimate_and_profile_release_their_cache(spark):
    """tree_merge caches its partials; estimate_state and the profile
    unpersist them, so neither leaves a persistent RDD behind."""
    from prefix_filter_spark.sketches import base, hll

    df, _ = _seqs(spark, n_docs=60)
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    for _ in range(3):
        base.estimate_state(spark.range(1_000), "id", hll.HllConfig())
        assert jsc.getPersistentRDDs().size() == before
    for _ in range(2):
        token_sketch_profile(df)
        assert jsc.getPersistentRDDs().size() == before
