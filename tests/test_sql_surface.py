"""SQL estimate surface over serialized state + PF diagnostics."""

from pyspark.sql import functions as F

from prefix_filter_spark.functions import register_sketch_sql
from prefix_filter_spark.sketches import cms, hll, kll, kmv, prefix_filter as pf, tdigest


def test_sql_estimates(spark):
    register_sketch_sql(spark)
    df = spark.range(200_000).select((F.col("id") % 50_000).alias("v"))
    hll.build_hll(df, "v", hll.HllConfig(p=14, seed=9)).createOrReplaceTempView("hll_t")
    est = spark.sql("SELECT hll_estimate(state) e FROM hll_t").collect()[0]["e"]
    assert abs(est - 50_000) / 50_000 < 0.03

    cms.build_cms(df, "v", cms.CmsConfig(seed=9)).createOrReplaceTempView("cms_t")
    got = spark.sql(
        "SELECT k, cms_point(state, k) c FROM cms_t, (SELECT explode(array(0,1,2)) k)"
    ).toPandas()
    assert (got["c"] >= 4).all()  # every value appears exactly 4x

    kll.build_kll(df, "v", kll.KllConfig(seed=9)).createOrReplaceTempView("kll_t")
    q = spark.sql("SELECT kll_quantile(state, 0.5) q FROM kll_t").collect()[0]["q"]
    assert abs(q - 25_000) < 2_000

    tdigest.build_tdigest(df, "v", tdigest.TDigestConfig()).createOrReplaceTempView("td_t")
    q = spark.sql("SELECT tdigest_quantile(state, 0.99) q FROM td_t").collect()[0]["q"]
    assert abs(q - 49_500) < 1_500


def test_register_again_rebinds_a_dropped_name(spark):
    """A second register_sketch_sql re-binds every name to the JVM
    functions the first call built: a dropped cms_point comes back and
    answers as before."""
    from prefix_filter_spark import functions

    register_sketch_sql(spark)
    built = functions._SKETCH_JUDFS[spark.sparkContext]
    df = spark.range(20_000).select((F.col("id") % 5_000).alias("v"))
    cms.build_cms(df, "v", cms.CmsConfig(seed=3)).createOrReplaceTempView("cms_again")
    query = "SELECT sum(cms_point(state, k)) FROM cms_again, (SELECT explode(array(0, 7, 99)) k)"
    want = spark.sql(query).collect()[0][0]
    assert want >= 12  # each value appears 4x

    spark.sql("DROP TEMPORARY FUNCTION cms_point")
    assert not spark.catalog.functionExists("cms_point")
    register_sketch_sql(spark)
    assert functions._SKETCH_JUDFS[spark.sparkContext] is built
    assert spark.sql(query).collect()[0][0] == want


def test_sql_kmv_set_ops(spark):
    register_sketch_sql(spark)
    cfg = kmv.KmvConfig(k=4096, seed=9)
    # A = [0, 60k), B = [40k, 100k): intersection 20k, union 100k
    a = spark.range(0, 60_000).select(F.xxhash64("id", F.lit(4)).alias("h"))
    b = spark.range(40_000, 100_000).select(F.xxhash64("id", F.lit(4)).alias("h"))
    kmv.build_kmv(a, "h", cfg).createOrReplaceTempView("kmv_a")
    kmv.build_kmv(b, "h", cfg).createOrReplaceTempView("kmv_b")
    row = spark.sql(
        """
        SELECT kmv_estimate(a.state) ea,
               kmv_union(a.state, b.state) u,
               kmv_intersection(a.state, b.state) i,
               kmv_difference(a.state, b.state) d,
               kmv_jaccard(a.state, b.state) j
        FROM kmv_a a CROSS JOIN kmv_b b
        """
    ).collect()[0]
    tol = 4 * cfg.rel_error() * (100_000 / 20_000) ** 0.5
    assert abs(row["ea"] - 60_000) / 60_000 <= tol
    assert abs(row["u"] - 100_000) / 100_000 <= tol
    assert abs(row["i"] - 20_000) / 20_000 <= tol
    assert abs(row["d"] - 40_000) / 40_000 <= tol
    assert abs(row["j"] - 0.2) <= 0.2 * tol + 0.01


def test_pf_diagnostics(spark):
    n = 60_000
    cfg = pf.PrefixFilterConfig(n_capacity=n, num_shards=8, seed=12)
    keys = spark.range(n).select(F.col("id").alias("key"))
    shards = pf.build_prefix_filter(keys, "key", cfg).cache()
    diag = pf.shard_diagnostics(cfg, shards).toPandas()
    meta = shards.select("shard_id", "n_keys").toPandas()
    j = diag.merge(meta, on="shard_id")
    assert len(j) == 8
    # header recount + spare contents == builder's distinct-key count is
    # NOT exactly n_keys (evictions live in the spare), but L1 recount
    # must be <= n_keys and close at load .95
    assert (j["l1_capacity_recount"] <= j["n_keys"]).all()
    assert (j["l1_capacity_recount"] >= j["n_keys"] * 0.9).all()
    assert (j["mean_pd_load"] > 0.8).all()
    # at design load ~0.95 some PDs overflow, few are empty
    assert (j["overflowing_pds"] > 0).all()
    assert (j["empty_pds"] < j["num_pds"] * 0.05).all()


def test_sql_mg_heavy_hitters(spark):
    """MG over serialized state in plain SQL: lower-bound point lookups
    with the deterministic error available as a column."""
    from prefix_filter_spark.sketches import mg

    register_sketch_sql(spark)
    # token 'h' gets 25% of a 40k stream; tail spreads over 5k types
    df = spark.range(40_000).select(
        F.when(F.col("id") % 4 == 0, F.lit("h"))
        .otherwise(F.concat(F.lit("t"), (F.col("id") % 5_000).cast("string")))
        .alias("tok")
    )
    mg.build_mg(df, "tok", mg.MgConfig(k=64)).createOrReplaceTempView("mg_t")
    row = spark.sql(
        """SELECT mg_estimate(state, 'h') e, mg_estimate(state, 'absent') a,
                  mg_error(state) err, mg_total(state) n FROM mg_t"""
    ).collect()[0]
    assert row["n"] == 40_000
    assert row["err"] <= 40_000 / 65
    assert row["a"] == 0
    true_h = 10_000
    assert row["e"] <= true_h <= row["e"] + row["err"]


def test_probe_keys_local_zero_fn_and_fpr(spark):
    """Driver-side probe (no Spark jobs): members all true, absent
    keys at <= FPR bound — for both int and string key families."""
    import numpy as np
    from pyspark.sql import functions as F

    from prefix_filter_spark.functions import probe_keys_local
    from prefix_filter_spark.sketches import bloom

    cfg = bloom.BloomConfig(n_capacity=20_000, bits_per_key=12, num_shards=8, seed=11)
    keys_df = spark.range(20_000).select(F.col("id").alias("k"))
    handle = bloom.ShardedBloom.from_df(cfg, bloom.build_bloom(keys_df, "k", cfg))
    members = probe_keys_local(handle, list(range(0, 20_000, 97)))
    assert bool(members.all())
    absent = probe_keys_local(handle, list(range(10**9, 10**9 + 2000)))
    assert int(absent.sum()) <= 2000 * cfg.theoretical_fpr() * 4 + 8

    scfg = bloom.BloomConfig(n_capacity=1000, bits_per_key=12, num_shards=4, seed=3)
    sdf = spark.range(1000).selectExpr("concat('doc-', id) as k")
    sh = bloom.ShardedBloom.from_df(scfg, bloom.build_bloom(sdf, "k", scfg))
    got = probe_keys_local(sh, [f"doc-{i}" for i in range(0, 1000, 41)])
    assert bool(got.all())


def test_bf_state_contains_sql_over_file_index(spark, tmp_path):
    """The per-file index is plain-SQL queryable through the
    state-column UDF; SQL survivors == prune_files survivors."""
    import numpy as np
    from pyspark.sql import functions as F

    from prefix_filter_spark.functions import register_state_contains
    from prefix_filter_spark.sources import file_index as fidx

    path = str(tmp_path / "li_sql")
    (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .repartitionByRange(8, "l_orderkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    df = spark.read.parquet(path)
    cfg = fidx.FileIndexConfig(bits_per_key=12, expected_keys_per_file=4096)
    idx = fidx.build_file_index(df, "l_orderkey", cfg).cache()
    idx.createOrReplaceTempView("file_index_sql")
    register_state_contains(spark)

    key = int(df.select(F.min("l_orderkey")).first()[0])
    (h,) = fidx.hash_probe_keys(spark, [key], cfg.seed)
    sql_files = sorted(
        r["file"]
        for r in spark.sql(
            "SELECT file FROM file_index_sql "
            f"WHERE bf_state_contains(state, {np.int64(h)}L)"
        ).collect()
    )
    assert sql_files == fidx.prune_files(idx, np.array([h]), cfg)
    assert len(sql_files) >= 1
    idx.unpersist()


def test_cms_point_and_mg_estimate_null_and_large_keys(spark):
    """A bigint probe column with a NULL in the batch: the NULL key
    answers NULL, and keys past 2^53 are probed exactly (count-min
    never underestimates an inserted key; MG finds both tokens)."""
    from prefix_filter_spark.sketches import mg

    register_sketch_sql(spark)
    big = [2**60 + 1, 2**60 + 3]
    df = spark.createDataFrame([(k,) for k in big], "v bigint")
    cms.build_cms(df, "v", cms.CmsConfig(seed=5)).createOrReplaceTempView("cms_big")
    mg.build_mg(df, "v", mg.MgConfig(k=8)).createOrReplaceTempView("mg_big")
    rows = spark.sql(
        "SELECT p.k, cms_point(c.state, p.k) c, mg_estimate(m.state, p.k) m "
        f"FROM VALUES ({big[0]}L), (NULL), ({big[1]}L) AS p(k), cms_big c, mg_big m"
    ).collect()
    got = {r["k"]: (r["c"], r["m"]) for r in rows}
    assert got == {big[0]: (1, 1), None: (None, None), big[1]: (1, 1)}


def test_kll_and_kmv_sql_reject_each_others_state(spark):
    """KLL and KMV share magic and version; each SQL function raises on
    the other kind's state instead of answering."""
    import numpy as np
    import pytest

    register_sketch_sql(spark)
    df = spark.range(10_000).select(F.col("id").cast("double").alias("v"))
    kll.build_kll(df, "v", kll.KllConfig()).createOrReplaceTempView("kll_other")
    kmv.build_kmv(df, "v", kmv.KmvConfig()).createOrReplaceTempView("kmv_other")
    for query, msg in (
        ("SELECT kmv_estimate(state) FROM kll_other", "bad kmv state"),
        ("SELECT kll_quantile(state, 0.5) FROM kmv_other", "bad kll state"),
    ):
        with pytest.raises(Exception, match=msg):
            spark.sql(query).collect()
    # each kind's own state still answers
    assert spark.sql("SELECT kmv_estimate(state) FROM kmv_other").collect()[0][0] > 0
    q = spark.sql("SELECT kll_quantile(state, 0.5) FROM kll_other").collect()[0][0]
    assert np.isfinite(q)
