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
    """Each SQL function of KLL and KMV (which once shared a magic)
    raises on the other kind's state instead of answering."""
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


def test_bf_state_contains_null_hash_in_batch_keeps_members(spark):
    """A NULL hash in the same probe batch as member hashes answers
    NULL and every member is still found, the hashes past 2^53
    included (the bigint column must not pass through float64); a NULL
    state answers NULL."""
    import numpy as np

    from prefix_filter_spark.functions import register_state_contains
    from prefix_filter_spark.hashing import as_u64
    from prefix_filter_spark.sketches import bloom

    hashes = np.random.default_rng(3).integers(-(2**63), 2**63 - 1, 1_000, dtype=np.int64)
    hashes[0] = 2**60 + 1
    cfg = bloom.BloomConfig(n_capacity=1_000, bits_per_key=12, num_shards=1, seed=7)
    state = bloom.build_state(cfg, 0, as_u64(hashes))
    spark.createDataFrame([(state,)], "state binary").createOrReplaceTempView("bf_one")
    register_state_contains(spark)

    probe = ", ".join(f"({int(h)}L)" for h in hashes[:200]) + ", (NULL)"
    rows = spark.sql(
        f"SELECT p.h, bf_state_contains(b.state, p.h) c FROM VALUES {probe} AS p(h), bf_one b"
    ).collect()
    got = {r["h"]: r["c"] for r in rows}
    assert len(got) == 201
    assert got.pop(None) is None
    assert sorted(h for h, c in got.items() if c is not True) == []
    assert spark.sql("SELECT bf_state_contains(CAST(NULL AS BINARY), 5L)").first()[0] is None


def test_kll_ranks_equal_the_per_value_loop():
    """``KllSketch.ranks`` answers exactly as one ``rank`` walk per
    value did, NaN on an empty sketch."""
    import numpy as np

    def rank_loop(sk, value):
        items, weights = sk._weighted_items()
        if len(items) == 0:
            return float("nan")
        cw = np.cumsum(weights)
        idx = int(np.searchsorted(items, value, side="right"))
        return float(cw[idx - 1] / cw[-1]) if idx > 0 else 0.0

    rng = np.random.default_rng(5)
    sk = kll.KllSketch(kll.KllConfig(k=64, seed=5))
    sk.update(rng.normal(size=20_000))
    values = np.concatenate([rng.normal(size=500), [-np.inf, np.inf, np.nan, 0.0]])
    values = np.concatenate([values, sk._weighted_items()[0][:50]])  # exact ties
    want = np.array([rank_loop(sk, v) for v in values])
    assert np.array_equal(sk.ranks(values), want, equal_nan=True)
    assert sk.rank(values[0]) == want[0]

    empty = kll.KllSketch(kll.KllConfig())
    assert np.isnan(empty.ranks([0.0, 1.0])).all()
    assert np.isnan(empty.rank(0.0))
    state = sk.to_bytes()
    lo, hi = -0.5, 0.5
    old = max(0.0, rank_loop(sk, hi) - rank_loop(sk, float(np.nextafter(lo, -np.inf))))
    assert kll.range_fraction(state, lo, hi) == old


# -- the SQL surface matrix -------------------------------------------------
# Every registered name over one coalesced batch: two distinct states, a
# NULL state, a NULL argument and a bigint argument past 2^53, each cell
# equal (floats bit-equal) to the module function called in Python; and
# over an empty batch.

_BIG = 2**60 + 1


def _matrix_states():
    import numpy as np

    from prefix_filter_spark.hashing import as_u64
    from prefix_filter_spark.sketches import bloom, dds, mg

    rng = np.random.default_rng(12)
    ints = (
        np.concatenate([np.full(100, _BIG), rng.integers(0, 1_000, 2_000)]),
        np.concatenate([np.full(100, _BIG + 2), rng.integers(500, 3_000, 3_000)]),
    )
    floats = (rng.lognormal(size=5_000), rng.lognormal(1.0, 2.0, size=3_000))

    def states(cfg, values):
        out = []
        for v in values:
            acc = cfg.family.accumulator(cfg)
            acc.update(v)
            out.append(acc.to_bytes())
        return tuple(out)

    bcfg = bloom.BloomConfig(n_capacity=3_100, bits_per_key=12, num_shards=1, seed=7)
    return {
        "hll": states(hll.HllConfig(p=10, seed=3), ints),
        "cms": states(cms.CmsConfig(width=512, depth=4, seed=3), ints),
        "kll": states(kll.KllConfig(k=64, seed=3), floats),
        "tdigest": states(tdigest.TDigestConfig(delta=50), floats),
        "dds": states(dds.DDSketchConfig(), floats),
        "mg": states(mg.MgConfig(k=16), ints),
        "kmv": states(kmv.KmvConfig(k=256, seed=3), ints),
        "bloom": tuple(bloom.build_state(bcfg, 0, as_u64(v)) for v in ints),
    }


def _matrix_specs():
    """name -> (state kind, argument SQL type or None, three argument
    values, the answer for one row computed in Python)."""
    import numpy as np

    from prefix_filter_spark.sketches import bloom, dds, mg

    keys = [_BIG, 17, _BIG + 2]
    qs = [0.5, 0.01, 0.99]

    def quantile(cls):
        return lambda s, q: float(cls.from_bytes(s).quantiles([q])[0])

    pair = {
        f"kmv_{op}": ("kmv", "binary", None, getattr(kmv, f"{op}_estimate"))
        for op in ("union", "intersection", "difference", "jaccard")
    }
    return {
        "hll_estimate": ("hll", None, None, hll.estimate),
        "kmv_estimate": ("kmv", None, None, kmv.estimate),
        "mg_total": ("mg", None, None, lambda s: mg.estimates(s)[0]),
        "mg_error": ("mg", None, None, lambda s: mg.estimates(s)[1]),
        "cms_point": (
            "cms", "bigint", keys, lambda s, k: int(cms.point_estimates(s, np.array([k]))[0])
        ),
        "mg_estimate": (
            "mg", "bigint", keys, lambda s, k: int(mg.lookup(mg.estimates(s)[2], np.array([k]))[0])
        ),
        "kll_rank": (
            "kll", "bigint", [2, 0, _BIG], lambda s, v: kll.KllSketch.from_bytes(s).rank(float(v))
        ),
        "kll_quantile": ("kll", "double", qs, quantile(kll.KllSketch)),
        "tdigest_quantile": ("tdigest", "double", qs, quantile(tdigest.TDigest)),
        "dds_quantile": ("dds", "double", qs, quantile(dds.DDSketch)),
        "bf_state_contains": (
            "bloom", "bigint", keys,
            lambda s, h: bool(bloom.contains_h_in_state(s, np.array([h]))[0]),
        ),
        **pair,
    }


def _same(got, want) -> bool:
    import struct

    if isinstance(want, float):
        return isinstance(got, float) and struct.pack("<d", got) == struct.pack("<d", want)
    return type(got) is type(want) and got == want


def test_sql_surface_matrix(spark):
    import pyarrow as pa

    from prefix_filter_spark import functions

    register_sketch_sql(spark)
    udfs = {name: functions._state_udf(*row) for name, row in functions._sketch_sql_table().items()}
    udfs["bf_state_contains"] = functions.register_state_contains(spark)
    arrow = {
        "binary": pa.binary(), "bigint": pa.int64(), "double": pa.float64(), "boolean": pa.bool_()
    }
    states = _matrix_states()
    specs = _matrix_specs()
    assert set(specs) == set(udfs)
    for name, (kind, arg_type, args, fn) in specs.items():
        a, b = states[kind]
        if arg_type == "binary":
            args = [b, a, b]
        x = args or [None] * 3
        # two states, NULL state, NULL argument, big argument, first state again
        rows = [(a, x[0]), (b, x[1]), (None, x[0]), (a, None), (b, x[2]), (a, x[1])]
        df = spark.createDataFrame(
            [(i, s, v) for i, (s, v) in enumerate(rows)],
            f"i int, s binary, x {arg_type or 'int'}",
        ).coalesce(1)
        call = f"{name}(s, x)" if arg_type else f"{name}(s)"
        got = dict(df.selectExpr("i", f"{call} r").collect())
        for i, (s, v) in enumerate(rows):
            if s is None or (arg_type and v is None):
                assert got[i] is None, (name, i, got[i])
            else:
                want = fn(s, v) if arg_type else fn(s)
                assert _same(got[i], want), (name, i, got[i], want)

        # an empty batch: no rows through SQL, and straight into the
        # kernel (Spark need not call a UDF on an empty partition)
        assert df.where("i < 0").selectExpr(call).collect() == []
        empty_args = [pa.array([], arrow[arg_type])] if arg_type else []
        out = udfs[name].func(pa.array([], pa.binary()), *empty_args)
        assert len(out) == 0 and out.type == arrow[udfs[name].returnType.simpleString()]
