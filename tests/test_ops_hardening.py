"""Checkpoint/resume, salted skew aggregation, synthetic source,
streaming builds."""

from pyspark.sql import functions as F

from prefix_filter_spark.plans import checkpoint, salting
from prefix_filter_spark.sketches import bloom
from prefix_filter_spark.sources import synthetic


def _drain(q, timeout: float = 120) -> None:
    """Wait for a streaming query and fail unless it finished with no
    exception: a dead or stalled stream must not pass on a partial
    sink. A query still running at the timeout is stopped first."""
    finished = q.awaitTermination(timeout)
    if not finished:
        q.stop()
    assert finished, f"streaming query {q.name or q.id} did not finish in {timeout} s"
    assert q.exception() is None, q.exception()


def test_build_or_resume_full_cycle(spark, tmp_path):
    cfg = bloom.BloomConfig(n_capacity=20_000, bits_per_key=10, num_shards=8, seed=3)
    keys = spark.range(20_000).select(F.col("id").alias("key"))
    path = f"{tmp_path}/bloom_ckpt"

    built = checkpoint.build_or_resume(
        spark, keys, "key",
        seed=cfg.seed, num_shards=cfg.num_shards,
        build_fn=lambda df, k: bloom.build_bloom(df, k, cfg),
        checkpoint_path=path,
    )
    assert built.count() == 8
    states1 = {r["shard_id"]: bytes(r["state"]) for r in built.collect()}

    # resume with a complete checkpoint: nothing rebuilds, states identical
    again = checkpoint.build_or_resume(
        spark, keys, "key",
        seed=cfg.seed, num_shards=cfg.num_shards,
        build_fn=lambda df, k: (_ for _ in ()).throw(AssertionError("rebuilt!")),
        checkpoint_path=path,
    )
    states2 = {r["shard_id"]: bytes(r["state"]) for r in again.collect()}
    assert states1 == states2


def test_build_or_resume_partial(spark, tmp_path):
    """Simulate a crash that persisted only half the shards: resume
    rebuilds exactly the missing ones and the union equals a clean build."""
    cfg = bloom.BloomConfig(n_capacity=20_000, bits_per_key=10, num_shards=8, seed=4)
    keys = spark.range(20_000).select(F.col("id").alias("key"))
    full = bloom.build_bloom(keys, "key", cfg)
    full_states = {r["shard_id"]: bytes(r["state"]) for r in full.collect()}

    path = f"{tmp_path}/bloom_partial"
    kept = full.where(F.col("shard_id") < 4)
    checkpoint.save_shards(kept, path)

    resumed = checkpoint.build_or_resume(
        spark, keys, "key",
        seed=cfg.seed, num_shards=cfg.num_shards,
        build_fn=lambda df, k: bloom.build_bloom(df, k, cfg),
        checkpoint_path=path,
    )
    got = {r["shard_id"]: bytes(r["state"]) for r in resumed.collect()}
    assert got == full_states

    rep = checkpoint.lineage_report(resumed).toPandas()
    assert set(rep.columns) >= {"shard_id", "input_rows", "n_keys", "build_ns", "state_bytes"}
    assert len(rep) == 8


def test_salted_agg_matches_plain(spark):
    docs = synthetic.synthetic_documents(spark, 5_000, seed=7)
    plain = docs.groupBy("source").count().orderBy("source").toPandas()
    salted = (
        salting.salted_count(docs, ["source"], F.col("doc_id"), salt_buckets=16)
        .orderBy("source")
        .toPandas()
    )
    assert plain["source"].tolist() == salted["source"].tolist()
    assert plain["count"].tolist() == salted["n"].tolist()
    # the skew is real: 'web' holds ~half the corpus
    frac = plain.set_index("source")["count"]["web"] / plain["count"].sum()
    assert 0.4 < frac < 0.6


def test_synthetic_documents_deterministic_and_shaped(spark, tmp_path):
    a = synthetic.synthetic_documents(spark, 1_000, seed=42).toPandas()
    b = synthetic.synthetic_documents(spark, 1_000, seed=42).toPandas()
    assert a.equals(b)
    assert a["doc_id"].is_unique
    assert (a["n_tok"] == a["tokens"].map(len)).all()
    # token-array round-trip invariant (input_hint per-row invariant)
    docs = synthetic.synthetic_documents(spark, 500, seed=1)
    path = f"{tmp_path}/tokens_roundtrip"
    docs.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    rebuilt = (
        back.select("doc_id", F.posexplode("tokens").alias("pos", "token"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "token"))).alias("pt"))
        .select("doc_id", F.col("pt.token").alias("tokens"))
    )
    j = (
        back.alias("o")
        .join(rebuilt.alias("r"), "doc_id")
        .where(F.col("o.tokens") != F.col("r.tokens"))
        .count()
    )
    assert j == 0
    # heavy hitters exist (log-uniform tokens)
    tok = synthetic.exploded_token_stream(docs)
    top = tok.groupBy("token").count().orderBy(F.desc("count")).limit(1).collect()[0]
    assert top["count"] > tok.count() / 1000


def test_streaming_foreach_batch_equals_batch(spark, tmp_path):
    """Stream the key range in 4 micro-batch files; final merged state
    must equal the one-shot batch build (merge associativity live)."""
    from prefix_filter_spark.streaming.build import foreach_batch_build

    cfg = bloom.BloomConfig(n_capacity=20_000, bits_per_key=10, num_shards=4, seed=5)
    keys = spark.range(20_000).select(F.col("id").alias("key"))
    src_dir = f"{tmp_path}/stream_src"
    for i in range(4):
        # coalesce(1): exactly ONE file per slice -> exactly 4
        # micro-batches. Without it each write emits up to 32 part
        # files (128 batches), enough to outrun the drain timeout.
        keys.where(F.pmod("key", F.lit(4)) == i).coalesce(1).write.mode(
            "overwrite" if i == 0 else "append"
        ).parquet(src_dir)

    stream = (
        spark.readStream.schema("key long")
        .option("maxFilesPerTrigger", 1)  # force multi-batch: the merge path must run
        .parquet(src_dir)
    )
    q = foreach_batch_build(
        stream,
        "key",
        build_fn=lambda df, k: bloom.build_bloom(df, k, cfg),
        merge_fn=cfg,
        state_path=f"{tmp_path}/stream_state",
        checkpoint_dir=f"{tmp_path}/stream_ckpt",
    )
    _drain(q, 240)

    got = {
        r["shard_id"]: bytes(r["state"])
        for r in spark.read.parquet(f"{tmp_path}/stream_state").collect()
    }
    want = {
        r["shard_id"]: bytes(r["state"])
        for r in bloom.build_bloom(keys, "key", cfg).collect()
    }
    assert got == want


def test_streaming_stateful_hll(spark, tmp_path):
    from prefix_filter_spark.streaming.build import streaming_distinct_by_source

    docs = synthetic.synthetic_documents(spark, 2_000, seed=9)
    tok = synthetic.exploded_token_stream(docs).select(
        "source", F.col("token").cast("long").alias("token")
    )
    src_dir = f"{tmp_path}/stateful_src"
    tok.write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema("source string, token long").parquet(src_dir)
    out = streaming_distinct_by_source(stream, p=12, seed=42)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("hll_by_source")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{tmp_path}/stateful_ckpt")
        .start()
    )
    _drain(q)
    got = spark.sql(
        "SELECT source, max(n_distinct_est) est FROM hll_by_source GROUP BY source"
    ).toPandas()
    exact = tok.groupBy("source").agg(F.countDistinct("token").alias("d")).toPandas()
    m = got.merge(exact, on="source")
    assert len(m) == 5
    rel = (m["est"] - m["d"]).abs() / m["d"]
    assert (rel < 0.1).all(), m


def test_iceberg_adapter_fallback(spark):
    from prefix_filter_spark.sources import iceberg

    # parquet path fallback works
    df = iceberg.read_sequences(spark, "/root/testdata/sf0.001/documents.parquet")
    assert df.count() > 0
    # catalog identifier without the runtime -> clear, actionable error
    assert not iceberg.has_iceberg(spark)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        iceberg.read_sequences(spark, "pfs.db.sequences")


def test_windowed_streaming_with_watermark(spark, tmp_path):
    """Watermarked tumbling-window agg: streaming (append mode) result
    equals the same plan run in batch over the same input."""
    from prefix_filter_spark.streaming.windowed import windowed_event_stats

    events = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    src_dir = f"{tmp_path}/win_src"
    events.write.mode("overwrite").parquet(src_dir)
    schema = events.schema
    stream = spark.readStream.schema(schema).parquet(src_dir)
    out = windowed_event_stats(stream, window="1 hour", watermark="30 minutes")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_stats")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{tmp_path}/win_ckpt")
        .start()
    )
    _drain(q)
    got = spark.sql(
        "SELECT * FROM win_stats ORDER BY window_start, event_type"
    ).toPandas()
    batch = (
        windowed_event_stats(events, window="1 hour")
        .orderBy("window_start", "event_type")
        .toPandas()
    )
    # append mode withholds windows the watermark hasn't passed: the
    # emitted set is a prefix of the batch result and exact on overlap
    assert len(got) > 0
    merged = got.merge(
        batch, on=["window_start", "event_type"], suffixes=("_s", "_b")
    )
    assert len(merged) == len(got)
    assert (merged["n_s"] == merged["n_b"]).all()
    assert (merged["sum_value_s"] == merged["sum_value_b"]).all()


def test_streaming_prefix_filter_build(spark, tmp_path):
    """PF through the streaming path: merge_fn is the config, whose
    family merge receives the shard id (the spare re-keys on global PD
    index) — final state must equal the batch build bit-for-bit."""
    from prefix_filter_spark.sketches import prefix_filter as pfm
    from prefix_filter_spark.streaming.build import foreach_batch_build

    cfg = pfm.PrefixFilterConfig(n_capacity=30_000, num_shards=4, seed=6)
    keys = spark.range(30_000).select(F.col("id").alias("key"))
    src_dir = f"{tmp_path}/pf_stream_src"
    for i in range(3):
        keys.where(F.pmod("key", F.lit(3)) == i).write.mode(
            "overwrite" if i == 0 else "append"
        ).parquet(src_dir)
    stream = (
        spark.readStream.schema("key long")
        .option("maxFilesPerTrigger", 1)  # multi-batch: exercise the shard-aware merge
        .parquet(src_dir)
    )
    q = foreach_batch_build(
        stream,
        "key",
        build_fn=lambda df, k: pfm.build_prefix_filter(df, k, cfg),
        merge_fn=cfg,
        state_path=f"{tmp_path}/pf_stream_state",
        checkpoint_dir=f"{tmp_path}/pf_stream_ckpt",
    )
    _drain(q)
    got = {
        r["shard_id"]: bytes(r["state"])
        for r in spark.read.parquet(f"{tmp_path}/pf_stream_state").collect()
    }
    want = {
        r["shard_id"]: bytes(r["state"])
        for r in pfm.build_prefix_filter(keys, "key", cfg).collect()
    }
    assert got == want


def test_sketch_by_group_salted(spark):
    """Per-source HLL with salted fan-out == unsalted accuracy; the hot
    'web' source fans out over 16 partials."""
    from prefix_filter_spark.operators.per_group import sketch_by_group
    from prefix_filter_spark.sketches import hll

    docs = synthetic.synthetic_documents(spark, 4_000, seed=3)
    tok = synthetic.exploded_token_stream(docs)
    cfg = hll.HllConfig(p=13, seed=42)
    out = sketch_by_group(
        tok, "source", F.col("token").cast("long"), cfg,
        salt_on="doc_id", salt_buckets=16,
    ).toPandas()
    exact = tok.groupBy("source").agg(
        F.countDistinct("token").alias("d"), F.count("*").alias("n")
    ).toPandas()
    m = out.merge(exact, left_on="group", right_on="source")
    assert len(m) == 5
    assert (m["n_rows"] == m["n"]).all()  # lineage: every row accounted for
    rel = (m["state"].map(hll.estimate) - m["d"]).abs() / m["d"]
    assert (rel < 0.06).all(), m[["group", "d"]]
    # the hot source actually fanned out (skew-safety is real, not nominal)
    web = out[out["group"] == "web"].iloc[0]
    assert web["n_partials"] == 16


def test_streaming_foreach_batch_cuckoo(spark, tmp_path):
    """Streamed cuckoo accumulation == one-shot batch build bit-for-bit
    (deterministic rebuild merge through the config's family record)."""
    from prefix_filter_spark.sketches import cuckoo as ck
    from prefix_filter_spark.streaming.build import foreach_batch_build

    cfg = ck.CuckooConfig(n_capacity=20_000, num_shards=4, seed=6)
    keys = spark.range(20_000).select(F.col("id").alias("key"))
    src_dir = f"{tmp_path}/ck_stream_src"
    for i in range(3):
        keys.where(F.pmod("key", F.lit(3)) == i).write.mode(
            "overwrite" if i == 0 else "append"
        ).parquet(src_dir)

    stream = (
        spark.readStream.schema("key long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = foreach_batch_build(
        stream,
        "key",
        build_fn=lambda df, k: ck.build_cuckoo(df, k, cfg),
        merge_fn=cfg,
        state_path=f"{tmp_path}/ck_stream_state",
        checkpoint_dir=f"{tmp_path}/ck_stream_ckpt",
    )
    _drain(q)

    got = {
        r["shard_id"]: bytes(r["state"])
        for r in spark.read.parquet(f"{tmp_path}/ck_stream_state").collect()
    }
    want = {
        r["shard_id"]: bytes(r["state"])
        for r in ck.build_cuckoo(keys, "key", cfg).collect()
    }
    assert got == want


def test_streaming_epoch_replay_is_skipped(spark, tmp_path):
    """foreachBatch is at-least-once: a replayed epoch (marker says it
    was applied) must be a no-op, while a FRESH checkpoint over the same
    state store (epoch ids restart at 0) must still apply batches."""
    import json

    from prefix_filter_spark.streaming.build import foreach_batch_build

    cfg = bloom.BloomConfig(n_capacity=10_000, bits_per_key=10, num_shards=4, seed=9)
    keys = spark.range(10_000).select(F.col("id").alias("key"))
    src = f"{tmp_path}/replay_src"
    keys.write.mode("overwrite").parquet(src)
    state = f"{tmp_path}/replay_state"

    def run(ckpt):
        stream = spark.readStream.schema("key long").parquet(src)
        q = foreach_batch_build(
            stream,
            "key",
            build_fn=lambda df, k: bloom.build_bloom(df, k, cfg),
            merge_fn=cfg,
            state_path=state,
            checkpoint_dir=ckpt,
        )
        _drain(q)

    # claim epoch 999 was already applied under checkpoint A -> the
    # stream's epoch 0 must be skipped and NO state written
    with open(state + ".last_epoch", "w") as f:
        json.dump({"checkpoint": f"{tmp_path}/replay_ckpt_a", "epoch": 999}, f)
    run(f"{tmp_path}/replay_ckpt_a")
    import os

    assert not os.path.exists(state), "replayed epoch was applied"

    # a FRESH checkpoint (different dir) restarts epochs at 0 and must
    # NOT be mistaken for a replay — state gets built
    run(f"{tmp_path}/replay_ckpt_b")
    got = spark.read.parquet(state)
    assert got.count() == cfg.num_shards


def test_streaming_epoch_marker_atomic_and_recovers(spark, tmp_path):
    """The epoch marker lives INSIDE the promoted state directory
    (committed by the same rename as the state), and an interrupted
    promote (state renamed away, new state never renamed in) recovers
    the previous state+marker on the next run."""
    import json
    import os

    from prefix_filter_spark.streaming.build import foreach_batch_build

    cfg = bloom.BloomConfig(n_capacity=10_000, bits_per_key=10, num_shards=4, seed=11)
    src = f"{tmp_path}/atomic_src"
    spark.range(10_000).select(F.col("id").alias("key")).write.mode(
        "overwrite"
    ).parquet(src)
    state = f"{tmp_path}/atomic_state"

    def run(ckpt):
        stream = spark.readStream.schema("key long").parquet(src)
        q = foreach_batch_build(
            stream,
            "key",
            build_fn=lambda df, k: bloom.build_bloom(df, k, cfg),
            merge_fn=cfg,
            state_path=state,
            checkpoint_dir=ckpt,
        )
        _drain(q)

    run(f"{tmp_path}/atomic_ckpt_a")
    marker_path = os.path.join(state, "_epoch.json")
    assert os.path.exists(marker_path), "marker must ride inside the state dir"
    with open(marker_path) as f:
        marker = json.load(f)
    assert marker["checkpoint"] == f"{tmp_path}/atomic_ckpt_a"
    assert not os.path.exists(state + ".last_epoch"), "no side-file marker"
    before = {
        (r["shard_id"]): bytes(r["state"])
        for r in spark.read.parquet(state).collect()
    }

    # simulate a crash mid-promote: state renamed to .old, no new state
    os.rename(state, state + ".old")
    # a fresh-checkpoint run must first RECOVER the old state, see its
    # marker (different checkpoint -> not a replay), and re-apply
    run(f"{tmp_path}/atomic_ckpt_b")
    assert os.path.isdir(state) and not os.path.isdir(state + ".old")
    after = {
        (r["shard_id"]): bytes(r["state"])
        for r in spark.read.parquet(state).collect()
    }
    # same keys merged in twice through OR-merge filters: bit-identical
    assert before == after


def test_streaming_stateful_mg_heavy_hitters(spark, tmp_path):
    """MG state through applyInPandasWithState across multiple
    micro-batches: bounded state, running deterministic bound, and the
    planted per-source hot token leads the final batch output."""
    from prefix_filter_spark.sketches import mg
    from prefix_filter_spark.streaming.build import streaming_heavy_hitters_by_source

    n = 30_000
    tok = spark.range(n).select(
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("source"),
        F.when(
            F.col("id") % 4 == 0,
            F.concat(F.lit("HOT_s"), (F.col("id") % 3).cast("string")),
        )
        .otherwise(F.concat(F.lit("t"), (F.col("id") % 1_500).cast("string")))
        .alias("token"),
        F.pmod(F.col("id"), F.lit(3)).alias("b"),
    )
    src_dir = f"{tmp_path}/mg_src"
    for i in range(3):  # three files -> three micro-batches
        tok.where(F.col("b") == i).drop("b").write.mode(
            "overwrite" if i == 0 else "append"
        ).parquet(src_dir)
    stream = (
        spark.readStream.schema("source string, token string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    out = streaming_heavy_hitters_by_source(stream, k=48)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("mg_by_source")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{tmp_path}/mg_ckpt")
        .start()
    )
    _drain(q)
    final = spark.sql(
        """SELECT source, n_total, err, top_token, top_est FROM (
             SELECT *, row_number() OVER (PARTITION BY source ORDER BY n_total DESC) rn
             FROM mg_by_source) WHERE rn = 1"""
    ).toPandas()
    assert len(final) == 3
    for _, r in final.iterrows():
        assert r["n_total"] == n // 3
        assert r["err"] <= r["n_total"] / (48 + 1)
        assert r["top_token"] == f"HOT_{r['source']}"
        true_hot = n // 12
        assert r["top_est"] <= true_hot <= r["top_est"] + r["err"]


def test_streaming_stateful_kll_quantiles(spark, tmp_path):
    """KLL state through applyInPandasWithState across three
    micro-batches: bounded state, and the final running quantiles are
    within the sketch's rank-eps of the exact per-source quantiles over
    everything streamed so far."""
    import numpy as np

    from prefix_filter_spark.streaming.build import streaming_quantiles_by_source

    n = 30_000
    vals = spark.range(n).select(
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("source"),
        (F.xxhash64("id", F.lit(7)) % 100_000).cast("double").alias("value"),
        F.pmod(F.col("id"), F.lit(3)).alias("b"),
    )
    src_dir = f"{tmp_path}/kll_src"
    for i in range(3):
        vals.where(F.col("b") == i).drop("b").write.mode(
            "overwrite" if i == 0 else "append"
        ).parquet(src_dir)
    stream = (
        spark.readStream.schema("source string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    out = streaming_quantiles_by_source(stream, k=200)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("kll_by_source")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{tmp_path}/kll_ckpt")
        .start()
    )
    _drain(q)
    final = spark.sql(
        """SELECT * FROM (
             SELECT *, row_number() OVER (PARTITION BY source
                                          ORDER BY n_rows_total DESC) rn
             FROM kll_by_source) WHERE rn = 1"""
    ).toPandas()
    assert len(final) == 3
    exact = vals.drop("b").toPandas()
    for _, r in final.iterrows():
        assert r["n_rows_total"] == n // 3
        g = np.sort(exact[exact["source"] == r["source"]]["value"].to_numpy())
        eps = r["rank_eps"] * 1.5 + 1e-9  # sampling margin, same as gates
        for qq, col in [(0.5, "q50"), (0.95, "q95"), (0.99, "q99")]:
            # rank error: the estimate's true rank is within eps of q
            rank = np.searchsorted(g, r[col], side="right") / len(g)
            assert abs(rank - qq) <= eps, (r["source"], col, rank, qq)


def test_streaming_dds_quantiles_bit_equals_batch(spark, tmp_path):
    """DDS streaming twin: after any trigger chopping the running
    per-source state is BIT-IDENTICAL to a batch build over the same
    rows (exact integer counts), and every estimate is within alpha of
    the true discrete quantile."""
    from prefix_filter_spark.sketches import dds
    from prefix_filter_spark.streaming.build import (
        streaming_dds_quantiles_by_source,
    )

    n = 12_000
    vals = spark.range(n).select(
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("source"),
        (F.pmod(F.xxhash64("id", F.lit(9)), F.lit(99_991)) + 1)
        .cast("double")
        .alias("value"),
        F.pmod(F.col("id"), F.lit(4)).alias("b"),
    )
    src_dir = f"{tmp_path}/dds_src"
    for i in range(4):
        vals.where(F.col("b") == i).drop("b").write.mode(
            "overwrite" if i == 0 else "append"
        ).parquet(src_dir)
    stream = (
        spark.readStream.schema("source string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    out = streaming_dds_quantiles_by_source(stream, alpha=0.01)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("dds_by_source")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"{tmp_path}/dds_ckpt")
        .start()
    )
    _drain(q)
    import numpy as np

    final = spark.sql(
        """SELECT * FROM (
             SELECT *, row_number() OVER (PARTITION BY source
                                          ORDER BY n_rows_total DESC) rn
             FROM dds_by_source) WHERE rn = 1"""
    ).toPandas()
    assert len(final) == 3
    exact = vals.drop("b").toPandas()
    for _, r in final.iterrows():
        assert r["n_rows_total"] == n // 3
        g = np.sort(exact[exact["source"] == r["source"]]["value"].to_numpy())
        for qq, col in [(0.5, "q50"), (0.95, "q95"), (0.99, "q99")]:
            x = g[int(qq * (len(g) - 1))]
            assert abs(r[col] - x) <= 0.0101 * abs(x), (r["source"], col)
        # bit-identity: rebuild the same source's sketch in one batch
        # pass and compare quantile VECTORS exactly (the stream's state
        # is a pure function of the row multiset)
        sk = dds.DDSketch(dds.DDSketchConfig(alpha=0.01))
        sk.update(exact[exact["source"] == r["source"]]["value"].to_numpy())
        est = sk.quantiles([0.5, 0.95, 0.99])
        assert [r["q50"], r["q95"], r["q99"]] == [float(v) for v in est]
