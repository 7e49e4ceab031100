"""Round-5 VERDICT items 6+7: the snapshot-manifest table layout
(sources/iceberg.py) and the composed Z-order + membership skipping
read (sources/skipping.py)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from prefix_filter_spark.sources import iceberg as ice
from prefix_filter_spark.sources.file_index import (
    FileIndexConfig,
    _decode_file_uri,
    build_file_index,
)
from prefix_filter_spark.sources.skipping import (
    file_minmax_stats,
    range_prune,
    skip_ratios,
    skipping_read,
)

from conftest import SF_DIR


# ---------------------------------------------------------------- iceberg


@pytest.fixture()
def li(spark):
    return spark.read.parquet(f"{SF_DIR}/lineitem.parquet")


def test_snapshot_write_read_roundtrip(spark, li, tmp_path):
    tbl = str(tmp_path / "tbl")
    s1 = ice.write_table(li.limit(500), tbl, mode="overwrite")
    s2 = ice.write_table(
        li.limit(800).withColumn("l_orderkey", F.col("l_orderkey") + 10**9), tbl
    )
    assert (s1, s2) == (1, 2)
    assert ice.read_table(spark, tbl).count() == 1300
    # time travel: snapshot 1 unaffected by the append
    assert ice.read_table(spark, tbl, snapshot_id=1).count() == 500
    # manifest is the planner: file lists per snapshot delta
    assert len(ice.table_files(tbl, after_snapshot=1)) == len(
        ice.load_manifest(tbl)[-1]["files"]
    )


def test_overwrite_keeps_ids_monotone(spark, li, tmp_path):
    tbl = str(tmp_path / "tbl")
    ice.write_table(li.limit(10), tbl, mode="overwrite")
    ice.write_table(li.limit(10), tbl)
    s3 = ice.write_table(li.limit(10), tbl, mode="overwrite")
    assert s3 == 3  # new history, ids never reused
    assert ice.read_table(spark, tbl).count() == 10


def test_partitioned_snapshot_write(spark, li, tmp_path):
    tbl = str(tmp_path / "tblp")
    ice.write_table(
        li.limit(400).withColumn("bucket", F.pmod("l_orderkey", F.lit(4))),
        tbl,
        mode="overwrite",
        partition_by=["bucket"],
    )
    got = ice.read_table(spark, tbl)
    assert got.count() == 400 and "bucket" in got.columns


def test_snapshot_aware_index_update(spark, li, tmp_path):
    """The r4 verdict gate: write -> snapshot append -> incremental
    index update touches ONLY the new snapshot's files (manifest
    delta, not listing), is idempotent, and pruned reads stay
    zero-FN over the whole table."""
    tbl = str(tmp_path / "tbl")
    idx_path = str(tmp_path / "idx")
    cfg = FileIndexConfig(bits_per_key=12, expected_keys_per_file=4096)
    ice.write_table(
        li.limit(2000).repartition(4), tbl, mode="overwrite"
    )
    assert ice.update_table_index(spark, tbl, idx_path, "l_orderkey", cfg) == 4
    assert ice.update_table_index(spark, tbl, idx_path, "l_orderkey", cfg) == 0
    ice.write_table(
        li.limit(300)
        .withColumn("l_orderkey", F.col("l_orderkey") + 10**9)
        .repartition(2),
        tbl,
    )
    # exactly the 2 new files get indexed
    assert ice.update_table_index(spark, tbl, idx_path, "l_orderkey", cfg) == 2
    assert ice.update_table_index(spark, tbl, idx_path, "l_orderkey", cfg) == 0
    idx = spark.read.parquet(idx_path)
    assert idx.count() == 6
    # a new-snapshot key is findable through the updated index
    from prefix_filter_spark.sources.file_index import pruned_read

    key = int(
        ice.read_table(spark, tbl)
        .where(F.col("l_orderkey") >= 10**9)
        .agg(F.min("l_orderkey"))
        .first()[0]
    )
    assert pruned_read(spark, idx, "l_orderkey", [key], cfg).count() > 0


def _index_files(spark, idx_path):
    return [r["file"] for r in spark.read.parquet(idx_path).select("file").collect()]


def test_index_update_replay_after_rows_landed(spark, li, tmp_path):
    """A crash after the states of a snapshot landed but before the
    update returned: the replay finds those rows and writes none twice."""
    tbl = str(tmp_path / "tbl")
    idx_path = str(tmp_path / "idx")
    cfg = FileIndexConfig(bits_per_key=12, expected_keys_per_file=4096)
    ice.write_table(li.limit(600).repartition(2), tbl, mode="overwrite")
    assert ice.update_table_index(spark, tbl, idx_path, "l_orderkey", cfg) == 2
    ice.write_table(li.limit(300).repartition(2), tbl)
    new_files = [_decode_file_uri(f) for f in ice.load_manifest(tbl)[-1]["files"]]
    build_file_index(
        spark.read.option("basePath", tbl + "/data").parquet(*new_files),
        "l_orderkey",
        cfg,
    ).write.mode("append").parquet(idx_path)
    assert ice.update_table_index(spark, tbl, idx_path, "l_orderkey", cfg) == 0
    files = _index_files(spark, idx_path)
    assert len(files) == len(set(files)) == 4


def test_index_update_after_overwrite_with_empty_df(spark, li, tmp_path):
    """An overwrite with no rows supersedes every indexed file: no stale
    index row may survive it."""
    tbl = str(tmp_path / "tbl")
    idx_path = str(tmp_path / "idx")
    cfg = FileIndexConfig(bits_per_key=12, expected_keys_per_file=4096)
    ice.write_table(li.limit(600).repartition(4), tbl, mode="overwrite")
    ice.write_table(li.limit(300).repartition(2), tbl)
    assert ice.update_table_index(spark, tbl, idx_path, "l_orderkey", cfg) == 6
    ice.write_table(li.limit(0), tbl, mode="overwrite")
    assert ice.update_table_index(spark, tbl, idx_path, "l_orderkey", cfg) == 0
    assert _index_files(spark, idx_path) == []


def test_index_update_skips_empty_snapshot(spark, li, tmp_path):
    """A 0-row data file never gets an index row, so it must not be
    rescanned on every later update: the second update starts no job."""
    tbl = str(tmp_path / "tbl")
    idx_path = str(tmp_path / "idx")
    cfg = FileIndexConfig(bits_per_key=12, expected_keys_per_file=4096)
    ice.write_table(li.limit(300).repartition(2), tbl, mode="overwrite")
    assert ice.update_table_index(spark, tbl, idx_path, "l_orderkey", cfg) == 2
    ice.write_table(li.limit(0), tbl)
    assert ice.update_table_index(spark, tbl, idx_path, "l_orderkey", cfg) == 0
    sc = spark.sparkContext
    sc.setJobGroup("empty-snapshot-update", "second update")
    try:
        assert ice.update_table_index(spark, tbl, idx_path, "l_orderkey", cfg) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("empty-snapshot-update") == []
    assert len(_index_files(spark, idx_path)) == 2


# ---------------------------------------------------------------- skipping


N_FILES = 32


@pytest.fixture(scope="module")
def zlayout(spark, tmp_path_factory):
    """lineitem z-ordered on (l_orderkey, l_partkey), 16 files."""
    from prefix_filter_spark.sources.zorder import zorder_layout

    path = str(tmp_path_factory.mktemp("zskip") / "li_z")
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    zorder_layout(df, ["l_orderkey", "l_partkey"], N_FILES).write.mode(
        "overwrite"
    ).parquet(path)
    return path


@pytest.fixture(scope="module")
def zidx(spark, zlayout):
    cfg = FileIndexConfig(bits_per_key=14, expected_keys_per_file=4096)
    idx = build_file_index(
        spark.read.parquet(zlayout), "l_orderkey", cfg
    ).cache()
    idx.count()
    return idx, cfg


@pytest.fixture(scope="module")
def zstats(spark, zlayout):
    st = file_minmax_stats(
        spark, zlayout, ["l_orderkey", "l_partkey"]
    ).cache()
    st.count()
    return st


def test_stats_cover_every_file_and_are_exact(spark, zlayout, zstats):
    df = spark.read.parquet(zlayout)
    got = {
        (r["file"], r["col"]): (r["vmin"], r["vmax"])
        for r in zstats.collect()
    }
    assert len(got) == N_FILES * 2
    # spot-check one file against a real scan
    f, col = next(iter(got))
    want = (
        spark.read.parquet(f.replace("file:", ""))
        .agg(F.min(col), F.max(col))
        .first()
    )
    assert got[(f, col)] == (float(want[0]), float(want[1]))


def test_range_prune_conservative(spark, zlayout, zstats):
    df = spark.read.parquet(zlayout)
    lo, hi = 100, 500
    alive = range_prune(zstats, {"l_partkey": (lo, hi)})
    # every file holding a matching row survives
    from pyspark.sql.functions import input_file_name

    holding = {
        r[0]
        for r in df.where(F.col("l_partkey").between(lo, hi))
        .select(input_file_name())
        .distinct()
        .collect()
    }
    assert holding <= set(alive)


def test_combined_skipping_read_equals_full_scan(spark, zlayout, zidx, zstats):
    """The r4 verdict gate: mixed point+range predicate over a
    z-ordered + indexed layout — combined skip ratio >= either pruner
    alone (and >= 0.5 on this layout), result identical to the full
    scan filter."""
    idx, cfg = zidx
    df = spark.read.parquet(zlayout)
    some = df.select("l_orderkey", "l_partkey").limit(1).collect()
    keys = [int(some[0]["l_orderkey"])]
    pk = int(some[0]["l_partkey"])
    ranges = {"l_partkey": (pk - 25, pk + 25)}

    got = skipping_read(
        spark,
        zlayout,
        "l_orderkey",
        keys,
        ranges,
        index_df=idx,
        stats_df=zstats,
        cfg=cfg,
    )
    want = df.where(
        F.col("l_orderkey").isin(keys)
        & F.col("l_partkey").between(*ranges["l_partkey"])
    )
    a = sorted(map(tuple, got.collect()))
    b = sorted(map(tuple, want.collect()))
    assert a == b

    r = skip_ratios(
        spark, zlayout, "l_orderkey", keys, ranges, idx, zstats, cfg
    )
    assert r["n_files"] == N_FILES
    assert r["combined"] >= max(r["point_only"], r["range_only"])
    assert r["combined"] >= 0.9


def test_skipping_read_empty_when_all_pruned(spark, zlayout, zidx, zstats):
    idx, cfg = zidx
    got = skipping_read(
        spark,
        zlayout,
        "l_orderkey",
        [10**15],  # absent key
        {"l_partkey": (-(10**9), 10**9)},
        index_df=idx,
        stats_df=zstats,
        cfg=cfg,
    )
    assert got.count() == 0
    assert got.schema == spark.read.parquet(zlayout).schema
    # planned on the JVM: no Python-RDD scan of a local list
    assert "ExistingRDD" not in got._jdf.queryExecution().executedPlan().toString()


def test_compact_table_replace_snapshot(spark, li, tmp_path):
    """Compaction rewrites the content as one 'replace' snapshot:
    fewer files, identical rows, prior snapshots still time-travelable."""
    tbl = str(tmp_path / "tbl")
    ice.write_table(li.limit(900).repartition(6), tbl, mode="overwrite")
    ice.write_table(
        li.limit(300)
        .withColumn("l_orderkey", F.col("l_orderkey") + 10**9)
        .repartition(3),
        tbl,
    )
    before = ice.read_table(spark, tbl)
    rows_before = sorted(r["l_orderkey"] for r in before.select("l_orderkey").collect())
    assert len(ice.content_files(tbl)) == 9
    s3 = ice.compact_table(spark, tbl, num_files=2)
    assert s3 == 3
    assert len(ice.content_files(tbl)) == 2
    after = sorted(
        r["l_orderkey"]
        for r in ice.read_table(spark, tbl).select("l_orderkey").collect()
    )
    assert after == rows_before
    # time travel to the pre-compaction snapshot still sees 9 files
    assert len(ice.content_files(tbl, snapshot_id=2)) == 9
    assert ice.read_table(spark, tbl, snapshot_id=1).count() == 900


def test_compact_table_zorder(spark, li, tmp_path):
    tbl = str(tmp_path / "tblz")
    ice.write_table(li.limit(2000).repartition(5), tbl, mode="overwrite")
    ice.compact_table(spark, tbl, num_files=4, zorder_cols=["l_orderkey", "l_partkey"])
    assert len(ice.content_files(tbl)) == 4
    assert ice.read_table(spark, tbl).count() == 2000


def test_index_rebuilds_after_compaction(spark, li, tmp_path):
    """A replace snapshot supersedes indexed files — the next index
    update must REBUILD over the current content (stale rows would
    prune reads to files outside the table), and pruned reads stay
    exact afterwards."""
    from prefix_filter_spark.sources.file_index import pruned_read

    tbl = str(tmp_path / "tbl")
    idx_path = str(tmp_path / "idx")
    cfg = FileIndexConfig(bits_per_key=12, expected_keys_per_file=4096)
    ice.write_table(li.limit(1500).repartition(5), tbl, mode="overwrite")
    assert ice.update_table_index(spark, tbl, idx_path, "l_orderkey", cfg) == 5
    ice.compact_table(spark, tbl, num_files=2)
    assert ice.update_table_index(spark, tbl, idx_path, "l_orderkey", cfg) == 2
    idx = spark.read.parquet(idx_path)
    # the index lists exactly the current content files, nothing stale
    assert sorted(r["file"] for r in idx.select("file").collect()) == sorted(
        ice.content_files(tbl)
    )
    key = int(ice.read_table(spark, tbl).agg(F.min("l_orderkey")).first()[0])
    got = pruned_read(spark, idx, "l_orderkey", [key], cfg).count()
    want = ice.read_table(spark, tbl).where(F.col("l_orderkey") == key).count()
    assert got == want > 0


def test_empty_snapshot_is_recorded_not_crashed(spark, li, tmp_path):
    """An empty df (streaming sinks see empty micro-batches) commits an
    empty snapshot entry instead of crashing on schema inference; prior
    content is unaffected."""
    tbl = str(tmp_path / "tbl")
    ice.write_table(li.limit(50), tbl, mode="overwrite")
    s2 = ice.write_table(li.limit(0), tbl)
    man = ice.load_manifest(tbl)
    # depending on the writer, an empty df yields either zero part
    # files (recorded as an empty snapshot, not a crash) or one
    # zero-row part file — content is unaffected either way
    assert man[-1]["snapshot_id"] == s2
    assert ice.read_table(spark, tbl).count() == 50
    # the truly part-less case (0-partition df): exercised through an
    # RDD-empty frame
    empty0 = spark.createDataFrame([], li.schema).repartition(1).limit(0)
    s3 = ice.write_table(empty0.where("1=0").coalesce(1).limit(0), tbl)
    assert ice.load_manifest(tbl)[-1]["snapshot_id"] == s3
    assert ice.read_table(spark, tbl).count() == 50


def test_north_rule_end_to_end_sequences_table(spark, tmp_path):
    """The north rule's data model, end to end on the real layers:
    documents -> input_hint-shaped tokenized sequences (doc_id string,
    tokens array<int32>, n_tok int, source string) -> snapshot table ->
    filter build over the exploded token stream -> zero-FN SQL probes
    + per-shard lineage present."""
    from prefix_filter_spark.functions import register_contains_udf
    from prefix_filter_spark.sketches import bloom
    from prefix_filter_spark.sources.tokenizer import (
        exploded_tokens,
        tokenize_documents,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    seqs = tokenize_documents(docs)
    tbl = str(tmp_path / "sequences")
    ice.write_table(seqs, tbl, mode="overwrite", partition_by=["source"])
    back = ice.read_table(spark, tbl)
    assert set(back.columns) == {"doc_id", "tokens", "n_tok", "source"}
    # token-array equality through the table roundtrip (per-row
    # invariant of the input_hint)
    a = {r["doc_id"]: list(r["tokens"]) for r in seqs.collect()}
    b = {r["doc_id"]: list(r["tokens"]) for r in back.collect()}
    assert a == b

    stream = exploded_tokens(back)
    n = stream.select("token").distinct().count()
    cfg = bloom.BloomConfig(n_capacity=max(n, 1024), num_shards=8, seed=11)
    shards = bloom.build_bloom(stream, "token", cfg)
    # lineage + metrics per shard row (north rule)
    row = shards.select("n_keys", "input_rows", "build_ns").first()
    assert row["input_rows"] > 0 and row["build_ns"] > 0
    handle = bloom.ShardedBloom.from_df(cfg, shards)
    fn = register_contains_udf(spark, "nr_bf", handle, cfg.seed)
    members = stream.select("token").distinct()
    assert members.where(fn("token", df=members)).count() == n


def test_skipping_read_over_snapshot_table(spark, li, tmp_path):
    """The whole table story composed: snapshot writes -> z-order
    compaction -> membership index + footer stats over the CONTENT
    file list -> skipping_read == read_table filter."""
    from prefix_filter_spark.sources.skipping import (
        file_minmax_stats as stats_fn,
        skipping_read,
    )

    tbl = str(tmp_path / "tbl")
    cfg = FileIndexConfig(bits_per_key=14, expected_keys_per_file=4096)
    ice.write_table(li.limit(1200).repartition(3), tbl, mode="overwrite")
    ice.write_table(
        li.limit(800).withColumn("l_orderkey", F.col("l_orderkey") + 10**7), tbl
    )
    ice.compact_table(
        spark, tbl, num_files=8, zorder_cols=["l_orderkey", "l_partkey"]
    )
    files = ice.content_files(tbl)
    idx = build_file_index(
        spark.read.option("basePath", tbl + "/data").parquet(*files),
        "l_orderkey",
        cfg,
    ).cache()
    idx.count()
    st = stats_fn(spark, files, ["l_partkey"]).cache()
    st.count()
    some = ice.read_table(spark, tbl).select("l_orderkey", "l_partkey").first()
    keys = [int(some["l_orderkey"])]
    pk = int(some["l_partkey"])
    got = skipping_read(
        spark,
        files,
        "l_orderkey",
        keys,
        {"l_partkey": (pk - 30, pk + 30)},
        index_df=idx,
        stats_df=st,
        cfg=cfg,
    )
    want = ice.read_table(spark, tbl).where(
        F.col("l_orderkey").isin(keys) & F.col("l_partkey").between(pk - 30, pk + 30)
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    idx.unpersist(); st.unpersist()


def test_table_health_recommends_compaction(spark, li, tmp_path):
    tbl = str(tmp_path / "tbl")
    ice.write_table(li.limit(600).repartition(6), tbl, mode="overwrite")
    ice.write_table(li.limit(200).repartition(2), tbl)
    h = ice.table_health(tbl)
    assert h["n_content_files"] == 8 and h["n_snapshots"] == 2
    assert h["ops"] == {"overwrite": 1, "append": 1}
    assert h["small_file_ratio"] == 1.0 and h["recommend_compaction"]
    ice.compact_table(spark, tbl, num_files=1)
    h2 = ice.table_health(tbl)
    assert h2["n_content_files"] == 1 and not h2["recommend_compaction"]
    assert h2["ops"]["replace"] == 1


def test_expire_snapshots_vacuum(spark, li, tmp_path):
    """Expiry drops unreachable history + files but NEVER a file any
    retained snapshot's content can reach — including the append whose
    content window anchors before the requested cut."""
    import os

    tbl = str(tmp_path / "tbl")
    ice.write_table(li.limit(300).repartition(2), tbl, mode="overwrite")   # s1
    ice.write_table(li.limit(100).repartition(1), tbl)                     # s2
    ice.compact_table(spark, tbl, num_files=1)                             # s3 replace
    ice.write_table(li.limit(50).repartition(1), tbl)                      # s4 append
    before_rows = ice.read_table(spark, tbl).count()
    s1_files = [_decode_file_uri(f) for f in ice.load_manifest(tbl)[0]["files"]]

    # keep_last=1 anchors back to the replace (s3): s1+s2 expire
    out = ice.expire_snapshots(tbl, keep_last=1)
    assert out["expired"] == [1, 2] and out["kept"] == [3, 4]
    assert out["deleted_files"] == 3  # s1's 2 files + s2's 1
    assert all(not os.path.exists(p) for p in s1_files)
    # content intact, time travel works within the kept window
    assert ice.read_table(spark, tbl).count() == before_rows
    assert ice.read_table(spark, tbl, snapshot_id=3).count() == 400
    import pytest as _pt

    with _pt.raises(ValueError):
        ice.read_table(spark, tbl, snapshot_id=1)
    # appends continue with monotone ids
    assert ice.write_table(li.limit(10), tbl) == 5
    # all-append history: nothing before the boundary -> no-op
    assert ice.expire_snapshots(tbl, keep_last=10)["expired"] == []


def test_schema_evolution_merge_schema(spark, li, tmp_path):
    tbl = str(tmp_path / "tbl")
    ice.write_table(li.limit(100).select("l_orderkey"), tbl, mode="overwrite")
    ice.write_table(
        li.limit(50).select("l_orderkey", F.lit("en").alias("lang")), tbl
    )
    got = ice.read_table(spark, tbl, merge_schema=True)
    assert set(got.columns) == {"l_orderkey", "lang"}
    assert got.count() == 150
    assert got.where(F.col("lang").isNull()).count() == 100


def test_table_under_percent_encoded_path(spark, li, tmp_path):
    """A table whose path holds a space and a literal ``%20``: manifests
    list percent-encoded URIs, so every read decodes them once (an
    encoded URI read as a path doubles the escapes: PATH_NOT_FOUND)."""
    tbl = str(tmp_path / "tbl with space%20x")
    idx_path = str(tmp_path / "idx")
    cfg = FileIndexConfig(bits_per_key=14, expected_keys_per_file=4096)
    ice.write_table(li.limit(600).repartition(2), tbl, mode="overwrite")
    ice.write_table(li.limit(300).repartition(1), tbl)
    assert ice.read_table(spark, tbl).count() == 900
    assert ice.update_table_index(spark, tbl, idx_path, "l_orderkey", cfg) == 3
    key = int(ice.read_table(spark, tbl).first()["l_orderkey"])
    got = skipping_read(
        spark,
        ice.content_files(tbl),
        "l_orderkey",
        [key],
        index_df=spark.read.parquet(idx_path),
        cfg=cfg,
    )
    want = ice.read_table(spark, tbl).where(F.col("l_orderkey") == key)
    assert got.count() == want.count() > 0
