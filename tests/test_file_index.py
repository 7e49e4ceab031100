"""Per-file membership index (data skipping): zero-FN pruned reads.

Layout under test: the sf0.001 lineitem table rewritten as 16 parquet
files range-partitioned by l_orderkey (repartitionByRange), the layout
a real table maintenance job would produce — so a point probe's keys
live in few files and membership skipping has something to skip.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from prefix_filter_spark.sources.file_index import (
    FileIndexConfig,
    build_file_index,
    hash_probe_keys,
    prune_files,
    pruned_read,
    probe_file_index,
    skip_report,
)

from conftest import SF_DIR

N_FILES = 16


@pytest.fixture(scope="module")
def layout(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("fidx") / "lineitem16")
    (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .repartitionByRange(N_FILES, "l_orderkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


@pytest.fixture(scope="module")
def cfg():
    return FileIndexConfig(bits_per_key=12, expected_keys_per_file=4096)


@pytest.fixture(scope="module")
def index(spark, layout, cfg):
    df = spark.read.parquet(layout)
    idx = build_file_index(df, "l_orderkey", cfg).cache()
    idx.count()
    return idx


def test_index_has_one_row_per_file(index):
    rows = index.collect()
    assert len(rows) == N_FILES
    assert all(r["n_keys"] > 0 and len(r["state"]) > 0 for r in rows)


def test_pruned_read_equals_full_scan(spark, layout, index, cfg):
    """Zero-FN: pruned read returns exactly the full-scan filter rows."""
    full = spark.read.parquet(layout)
    keys = [r["l_orderkey"] for r in full.select("l_orderkey").distinct().limit(40).collect()]
    got = (
        pruned_read(spark, index, "l_orderkey", keys, cfg)
        .orderBy("l_orderkey", "l_linenumber")
        .collect()
    )
    want = (
        full.filter(F.col("l_orderkey").isin(keys))
        .orderBy("l_orderkey", "l_linenumber")
        .collect()
    )
    assert got == want
    assert len(want) > 0


def test_duplicate_index_rows_read_each_file_once(spark, layout, index, cfg):
    """An index that holds every file twice (a replayed update) must
    still read each data row once: pruned_read == the full-scan filter."""
    full = spark.read.parquet(layout)
    keys = [r["l_orderkey"] for r in full.select("l_orderkey").distinct().limit(40).collect()]
    doubled = index.unionByName(index)
    got = (
        pruned_read(spark, doubled, "l_orderkey", keys, cfg)
        .orderBy("l_orderkey", "l_linenumber")
        .collect()
    )
    want = (
        full.filter(F.col("l_orderkey").isin(keys))
        .orderBy("l_orderkey", "l_linenumber")
        .collect()
    )
    assert got == want
    assert len(want) > 0


def test_absent_keys_skip_most_files(spark, index, cfg):
    """Keys outside the domain prune ~all files (FPR-bounded survivors)."""
    absent = [-(10**9) - i for i in range(64)]
    hashes = hash_probe_keys(spark, absent, cfg.seed)
    rep = skip_report(index, hashes, cfg)
    assert rep["n_files"] == N_FILES
    # 64 probes x 16 files at FPR ~2^-8: expected ~4 file-hits; allow slack
    assert rep["skip_ratio"] >= 0.5


def test_single_present_key_survives_few_files(spark, layout, index, cfg):
    """Range layout => one key lives in ~1 file; the index finds it."""
    full = spark.read.parquet(layout)
    key = full.select(F.min("l_orderkey")).first()[0]
    hashes = hash_probe_keys(spark, [key], cfg.seed)
    files = prune_files(index, hashes, cfg)
    assert 1 <= len(files) <= 4
    # and the file really holds the key
    assert (
        spark.read.parquet(*files).filter(F.col("l_orderkey") == key).count()
        > 0
    )


def test_exact_mode_matches_uniform_on_fn(spark, layout, cfg):
    """Exact per-file sizing: same zero-FN contract, tighter states."""
    df = spark.read.parquet(layout)
    exact_cfg = FileIndexConfig(bits_per_key=12, exact_size=True)
    idx = build_file_index(df, "l_orderkey", exact_cfg)
    rows = idx.collect()
    assert len(rows) == N_FILES
    all_keys = [r["l_orderkey"] for r in df.select("l_orderkey").distinct().collect()]
    hashes = hash_probe_keys(spark, all_keys, exact_cfg.seed)
    probed = probe_file_index(idx, hashes, exact_cfg)
    # every file must report at least its own keys as maybe-present
    per_file_keys = {
        r["file"]: r["nk"]
        for r in build_file_index(df, "l_orderkey", exact_cfg)
        .selectExpr("file", "n_keys as nk")
        .collect()
    }
    for r in probed.collect():
        assert r["n_maybe"] >= per_file_keys[r["file"]]
    # exact sizing stays near the configured bits/key
    total_bits = sum(len(r["state"]) * 8 for r in rows)
    total_keys = sum(r["n_keys"] for r in rows)
    assert total_bits / total_keys < 16


def test_pruned_read_empty_when_all_pruned(spark, layout, index, cfg):
    out = pruned_read(spark, index, "l_orderkey", [-12345], cfg)
    assert out.count() == 0
    assert out.schema == spark.read.parquet(layout).schema
    # planned on the JVM: no Python-RDD scan of a local list
    assert "ExistingRDD" not in out._jdf.queryExecution().executedPlan().toString()


def test_rejects_derived_frames(spark, layout, cfg):
    df = spark.read.parquet(layout).repartition(4)
    with pytest.raises(Exception, match="input_file_name"):
        build_file_index(df, "l_orderkey", cfg).collect()


def test_append_index_updates_idempotent(spark, layout, cfg, tmp_path):
    from prefix_filter_spark.sources.file_index import append_index_updates

    idx_path = str(tmp_path / "idx_maint")
    # first run indexes every file; immediate re-run adds nothing
    assert append_index_updates(spark, layout, idx_path, "l_orderkey", cfg) == N_FILES
    assert append_index_updates(spark, layout, idx_path, "l_orderkey", cfg) == 0
    old = {
        r["file"]: bytes(r["state"])
        for r in spark.read.parquet(idx_path).collect()
    }

    # simulate an ingest batch: append rows (new files) to the table
    (
        spark.read.parquet(layout)
        .limit(60)
        .withColumn("l_orderkey", F.col("l_orderkey") + 10**8)
        .coalesce(1)
        .write.mode("append")
        .parquet(layout)
    )
    n = append_index_updates(spark, layout, idx_path, "l_orderkey", cfg)
    assert n >= 1
    assert append_index_updates(spark, layout, idx_path, "l_orderkey", cfg) == 0

    # index now covers the whole table, and the old rows are
    # byte-identical (appended to, never rebuilt)
    idx = spark.read.parquet(idx_path)
    rows = idx.collect()
    assert len(rows) == N_FILES + n
    for r in rows:
        if r["file"] in old:
            assert bytes(r["state"]) == old[r["file"]]
    # pruned read finds the new keys
    new_key = int(
        spark.read.parquet(layout)
        .filter(F.col("l_orderkey") >= 10**8)
        .select(F.min("l_orderkey"))
        .first()[0]
    )
    assert pruned_read(spark, idx, "l_orderkey", [new_key], cfg).count() > 0


def test_string_key_index_zero_fn(spark, tmp_path):
    """String (fingerprint-style) keys: build + pruned read via the
    string hash twin — same zero-FN contract as integer keys."""
    path = str(tmp_path / "docs_str")
    (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .selectExpr("cast(doc_id as string) as doc_id", "text", "source")
        .repartitionByRange(8, "doc_id")
        .write.mode("overwrite")
        .parquet(path)
    )
    df = spark.read.parquet(path)
    cfg = FileIndexConfig(bits_per_key=12, expected_keys_per_file=4096)
    idx = build_file_index(df, "doc_id", cfg)
    keys = [r["doc_id"] for r in df.select("doc_id").distinct().limit(20).collect()]
    got = sorted(
        r["doc_id"]
        for r in pruned_read(spark, idx, "doc_id", keys, cfg).collect()
    )
    want = sorted(
        r["doc_id"]
        for r in df.filter(F.col("doc_id").isin(keys)).collect()
    )
    assert got == want and len(got) == 20


def test_probe_rejects_wrong_seed(spark, index):
    """Wrong-seed probes would be silent false negatives — refuse."""
    import numpy as np

    bad = FileIndexConfig(bits_per_key=12, expected_keys_per_file=4096, seed=99)
    with pytest.raises(Exception, match="seed"):
        probe_file_index(index, np.array([1], dtype=np.uint64), bad).collect()


def test_space_in_path_roundtrip(spark, tmp_path):
    """input_file_name() URI-encodes (space -> %20); pruned_read must
    decode before feeding names back to spark.read (round-5 ADVICE)."""
    path = str(tmp_path / "dir with space" / "tbl")
    (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .repartitionByRange(4, "l_orderkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    df = spark.read.parquet(path)
    cfg2 = FileIndexConfig(bits_per_key=12, expected_keys_per_file=4096)
    idx = build_file_index(df, "l_orderkey", cfg2).cache()
    assert idx.count() == 4
    # the stored names really are encoded (else this test is vacuous)
    assert any("%20" in r["file"] for r in idx.select("file").collect())
    keys = [r[0] for r in df.select("l_orderkey").distinct().limit(5).collect()]
    keys = [int(k) for k in keys]
    got = pruned_read(spark, idx, "l_orderkey", keys, cfg2).count()
    want = df.filter(F.col("l_orderkey").isin(keys)).count()
    assert got == want and got > 0
    idx.unpersist()


def test_unindexed_files_prunes_listing(spark, tmp_path):
    """The incremental update's scan set comes from a listing-level
    subtraction, not a post-scan anti-join: after indexing, only newly
    ingested files appear in the scan list (round-5 ADVICE, medium)."""
    from prefix_filter_spark.sources.file_index import (
        append_index_updates,
        unindexed_files,
    )

    data = str(tmp_path / "tbl")
    idx_path = str(tmp_path / "idx")
    cfg2 = FileIndexConfig(bits_per_key=12, expected_keys_per_file=4096)
    (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .repartitionByRange(6, "l_orderkey")
        .write.mode("overwrite")
        .parquet(data)
    )
    assert len(unindexed_files(spark, data, idx_path)) == 6  # no index yet
    assert append_index_updates(spark, data, idx_path, "l_orderkey", cfg2) == 6
    assert unindexed_files(spark, data, idx_path) == []  # fully covered

    # ingest: two new files -> exactly those two are in the scan list
    (
        spark.read.parquet(data)
        .limit(50)
        .withColumn("l_orderkey", F.col("l_orderkey") + 10**9)
        .repartition(2)
        .write.mode("append")
        .parquet(data)
    )
    fresh = unindexed_files(spark, data, idx_path)
    assert len(fresh) == 2
    assert append_index_updates(spark, data, idx_path, "l_orderkey", cfg2) == 2
    assert unindexed_files(spark, data, idx_path) == []
