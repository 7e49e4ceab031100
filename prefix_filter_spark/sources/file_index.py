"""Per-file membership index: AMQ-based data skipping for point probes.

Z-order (``sources/zorder.py``) makes parquet min/max footer stats prune
*range* predicates; this module adds the complementary index for
*membership* predicates — the same role Iceberg/Delta bloom-filter
metadata and parquet column bloom filters play, but built with this
library's own filter states so the index is a first-class sketch table:
mergeable, resumable, SQL-inspectable, and probed with the exact same
vectorized kernels as every other filter here.

Shape
-----
``build_file_index`` scans ONLY the key column (column-pruned parquet
read) tagged with ``input_file_name()`` and emits one Bloom state per
file:

- **uniform mode** (``exact_size=False``, the 100 TB path): every
  per-task slice folds its keys into a state sized from
  ``expected_keys_per_file``; identical headers make slice partials
  OR-mergeable, so the only shuffle moves ``O(n_files)`` tiny states —
  the raw keys never leave their input split (map-side combine, the
  ``build_partials_multi`` shape from ``sketches/base.py``).
- **exact mode** (``exact_size=True``): groupBy(file) over the hashes,
  one state sized to the file's true distinct-key count — tightest
  bits/key, used by the FPR assertions in tests; shuffle is 8 bytes
  per key, same budget as any ``build_sharded`` build.

``prune_files`` probes every file's state against a (small) probe-key
set and returns the surviving file list; ``pruned_read`` reads only
those files and applies the exact predicate. Zero false negatives in
the underlying Bloom state make ``pruned_read`` *identical* to the
full scan (property-tested), while absent keys skip the large majority
of files — at 100 TB that is the difference between a metadata-sized
job and a full corpus scan for needle queries (dedup against a
blocklist, doc-id lookups, leakage spot checks).

At cluster scale the index table itself stays distributed
(``probe_file_index`` is a mapInPandas over index rows with the probe
hashes broadcast via closure); only the surviving *file names* are
collected, bounded by the file count, to drive the pruned scan.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from prefix_filter_spark.hashing import (
    as_u64,
    spark_xxhash64_long,
    spark_xxhash64_str,
)
from prefix_filter_spark.plans.sharding import hashed_key_col, widen_key_col
from prefix_filter_spark.sketches.bloom import (
    BloomConfig,
    _contains,
    _open,
    build_state,
    merge_states,
    seed_mix,
)

INDEX_SCHEMA = (
    "file string, state binary, n_keys long, input_rows long, build_ns long"
)


def _decode_file_uri(name: str) -> str:
    """The one decoder for the file URIs a scan reports
    (``input_file_name()``, ``inputFiles()``, snapshot manifests) before
    they go back into ``spark.read``, pyarrow or ``os`` calls: undo the
    percent-encoding (space -> ``%20``) — a reader given the encoded
    string treats the escapes as literal path characters and
    mis-resolves any path containing spaces or ``%`` sequences — and
    give a ``file:`` URI as its plain local path. Index rows and
    manifests keep the encoded form (it is the compare key the scan
    itself produces); decoding happens only at read-back and compare."""
    from urllib.parse import unquote, urlparse

    p = urlparse(name)
    return unquote(p.path) if p.scheme in ("file", "") else unquote(name)


@dataclass(frozen=True)
class FileIndexConfig:
    """Sizing for the per-file states.

    ``expected_keys_per_file`` only matters in uniform mode; size it
    from table metadata (rows / files) with headroom — an over-full
    Bloom state degrades FPR smoothly, never correctness.
    """

    bits_per_key: int = 12
    expected_keys_per_file: int = 1 << 20
    seed: int = 42
    exact_size: bool = False

    def _cfg_for(self, n_keys: int) -> BloomConfig:
        # num_shards=1: each file's state is a single unsharded Bloom
        # block; the file axis IS the sharding.
        return BloomConfig(
            n_capacity=max(64, int(n_keys)),
            bits_per_key=self.bits_per_key,
            num_shards=1,
            seed=self.seed,
        )


def _tagged_keys(df: DataFrame, key_col: str, seed: int) -> DataFrame:
    # integral keys hash at bigint width (widen_key_col) so the
    # driver-side NumPy twin in hash_probe_keys agrees regardless of
    # the column's storage width (an int32 column would otherwise take
    # the JVM's 4-byte path and silently break zero-FN)
    return df.select(
        F.input_file_name().alias("file"),
        hashed_key_col(widen_key_col(df, key_col), seed).alias("h"),
    )


def build_file_index(
    df: DataFrame, key_col: str, cfg: FileIndexConfig | None = None
) -> DataFrame:
    """One Bloom state per underlying file of ``df``'s scan.

    ``df`` must come straight from a file source (``input_file_name()``
    is empty for shuffled/derived frames — detected and rejected).
    Returns ``(file, state, n_keys, input_rows, build_ns)``; in uniform
    mode ``n_keys`` is the sum of per-slice distinct counts (an upper
    bound on the file's distinct keys — exact when one slice per file).
    """
    cfg = cfg or FileIndexConfig()
    return _build_from_tagged(_tagged_keys(df, key_col, cfg.seed), cfg)


def _build_from_tagged(src: DataFrame, cfg: FileIndexConfig) -> DataFrame:
    """Build from a pre-tagged (file, h) frame — shared by the fresh
    build and incremental update paths."""
    if cfg.exact_size:
        bpk, seed = cfg.bits_per_key, cfg.seed

        def build_group(pdf: pd.DataFrame) -> pd.DataFrame:
            t0 = time.perf_counter_ns()
            fname = pdf["file"].iloc[0]
            if not fname:
                raise ValueError(
                    "input_file_name() is empty: build_file_index needs a "
                    "DataFrame read directly from files"
                )
            hashes = np.unique(as_u64(pdf["h"].to_numpy()))
            fc = FileIndexConfig(bits_per_key=bpk, seed=seed)._cfg_for(
                len(hashes)
            )
            state = build_state(fc, 0, hashes)
            return pd.DataFrame(
                {
                    "file": [fname],
                    "state": [state],
                    "n_keys": [len(hashes)],
                    "input_rows": [len(pdf)],
                    "build_ns": [time.perf_counter_ns() - t0],
                }
            )

        return src.groupBy("file").applyInPandas(build_group, INDEX_SCHEMA)

    # uniform mode: per-slice partials (no raw-key shuffle), OR-merge per file
    slice_cfg = cfg._cfg_for(cfg.expected_keys_per_file)

    def build_slices(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            t0 = time.perf_counter_ns()
            for fname, grp in pdf.groupby("file", sort=False):
                if not fname:
                    raise ValueError(
                        "input_file_name() is empty: build_file_index needs "
                        "a DataFrame read directly from files"
                    )
                hashes = np.unique(as_u64(grp["h"].to_numpy()))
                yield pd.DataFrame(
                    {
                        "file": [fname],
                        "state": [build_state(slice_cfg, 0, hashes)],
                        "n_keys": [len(hashes)],
                        "input_rows": [len(grp)],
                        "build_ns": [time.perf_counter_ns() - t0],
                    }
                )
                t0 = time.perf_counter_ns()

    partials = src.mapInPandas(build_slices, schema=INDEX_SCHEMA)

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        t0 = time.perf_counter_ns()
        state = merge_states(list(pdf["state"]))
        return pd.DataFrame(
            {
                "file": [pdf["file"].iloc[0]],
                "state": [state],
                "n_keys": [int(pdf["n_keys"].sum())],
                "input_rows": [int(pdf["input_rows"].sum())],
                "build_ns": [
                    int(pdf["build_ns"].sum())
                    + (time.perf_counter_ns() - t0)
                ],
            }
        )

    return partials.groupBy("file").applyInPandas(merge_group, INDEX_SCHEMA)


def hash_probe_keys(spark: SparkSession | None, keys: list, seed: int = 42) -> np.ndarray:
    """xxhash64(key, seed) for driver-held probe keys.

    Integer keys: the NumPy twin of the build expression
    (``hashing.spark_xxhash64_long``, JVM-equality pytest-pinned) —
    ZERO Spark jobs, which is what keeps a needle probe metadata-cheap
    (the createDataFrame/collect round-trip measured ~4 s of fixed
    Python-RDD overhead per call in this image). Other key types fall
    back to one JVM literal-row projection (no Python-RDD scan); int
    literals in that fallback are cast bigint so a mixed key list hashes
    its ints at the same 8-byte width as the build expression. With
    ``spark=None`` only all-int or all-str lists hash (``TypeError``)."""
    if not keys:
        return np.empty(0, dtype=np.uint64)
    if all(isinstance(k, (int, np.integer)) for k in keys):
        return spark_xxhash64_long(np.array(keys, dtype=np.int64), seed)
    if all(isinstance(k, str) for k in keys):
        return spark_xxhash64_str(keys, seed)
    if spark is None:
        raise TypeError(
            "driver-side hashing needs all-int or all-str keys; mixed or "
            "other types must go through the SQL UDF path"
        )

    def _lit(k):
        lit = F.lit(int(k) if isinstance(k, np.integer) else k)
        return lit.cast("bigint") if isinstance(k, (int, np.integer)) else lit

    row = (
        spark.range(1)
        .select(
            *[
                hashed_key_col(_lit(k), seed).alias(f"h{i}")
                for i, k in enumerate(keys)
            ]
        )
        .first()
    )
    return as_u64(np.array([row[i] for i in range(len(keys))], dtype=np.int64))


def probe_file_index(
    index_df: DataFrame, probe_hashes: np.ndarray, cfg: FileIndexConfig | None = None
) -> DataFrame:
    """(file, n_maybe) — how many probe keys each file MAY contain.

    Distributed: the index rows stay where they are; the (small) probe
    hash set ships inside the UDF closure. Zero false negatives: a file
    that truly holds a probe key always reports n_maybe >= 1.
    """
    cfg = cfg or FileIndexConfig()
    g = seed_mix(as_u64(np.asarray(probe_hashes)), cfg.seed)
    want_seed = cfg.seed & 0xFFFFFFFFFFFFFFFF

    def probe(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            n_maybe = []
            for s in pdf["state"]:
                fields, bits = _open(bytes(s))
                # a probe under the wrong seed would return silent
                # false negatives — the one failure an AMQ must never
                # have; the header carries the build seed, so check it
                state_seed = fields[3]
                if state_seed != want_seed:
                    raise ValueError(
                        f"file-index state built with seed {state_seed} "
                        f"probed with cfg.seed {want_seed}"
                    )
                n_maybe.append(int(_contains(fields, bits, g).sum()))
            yield pd.DataFrame({"file": pdf["file"], "n_maybe": n_maybe})

    return index_df.mapInPandas(probe, schema="file string, n_maybe long")


def prune_files(
    index_df: DataFrame,
    probe_hashes: np.ndarray,
    cfg: FileIndexConfig | None = None,
) -> list[str]:
    """File names whose state may contain ANY probe key (sorted, each
    once: an index holding duplicate rows for a file — a replayed
    update — must not make pruned_read scan that file twice)."""
    hits = (
        probe_file_index(index_df, probe_hashes, cfg)
        .filter(F.col("n_maybe") > 0)
        .select("file")
        .collect()
    )
    return sorted({r["file"] for r in hits})


def pruned_read(
    spark: SparkSession,
    index_df: DataFrame,
    key_col: str,
    keys: list,
    cfg: FileIndexConfig | None = None,
) -> DataFrame:
    """Read ONLY the files that may contain ``keys``, then apply the
    exact predicate — result is identical to filtering the full scan
    (zero-FN guarantee), at the cost of scanning only the survivors.

    Returns an empty-but-typed DataFrame when every file is pruned.
    """
    cfg = cfg or FileIndexConfig()
    hashes = hash_probe_keys(spark, keys, cfg.seed)
    files = prune_files(index_df, hashes, cfg)
    if not files:
        any_file = index_df.select("file").first()
        if any_file is None:
            raise ValueError("pruned_read over an EMPTY index: build or "
                             "update the index before probing")
        # planned on the JVM as an empty local relation, as in skipping_read
        return spark.read.parquet(_decode_file_uri(any_file["file"])).where(
            F.lit(False)
        ).filter(F.col(key_col).isin(keys))
    return spark.read.parquet(*[_decode_file_uri(f) for f in files]).filter(
        F.col(key_col).isin(keys)
    )


def skip_report(
    index_df: DataFrame,
    probe_hashes: np.ndarray,
    cfg: FileIndexConfig | None = None,
) -> dict:
    """{'n_files', 'n_survivors', 'skip_ratio'} for a probe set."""
    probed = probe_file_index(index_df, probe_hashes, cfg)
    agg = probed.agg(
        F.count("*").alias("n_files"),
        F.sum((F.col("n_maybe") > 0).cast("long")).alias("n_survivors"),
    ).first()
    n_files = int(agg["n_files"])
    n_surv = int(agg["n_survivors"] or 0)
    return {
        "n_files": n_files,
        "n_survivors": n_surv,
        "skip_ratio": 1.0 - (n_surv / n_files) if n_files else 0.0,
    }


def _indexed_files(index_path: str) -> set[str]:
    """The index's decoded ``file`` column, read on the driver by pyarrow
    (no Spark job; ``_``/``.`` files are skipped). No index: empty."""
    import pyarrow.dataset as pads

    try:
        ds = pads.dataset(index_path, format="parquet")
    except FileNotFoundError:
        return set()
    if not ds.files:  # no parquet part, e.g. an older version's bare marker
        return set()
    return {
        _decode_file_uri(f)
        for f in ds.to_table(columns=["file"]).column("file").to_pylist()
    }


def _refresh(spark, files, index_path, key_col, cfg, base_path) -> int:
    """Make the index at ``index_path`` cover exactly ``files``, each
    once; returns the number of files whose states were written.

    The index's own file column is the only record of what is indexed,
    so the Spark write's job commit is the only commit point and a
    replay after a crash anywhere writes nothing twice. A row naming a
    file outside ``files`` (superseded by an overwrite or compaction) is
    stale and would prune reads onto files outside the content: the
    index is then rebuilt over ``files``. Otherwise only files with no
    row are scanned and appended. 0-row files (by their footer) are
    skipped: they never get a row, so they would be rescanned forever."""
    import pyarrow.parquet as pq

    have = _indexed_files(index_path)
    want = {_decode_file_uri(f) for f in files}
    rebuild = bool(have - want)
    todo = [
        p
        for p in sorted(want if rebuild else want - have)
        if pq.read_metadata(p).num_rows
    ]
    if todo:
        fresh = spark.read.option("basePath", base_path).parquet(*todo)
        states = _build_from_tagged(_tagged_keys(fresh, key_col, cfg.seed), cfg)
    elif rebuild:  # no stale row may survive
        states = spark.createDataFrame([], INDEX_SCHEMA)
    else:
        return 0
    states.write.mode("overwrite" if rebuild else "append").parquet(index_path)
    return len(todo)


def unindexed_files(
    spark: SparkSession, data_path: str, index_path: str
) -> list[str]:
    """Files of the table at ``data_path`` with no index row yet — the
    driver-side file LISTING (``DataFrame.inputFiles()``, metadata-only)
    minus the index's file column, compared percent-decoded
    (``inputFiles()`` and ``input_file_name()`` do not always agree on
    URI encoding), before any read."""
    have = _indexed_files(index_path)
    all_files = spark.read.parquet(data_path).inputFiles()
    return sorted(f for f in all_files if _decode_file_uri(f) not in have)


def append_index_updates(
    spark: SparkSession,
    data_path: str,
    index_path: str,
    key_col: str,
    cfg: FileIndexConfig | None = None,
) -> int:
    """Idempotent index-maintenance job: make the persisted index at
    ``index_path`` cover the parquet table at ``data_path``; returns the
    number of newly indexed files. It slots in after any ingest (a batch
    load, a streaming parquet sink's micro-batches, a backfill), and a
    replay appends nothing. Run it before reading the index for zero-FN
    pruning over the WHOLE table: a stale index has no row for new files.

    The file set is the driver-side LISTING (``DataFrame.inputFiles()``,
    metadata-only) and only files with no index row are read, so a daily
    update over a 100 TB table scans the day's new bytes (an anti-join
    on ``input_file_name()`` cannot prune the scan; Spark discards
    indexed rows only after reading them). An index naming a file the
    listing no longer holds is rebuilt. The index and the new files'
    footers are read on the driver: both paths must be driver-visible.
    """
    files = spark.read.parquet(data_path).inputFiles()
    return _refresh(
        spark, files, index_path, key_col, cfg or FileIndexConfig(), data_path
    )
