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
  ``build_partials`` shape from ``sketches/base.py``).
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
from pyspark.errors import AnalysisException
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
    _contains_in_state,
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


def _state_header_seed(state: bytes) -> int:
    from prefix_filter_spark.sketches.bloom import _HDR as _BLOOM_HDR

    return _BLOOM_HDR.unpack_from(state, 0)[5]


def hash_probe_keys(spark: SparkSession, keys: list, seed: int = 42) -> np.ndarray:
    """xxhash64(key, seed) for driver-held probe keys.

    Integer keys: the NumPy twin of the build expression
    (``hashing.spark_xxhash64_long``, JVM-equality pytest-pinned) —
    ZERO Spark jobs, which is what keeps a needle probe metadata-cheap
    (the createDataFrame/collect round-trip measured ~4 s of fixed
    Python-RDD overhead per call in this image). Other key types fall
    back to one JVM literal-row projection (no Python-RDD scan); int
    literals in that fallback are cast bigint so a mixed key list hashes
    its ints at the same 8-byte width as the build expression."""
    if not keys:
        return np.empty(0, dtype=np.uint64)
    if all(isinstance(k, (int, np.integer)) for k in keys):
        return spark_xxhash64_long(np.array(keys, dtype=np.int64), seed)
    if all(isinstance(k, str) for k in keys):
        return spark_xxhash64_str(keys, seed)

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
                blob = bytes(s)
                # a probe under the wrong seed would return silent
                # false negatives — the one failure an AMQ must never
                # have; the header carries the build seed, so check it
                state_seed = _state_header_seed(blob)
                if state_seed != want_seed:
                    raise ValueError(
                        f"file-index state built with seed {state_seed} "
                        f"probed with cfg.seed {want_seed}"
                    )
                n_maybe.append(int(_contains_in_state(blob, g).sum()))
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
        schema = spark.read.parquet(_decode_file_uri(any_file["file"])).schema
        return spark.createDataFrame([], schema).filter(
            F.col(key_col).isin(keys)
        )
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


def update_file_index(
    index_df: DataFrame,
    df: DataFrame,
    key_col: str,
    cfg: FileIndexConfig | None = None,
) -> DataFrame:
    """Incremental maintenance: index ONLY files not already indexed.

    Parquet files are immutable once written, so an existing state row
    stays valid forever; new ingest batches add files, and only those
    produce new states. Scan-cost caveat: the anti-join on file name
    discards already-indexed rows AFTER the scan — Spark cannot push a
    join through to the file listing, so this still reads the whole
    table's key column every run. It exists for callers that only hold
    a DataFrame; the maintenance job to run at scale is
    ``append_index_updates``, which subtracts indexed files from the
    driver-side file LISTING and reads none of the already-covered
    bytes. Returns old index UNION new states — same schema, so
    persisting the index is a plain parquet write and resume is a
    plain read.
    """
    cfg = cfg or FileIndexConfig()
    # tag BEFORE joining: input_file_name() only resolves while the
    # plan has a single file source, and the anti-join adds a second
    known = index_df.select("file")
    fresh = _tagged_keys(df, key_col, cfg.seed).join(
        known, "file", "left_anti"
    )
    new_states = _build_from_tagged(fresh, cfg)
    return index_df.unionByName(new_states)


def unindexed_files(
    spark: SparkSession, data_path: str, index_path: str
) -> list[str]:
    """Files of the table at ``data_path`` with no index row yet —
    computed from the driver-side file LISTING (``DataFrame
    .inputFiles()``, metadata-only) minus the index's file column, both
    percent-decoded (``inputFiles()`` and ``input_file_name()`` do not
    always agree on URI encoding). This is what lets the incremental
    update scan only new bytes: the subtraction happens before any
    read, not as a post-scan anti-join."""
    all_files = spark.read.parquet(data_path).inputFiles()
    try:
        known = {
            _decode_file_uri(r["file"])
            for r in spark.read.parquet(index_path).select("file").collect()
        }
    except AnalysisException:  # no index yet — first run
        known = set()
    return sorted(f for f in all_files if _decode_file_uri(f) not in known)


def append_index_updates(
    spark: SparkSession,
    data_path: str,
    index_path: str,
    key_col: str,
    cfg: FileIndexConfig | None = None,
) -> int:
    """Idempotent index-maintenance job: bring the persisted index at
    ``index_path`` up to date with the parquet table at ``data_path``.

    The index table is APPEND-ONLY — parquet data files are immutable,
    so a state row never changes and covering a new file is one new
    row. The anti-join on file name makes the job exactly-once for the
    index no matter how often it runs (a replay appends zero rows), so
    it slots in after any ingest: a batch load, a Structured Streaming
    parquet sink's micro-batches, a backfill. Returns the number of
    newly indexed files.

    First run (no index yet) indexes everything. Reads of a
    concurrently-growing index are safe because rows are only added;
    a probe with a stale index simply cannot prune the newest files —
    callers wanting zero-FN pruning over the WHOLE table should run
    this first and read the index after it returns.

    The already-indexed files are subtracted from the driver-side file
    LISTING (``DataFrame.inputFiles()`` — metadata-only, no scan) and
    the build reads ONLY the unindexed files, so a daily update over a
    100 TB table scans the day's new bytes, not the corpus (a plain
    anti-join on ``input_file_name()`` cannot prune the scan — Spark
    discards indexed rows only after reading them). File names are
    compared percent-decoded: ``inputFiles()`` and
    ``input_file_name()`` do not always agree on URI encoding.
    """
    cfg = cfg or FileIndexConfig()
    new_files = unindexed_files(spark, data_path, index_path)
    if not new_files:
        return 0
    fresh = spark.read.parquet(*[_decode_file_uri(f) for f in new_files])
    new_states = _build_from_tagged(_tagged_keys(fresh, key_col, cfg.seed), cfg)
    n_new = new_states.count()
    if n_new:
        new_states.write.mode("append").parquet(index_path)
    return n_new
