"""Iceberg source adapter (north rule: 'Iceberg tables of pre-tokenized
training sequences').

The Iceberg runtime jars are not in this image (pyspark_guide.md
'Sources & sinks'), so this adapter degrades explicitly:

- an Iceberg catalog identifier (``catalog.db.table``) is read via
  ``spark.read.table`` when the session has an Iceberg catalog
  configured (cluster deployments: add
  ``--packages org.apache.iceberg:iceberg-spark-runtime-*`` and the
  catalog confs shown in ``iceberg_session_conf``);
- a filesystem path falls back to plain parquet — same DataFrame
  contract downstream, so every operator in this library is
  source-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_session_conf(catalog: str = "pfs", warehouse: str = "/tmp/pfs-warehouse") -> dict[str, str]:
    """The spark-submit confs a cluster deployment needs (documented,
    not applied here — the jars are absent in this sandbox)."""
    return {
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }


def has_iceberg(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:  # noqa: BLE001
        return False


def read_sequences(spark: SparkSession, source: str) -> DataFrame:
    """Read the tokenized-sequence table from an Iceberg identifier or a
    parquet path; raise a clear error when Iceberg is requested but the
    runtime is absent."""
    looks_like_path = "/" in source or source.endswith(".parquet")
    if looks_like_path:
        return spark.read.parquet(source)
    if not has_iceberg(spark):
        raise RuntimeError(
            f"'{source}' looks like an Iceberg identifier but the Iceberg "
            "runtime is not on the classpath. Submit with --packages "
            "org.apache.iceberg:iceberg-spark-runtime-<ver> and session conf "
            f"{iceberg_session_conf()} — or pass a parquet path."
        )
    return spark.read.table(source)


# ---------------------------------------------------------------------------
# Iceberg-STYLE snapshot table layout (round 5). The Iceberg runtime
# jars are absent in this image, so the format's load-bearing ideas are
# re-derived over plain parquet + a JSON manifest, the way the rest of
# the library re-derives engine infrastructure:
#
#   - immutable data files, grouped per snapshot under
#     ``<path>/data/snap-<id>/`` (an append never rewrites history);
#   - a metadata manifest ``<path>/metadata/snapshots.json`` listing
#     every snapshot's files — readers and maintenance jobs plan from
#     METADATA, never from a filesystem listing;
#   - incremental index maintenance (``update_table_index``): the
#     index must cover exactly the manifest's content files, and its
#     own ``file`` column is the record of what is covered — a daily
#     update scans only the content files with no row yet (the day's
#     bytes), planned from metadata even if the listing API is slow,
#     eventually consistent, or the table holds 10^6 files.
#
# On a real cluster with the Iceberg runtime, ``read_sequences`` above
# reads the catalog table and the same maintenance logic keys off
# Iceberg's own snapshot ids; this layout is the sandbox-faithful twin
# with identical semantics.
#
# Maintenance loop order (the one that keeps every invariant):
#   1. compact_table        (replace snapshot supersedes small files)
#   2. update_table_index   (rows of superseded files -> index rebuilds
#                            over the content; stale rows never linger)
#   3. expire_snapshots     (only AFTER the index rebuild: expiry
#                            deletes superseded files, and an index
#                            still listing them would prune reads onto
#                            deleted paths — a loud error, not silent
#                            wrongness, but the ordering avoids it)
# table_health tells an ops loop when step 1 is worth paying.
# ---------------------------------------------------------------------------

import json
import os
import time

from prefix_filter_spark.sources.file_index import _decode_file_uri


def _manifest_path(table_path: str) -> str:
    return os.path.join(table_path, "metadata", "snapshots.json")


def load_manifest(table_path: str) -> list[dict]:
    """[{snapshot_id, operation, ts, files: [...]}, ...] oldest first;
    [] for a table that does not exist yet."""
    try:
        with open(_manifest_path(table_path)) as f:
            return json.load(f)
    except FileNotFoundError:
        return []


def write_table(
    df: DataFrame,
    table_path: str,
    *,
    mode: str = "append",
    partition_by: list[str] | None = None,
    properties: dict | None = None,
) -> int:
    """Write ``df`` as a new SNAPSHOT of the table at ``table_path``;
    returns the new snapshot id (1-based, monotone).

    ``mode="append"`` adds a snapshot; ``mode="overwrite"`` starts the
    table content over (prior snapshots REMAIN in the manifest and stay
    time-travelable — reads resolve content from the latest
    overwrite/replace boundary at or before the requested snapshot).
    Data files are immutable: each snapshot writes into its own
    ``data/snap-<id>/`` directory and the manifest records the file
    list, so concurrent readers of an older snapshot never observe a
    partial write — the manifest flips last. ``partition_by`` forwards
    to the parquet writer (hive-style directory partitioning within the
    snapshot dir). ``properties``: free-form metadata recorded ON the
    snapshot entry — it commits in the same atomic manifest flip as the
    file list, which is what lets the streaming sink make
    snapshot-commit + epoch-marker one atomic step (Iceberg snapshot
    summary properties play the same role)."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be 'append' or 'overwrite', got {mode!r}")
    return _commit_snapshot(df, table_path, mode, partition_by, properties)


def _commit_snapshot(df, table_path, operation, partition_by=None, properties=None):
    """Write ``df`` into a fresh ``data/snap-<id>/`` dir and commit it
    as snapshot ``<id>`` with ``operation``; returns the id.
    ``errorifexists`` on the dir is what makes a second concurrent
    writer claiming the same id fail-stop instead of mixing files."""
    manifest = load_manifest(table_path)
    snap_id = (manifest[-1]["snapshot_id"] + 1) if manifest else 1
    snap_dir = os.path.join(table_path, "data", f"snap-{snap_id}")
    writer = df.write.mode("errorifexists")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(snap_dir)
    try:
        files = sorted(df.sparkSession.read.parquet(snap_dir).inputFiles())
    except Exception:
        # an empty df can write a part-less directory (only _SUCCESS)
        # that the reader cannot infer a schema from — record an empty
        # snapshot rather than crash (streaming sinks see empty
        # micro-batches; the epoch marker must still commit)
        files = []
    manifest.append(
        {
            "snapshot_id": snap_id,
            "operation": operation,
            "ts": time.time(),
            "files": files,
            "properties": properties or {},
        }
    )
    _flip_manifest(table_path, manifest)
    return snap_id


def _flip_manifest(table_path: str, entries: list[dict]) -> None:
    """Replace the manifest with ``entries`` in one atomic rename — the
    commit point of every table operation."""
    path = _manifest_path(table_path)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(entries, f, indent=1)
    os.replace(tmp, path)


def table_files(table_path: str, *, after_snapshot: int = 0) -> list[str]:
    """Every data file of snapshots with id > ``after_snapshot`` —
    planned from the manifest, no filesystem listing."""
    out: list[str] = []
    for snap in load_manifest(table_path):
        if snap["snapshot_id"] > after_snapshot:
            out.extend(snap["files"])
    return out


def content_files(table_path: str, snapshot_id: int | None = None) -> list[str]:
    """The data files that make up the table CONTENT as of
    ``snapshot_id`` (default latest): files of every snapshot from the
    most recent overwrite/replace boundary at or before the requested
    id through the requested id (an append adds files; an overwrite or
    a compaction's replace snapshot supersedes everything before it —
    older snapshots stay on disk and time-travelable)."""
    manifest = load_manifest(table_path)
    if not manifest:
        raise FileNotFoundError(f"no table at {table_path}")
    if snapshot_id is None:
        snapshot_id = manifest[-1]["snapshot_id"]
    window = [s for s in manifest if s["snapshot_id"] <= snapshot_id]
    if not window:
        raise ValueError(f"no snapshot <= {snapshot_id}")
    start = 0
    for i, s in enumerate(window):
        if s["operation"] in ("overwrite", "replace"):
            start = i
    return [f for s in window[start:] for f in s["files"]]


def read_table(
    spark: SparkSession,
    table_path: str,
    *,
    snapshot_id: int | None = None,
    merge_schema: bool = False,
) -> DataFrame:
    """The table's rows as of ``snapshot_id`` (default: latest) — time
    travel by reading only that snapshot's ``content_files``.
    ``merge_schema=True`` unions schemas across snapshots (columns
    added by later appends read as NULL in older files — the standard
    additive schema-evolution contract)."""
    files = content_files(table_path, snapshot_id)
    if not files:
        raise ValueError(f"snapshot {snapshot_id} has no files")
    reader = spark.read.option("basePath", os.path.join(table_path, "data"))
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    return reader.parquet(*[_decode_file_uri(f) for f in files])


def compact_table(
    spark: SparkSession,
    table_path: str,
    *,
    num_files: int | None = None,
    zorder_cols: list[str] | None = None,
    zorder_modes: list[str] | None = None,
) -> int:
    """Table-maintenance rewrite (Iceberg's rewrite_data_files /
    OPTIMIZE): read the current content, rewrite it as ONE new
    ``replace`` snapshot — either coalesced to ``num_files`` (default:
    one file per ~128 MB of current content, minimum 1) or z-order
    clustered on ``zorder_cols`` (``sources.zorder.zorder_layout``, the
    OPTIMIZE ZORDER BY analogue — data-skipping stats get tight on
    every z-dimension). Older snapshots stay time-travelable; readers
    at the new snapshot see only the compacted files. Returns the new
    snapshot id."""
    cur = content_files(table_path)
    df = read_table(spark, table_path)
    if num_files is None:
        total = sum(os.path.getsize(_decode_file_uri(f)) for f in cur)
        num_files = max(1, total // (128 << 20))
    if zorder_cols is not None:
        from prefix_filter_spark.sources.zorder import zorder_layout

        out = zorder_layout(df, zorder_cols, int(num_files), modes=zorder_modes)
    else:
        out = df.coalesce(int(num_files))
    return _commit_snapshot(out, table_path, "replace")


def update_table_index(
    spark: SparkSession,
    table_path: str,
    index_path: str,
    key_col: str,
    cfg=None,
) -> int:
    """Make the membership index at ``index_path`` cover the table's
    current ``content_files``, planned from the manifest (O(1) metadata,
    no listing): scan only content files with no index row yet, or
    rebuild when the index lists files an overwrite or compaction
    superseded. A replay, also after a crash, indexes zero files.
    Returns newly indexed file count (``file_index.append_index_updates``
    is the listing-planned twin)."""
    from prefix_filter_spark.sources import file_index as fidx

    return fidx._refresh(
        spark,
        content_files(table_path),
        index_path,
        key_col,
        cfg or fidx.FileIndexConfig(),
        os.path.join(table_path, "data"),
    )


def table_health(table_path: str, *, small_file_bytes: int = 32 << 20) -> dict:
    """Maintenance diagnostics from the manifest + file sizes (driver-
    side metadata only — no Spark job): snapshot counts by operation,
    content file count/bytes, small-file ratio, and a compaction
    recommendation (the check an ops loop runs before deciding to pay
    ``compact_table``'s rewrite). Streaming sinks create one snapshot
    per micro-batch, so small-file buildup is the expected failure
    mode this watches for."""
    manifest = load_manifest(table_path)
    if not manifest:
        raise FileNotFoundError(f"no table at {table_path}")
    files = content_files(table_path)
    sizes = [os.path.getsize(_decode_file_uri(f)) for f in files]
    n_small = sum(1 for s in sizes if s < small_file_bytes)
    ops: dict[str, int] = {}
    for s in manifest:
        ops[s["operation"]] = ops.get(s["operation"], 0) + 1
    total = sum(sizes)
    return {
        "latest_snapshot": manifest[-1]["snapshot_id"],
        "n_snapshots": len(manifest),
        "ops": ops,
        "n_content_files": len(files),
        "content_bytes": total,
        "mean_file_bytes": total // max(len(files), 1),
        "small_file_ratio": n_small / max(len(files), 1),
        "recommend_compaction": len(files) > 4
        and n_small / max(len(files), 1) > 0.5,
    }


def expire_snapshots(table_path: str, *, keep_last: int = 1) -> dict:
    """VACUUM: drop history beyond the last ``keep_last`` snapshots and
    delete data files no retained snapshot can reach (Iceberg's
    expire_snapshots + remove_orphan_files in one step for this
    layout). The retained window keeps time travel working for every
    remaining id; the CURRENT content is never touched (a content file
    of the latest snapshot is always reachable). Returns {"expired":
    [ids], "deleted_files": n, "kept": [ids]}.

    Safety shape: the manifest flips FIRST (atomically) so a crash
    between the flip and the file deletions only leaves orphans (re-run
    to finish), never a manifest pointing at deleted files."""
    import shutil

    manifest = load_manifest(table_path)
    if not manifest:
        raise FileNotFoundError(f"no table at {table_path}")
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    # the retention window is anchored at the CONTENT BOUNDARY of its
    # oldest requested snapshot: an append's content reaches back to
    # the latest overwrite/replace at or before it, so truncating the
    # manifest mid-window would silently drop reachable files from
    # every later read. Extend keep_last backward to that boundary.
    start = max(0, len(manifest) - keep_last)
    anchor = 0
    for i, s in enumerate(manifest[: start + 1]):
        if s["operation"] in ("overwrite", "replace"):
            anchor = i
    kept = manifest[anchor:]
    expired = manifest[:anchor]
    if not expired:
        return {
            "expired": [],
            "deleted_files": 0,
            "kept": [s["snapshot_id"] for s in kept],
        }
    # expired snapshots sit strictly before the kept window's boundary,
    # so no kept snapshot's content can reach them — their files are
    # dead unless a kept snapshot re-lists the same file name
    reachable = {f for s in kept for f in s["files"]}
    dead = [f for s in expired for f in s["files"] if f not in reachable]
    # manifest first (atomic), deletions second — see docstring
    _flip_manifest(table_path, kept)
    n_del = 0
    for f in dead:
        p = _decode_file_uri(f)
        if os.path.exists(p):
            os.remove(p)
            n_del += 1
    # sweep now-empty snapshot dirs
    data_dir = os.path.join(table_path, "data")
    if os.path.isdir(data_dir):
        for d in os.listdir(data_dir):
            full = os.path.join(data_dir, d)
            if os.path.isdir(full) and not any(
                name.endswith(".parquet") for name in os.listdir(full)
            ):
                shutil.rmtree(full, ignore_errors=True)
    return {
        "expired": [s["snapshot_id"] for s in expired],
        "deleted_files": n_del,
        "kept": [s["snapshot_id"] for s in kept],
    }
