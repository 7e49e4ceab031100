"""Structured-Streaming sink into the snapshot-manifest table layout.

Each micro-batch commits as ONE append snapshot of a
``sources/iceberg.py`` table (the Iceberg streaming-sink shape: a
stream becomes a chain of small immutable snapshots, queryable and
time-travelable mid-stream), optionally followed by a snapshot-aware
membership-index update so data skipping trails ingestion by zero
snapshots.

Exactly-once on top of foreachBatch's at-least-once: the (checkpoint,
epoch) pair rides the snapshot's ``properties`` and therefore commits
in the SAME atomic manifest flip as the file list — a replayed epoch
finds its marker in the manifest and commits nothing, and there is no
crash window where data committed but the marker did not (the
round-4 ``foreach_batch_build`` lesson, solved here by colocation
instead of a rename dance). On a replayed epoch ``update_table_index``
finds every content file indexed already and is a no-op.

Store restriction (same as the manifest layer): driver-visible local
paths; an object-store deployment routes the manifest through its own
atomic-rename primitive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from prefix_filter_spark.sources import iceberg as ice


def last_committed_epoch(table_path: str, checkpoint_dir: str) -> int | None:
    """Highest epoch id this checkpoint has committed to the table, or
    None — read straight off the manifest properties."""
    best = None
    for snap in ice.load_manifest(table_path):
        props = snap.get("properties") or {}
        if props.get("checkpoint") == checkpoint_dir and "epoch" in props:
            e = int(props["epoch"])
            best = e if best is None else max(best, e)
    return best


def foreach_batch_table_sink(
    stream_df: DataFrame,
    table_path: str,
    *,
    checkpoint_dir: str,
    partition_by: list[str] | None = None,
    key_col: str | None = None,
    index_path: str | None = None,
    index_cfg=None,
    trigger_once: bool = True,
):
    """writeStream.foreachBatch → snapshot commits. Returns the started
    StreamingQuery.

    When ``key_col`` and ``index_path`` are given, every commit is
    followed by ``ice.update_table_index``, which scans only the files
    with no index row yet (the batch's), so a reader composing
    ``prune_files`` over the index sees every row the moment its
    snapshot lands."""
    spark = stream_df.sparkSession

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        done = last_committed_epoch(table_path, checkpoint_dir)
        if done is None or epoch_id > done:
            ice.write_table(
                batch_df,
                table_path,
                mode="append",
                partition_by=partition_by,
                properties={"checkpoint": checkpoint_dir, "epoch": int(epoch_id)},
            )
        # else: at-least-once replay of a committed epoch — no snapshot
        if key_col is not None and index_path is not None:
            # indexes only files with no row — safe on replays and
            # catches up any snapshot whose index update crashed
            ice.update_table_index(
                spark, table_path, index_path, key_col, index_cfg
            )

    writer = stream_df.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
