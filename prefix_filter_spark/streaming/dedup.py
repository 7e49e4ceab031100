"""Streaming dedup: keep each document's FIRST occurrence.

The streaming form of the reference's incremental Add+Contain loop
(/root/reference/Tests/wrappers.hpp:675-720 insert, :648-659 probe):
probe-then-insert per arriving key, which is exactly first-seen dedup.
Two shapes, both Spark-first:

- ``streaming_dedup_exact``: the built-in operator —
  ``withWatermark`` + ``dropDuplicatesWithinWatermark`` on the doc
  fingerprint. Exact inside the watermark horizon; Spark owns state
  eviction, so state is bounded by (arrival rate x horizon).
- ``streaming_dedup_amq``: the sketch-library answer when the dedup
  horizon is UNBOUNDED and exact per-fingerprint state would grow
  without limit: per-shard state is one of the library's own Bloom
  filter states (``sketches/bloom.py`` — same bytes the batch builds
  produce), FIXED size forever. Zero false negatives: a true duplicate
  can never pass, because its fingerprint hash was inserted when the
  first copy passed (the filter's zero-FN contract, hard-asserted
  across the library). False positives wrongly drop unique docs at
  <= the filter's closed-form FPR at the configured load — the
  documented, bounded cost of O(1) state (tested: planted dups all
  die, unique survival within the bound).

Scale shape: the stream shuffles once on the shard key (the same
fastrange shard assignment as the batch library, ``plans/sharding``),
each shard's state is a fixed-size byte blob in the state store, and
all per-row work is vectorized NumPy over Arrow batches — no per-row
Python.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from prefix_filter_spark.hashing import as_u64
from prefix_filter_spark.plans.sharding import hashed_key_col, shard_col
from prefix_filter_spark.sketches import bloom


def doc_fingerprint_col(text_col: str = "text"):
    """128-bit content fingerprint (md5 hex) — the same normalization-
    free fingerprint the batch exact-dedup gate uses."""
    return F.md5(F.col(text_col))


def streaming_dedup_exact(
    docs: DataFrame,
    *,
    time_col: str = "ts",
    delay: str = "10 minutes",
    text_col: str = "text",
) -> DataFrame:
    """First-occurrence pass-through, exact within the watermark
    horizon. Output = input columns + ``fingerprint``; a later copy of
    a fingerprint seen within ``delay`` of the watermark is dropped.

    This is the idiomatic built-in: state eviction, late-data
    semantics, and recovery all belong to Spark. Use the AMQ variant
    when the horizon must be unbounded."""
    return (
        docs.withColumn("fingerprint", doc_fingerprint_col(text_col))
        .withWatermark(time_col, delay)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


def streaming_dedup_amq(
    docs: DataFrame,
    cfg: bloom.BloomConfig,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """First-occurrence pass-through with O(1) per-shard state: the
    arriving doc's fingerprint hash is probed against the shard's
    Bloom state and the row survives only on a miss, then the batch's
    survivors are OR-merged into the state (probe-then-insert, the
    reference's incremental loop in vectorized form).

    Output per surviving doc: (doc_id, shard, fingerprint). Duplicates
    WITHIN one Arrow batch keep their first occurrence (stable
    np.unique), so results don't depend on batch boundaries.

    ``cfg.n_capacity`` should be sized to the expected number of
    UNIQUE docs over the stream's lifetime; beyond it the FPR (the
    unique-doc drop rate) degrades smoothly per the closed form —
    there is no hard failure."""
    h = hashed_key_col(doc_fingerprint_col(text_col), cfg.seed)
    keyed = docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        h.alias("_h"),
        shard_col(h, cfg.num_shards).alias("shard"),
        doc_fingerprint_col(text_col).alias("fingerprint"),
    )

    def update(key, pdfs, state: GroupState):
        if state.exists:
            (blob,) = state.get
        else:
            blob = bloom.build_state(cfg, 0, np.zeros(0, dtype=np.uint64))
        for pdf in pdfs:
            hs = as_u64(pdf["_h"].to_numpy())
            if len(hs) == 0:
                continue
            seen = bloom.probe_state(cfg, blob, 0, hs)
            # stable within-batch first occurrence: np.unique's
            # return_index points at the FIRST index of each value
            first = np.zeros(len(hs), dtype=bool)
            _, first_idx = np.unique(hs, return_index=True)
            first[first_idx] = True
            keep = (~seen) & first
            if keep.any():
                blob = bloom.merge_states(
                    [blob, bloom.build_state(cfg, 0, hs[keep])]
                )
                out = pdf.loc[keep, ["doc_id", "fingerprint"]].copy()
                out.insert(1, "shard", int(key[0]))
                yield out
        state.update((blob,))

    return keyed.groupBy("shard").applyInPandasWithState(
        update,
        outputStructType="doc_id string, shard int, fingerprint string",
        stateStructType="state binary",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_dedup_amq_aged(
    docs: DataFrame,
    cfg: bloom.BloomConfig,
    *,
    generations: int = 4,
    gen_capacity: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Generation-rotated AMQ dedup: fixed state AND bounded FPR on an
    UNBOUNDED stream — the fix for ``streaming_dedup_amq``'s documented
    degradation once lifetime uniques exceed ``n_capacity``.

    Per shard the state is ``generations`` equal-size Bloom blobs (one
    concatenated binary — constant bytes forever) plus the current
    generation's insert count. Probe = hit in ANY live generation;
    survivors insert into the NEWEST; when it reaches ``gen_capacity``
    inserts the OLDEST generation is dropped and a fresh one appended
    (the age-partitioned-Bloom idea — Shtul/Baquero/Almeida 2021 —
    in its plain rotation form).

    Guarantees (tested):
    - a duplicate arriving within the retention window — while its
      first copy's generation is live, i.e. at least the last
      ``(generations-1) * gen_capacity`` unique insertions — NEVER
      passes (per-generation zero-FN);
    - unique docs are wrongly dropped at <= generations x the
      per-generation closed-form FPR, FOREVER (each generation's load
      is capped at gen_capacity, so FPR cannot creep with stream age);
    - duplicates older than the window may pass again — the same
      bounded-horizon semantics the exact variant has via its
      watermark, with the horizon measured in uniques, not time.

    ``cfg.n_capacity`` sizes ONE generation's bits;``gen_capacity``
    defaults to ``cfg.n_capacity`` (rotate at nominal load). Rotation
    is checked per Arrow batch, so a generation can overshoot by at
    most one batch — FPR-smooth, never a correctness cliff.
    """
    if generations < 2:
        raise ValueError("generations must be >= 2 (one live, one aging)")
    gen_cap = int(gen_capacity or cfg.n_capacity)
    h = hashed_key_col(doc_fingerprint_col(text_col), cfg.seed)
    keyed = docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        h.alias("_h"),
        shard_col(h, cfg.num_shards).alias("shard"),
        doc_fingerprint_col(text_col).alias("fingerprint"),
    )
    empty = bloom.build_state(cfg, 0, np.zeros(0, dtype=np.uint64))
    blob_len = len(empty)

    def update(key, pdfs, state: GroupState):
        if state.exists:
            packed, n_cur = state.get
            gens = [
                bytes(packed[i * blob_len : (i + 1) * blob_len])
                for i in range(generations)
            ]
        else:
            gens, n_cur = [empty] * generations, 0
        for pdf in pdfs:
            hs = as_u64(pdf["_h"].to_numpy())
            if len(hs) == 0:
                continue
            g = bloom.seed_mix(hs, cfg.seed)
            seen = np.zeros(len(hs), dtype=bool)
            for blob in gens:
                seen |= bloom._contains(*bloom._open(blob), g)
            first = np.zeros(len(hs), dtype=bool)
            _, first_idx = np.unique(hs, return_index=True)
            first[first_idx] = True
            keep = (~seen) & first
            if keep.any():
                gens[-1] = bloom.merge_states(
                    [gens[-1], bloom.build_state(cfg, 0, hs[keep])]
                )
                n_cur += int(keep.sum())
                out = pdf.loc[keep, ["doc_id", "fingerprint"]].copy()
                out.insert(1, "shard", int(key[0]))
                yield out
            if n_cur >= gen_cap:
                gens = gens[1:] + [empty]  # retire oldest, fresh newest
                n_cur = 0
        state.update((b"".join(gens), n_cur))

    return keyed.groupBy("shard").applyInPandasWithState(
        update,
        outputStructType="doc_id string, shard int, fingerprint string",
        stateStructType="state binary, n_current long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
