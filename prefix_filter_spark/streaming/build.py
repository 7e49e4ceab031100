"""Structured-streaming sketch builds.

The reference filters are incremental by design (`Add` one key at a
time, wrappers.hpp:675-720); the streaming form recovers exactly that:
each micro-batch builds partial shard states, which merge associatively
into the running state (bit-identical to a batch build over the union —
the property the merge tests pin down). Two shapes:

- ``foreach_batch_build``: exactly-once accumulation into a parquet
  state store via foreachBatch (the recommended custom-sink pattern);
  works for every mergeable sketch in the library: ``merge_fn`` is its
  config, whose family record merges (``base.merge_shard_states``).
- five ``streaming_*_by_source`` ops (HLL distinct, Misra-Gries heavy
  hitters, KLL and DDSketch quantiles, the six-sketch token profile):
  one applyInPandasWithState runner keeps each ``source``'s running
  sketch states in the streaming state store.
"""

from __future__ import annotations

from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import IntegralType

from prefix_filter_spark.sketches import base


def foreach_batch_build(
    stream_df: DataFrame,
    key_col: str,
    *,
    build_fn: Callable[[DataFrame, str], DataFrame],
    merge_fn,  # the sketch's config — see base.merge_shard_states
    state_path: str,
    checkpoint_dir: str,
    trigger_once: bool = True,
):
    """writeStream.foreachBatch: per-batch partial build + merge into the
    parquet shard-state store. Returns the started StreamingQuery.

    Replay safety (foreachBatch is at-least-once): the last applied
    epoch id is persisted INSIDE the state directory (``_epoch.json``;
    underscore-prefixed files are invisible to parquet readers) and the
    promote is a directory rename — state and marker commit atomically,
    so there is no crash window where the state was promoted but the
    epoch was not recorded (re-merging is NOT idempotent for additive
    sketches: CMS counters, KLL/t-digest samples would double-count).
    A round-1 side-file marker (``<state>.last_epoch``) is still
    honored on read and removed after the first atomic promote.

    Store restriction: the state/marker bookkeeping uses driver-local
    ``os`` calls, so ``state_path`` must be a driver-visible local
    path (file: / NFS). For a remote object store (s3a://, hdfs://)
    route the promote through the Hadoop FileSystem API instead —
    os.path guards silently never engage there.
    """
    import json
    import os
    import shutil

    from pyspark.errors import AnalysisException

    spark = stream_df.sparkSession
    legacy_marker = state_path + ".last_epoch"
    old_path = state_path + ".old"

    def read_marker() -> dict | None:
        # crash recovery: a promote that renamed the previous state away
        # but died before renaming the new one in leaves state_path
        # missing and .old present — restore the previous state+marker
        # (the interrupted epoch was never recorded, so it will replay)
        if not os.path.isdir(state_path) and os.path.isdir(old_path):
            os.rename(old_path, state_path)
        in_dir = os.path.join(state_path, "_epoch.json")
        if os.path.exists(in_dir):
            with open(in_dir) as f:
                return json.load(f)
        if os.path.exists(legacy_marker):
            with open(legacy_marker) as f:
                return json.load(f)
        return None

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        # epoch ids are scoped to a checkpoint: a NEW stream (fresh
        # checkpoint dir) over the same state store restarts at epoch 0
        # and must not be mistaken for a replay
        marker = read_marker()
        if (
            marker is not None
            and marker.get("checkpoint") == checkpoint_dir
            and epoch_id <= marker["epoch"]
        ):
            return  # at-least-once replay of an applied batch
        partial = build_fn(batch_df, key_col)
        try:
            existing = spark.read.parquet(state_path)
            existing.first()  # force the read so corruption fails HERE
        except AnalysisException as e:
            # ONLY a missing path means "first batch" — any other read
            # failure must abort, or the accumulated state would be
            # silently overwritten with this batch's partials alone
            if "PATH_NOT_FOUND" not in str(e) and "Path does not exist" not in str(e):
                raise
            existing = None
        if existing is None:
            merged = partial
        else:
            merged = base.merge_shard_states(
                existing.unionByName(partial), {merge_fn.family.sketch_name(merge_fn): merge_fn}
            )
        # write-then-swap: materialize to a scratch dir (the merged plan
        # reads state_path, which an in-place overwrite would clobber
        # mid-read), stamp the epoch into the scratch dir, then promote
        # scratch -> state in one rename
        scratch = state_path + ".next"
        shutil.rmtree(scratch, ignore_errors=True)
        merged.write.mode("overwrite").parquet(scratch)
        with open(os.path.join(scratch, "_epoch.json"), "w") as f:
            json.dump({"checkpoint": checkpoint_dir, "epoch": epoch_id}, f)
        shutil.rmtree(old_path, ignore_errors=True)
        if os.path.isdir(state_path):
            os.rename(state_path, old_path)
        os.rename(scratch, state_path)
        shutil.rmtree(old_path, ignore_errors=True)
        if os.path.exists(legacy_marker):
            os.remove(legacy_marker)

    writer = stream_df.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _by_source(
    df: DataFrame,
    sketches: dict,
    emit: Callable[[dict, int, int], dict],
    output_schema: str,
    timeout: str,
):
    """Running per-``source`` sketch states via applyInPandasWithState.

    ``sketches``: {state_field: (input_col, cfg)}. Each trigger folds an
    input column's non-NULL values into a fresh accumulator per sketch
    and merges it into the group's running state with the config's
    family merge. The state struct is one binary
    field per sketch plus ``n_rows long``, the group's rows so far.
    ``emit(states, batch_rows, n_rows)`` returns the output row's
    columns after ``source``, as ``output_schema`` lists them.
    """
    timeout_conf = getattr(GroupStateTimeout, timeout, None)
    if timeout_conf is None:
        raise ValueError(
            f"unknown timeout {timeout!r}; expected a GroupStateTimeout "
            "name (NoTimeout, ProcessingTimeTimeout, EventTimeTimeout)"
        )
    cols = {col for col, _ in sketches.values()}
    # a nullable integral column reaches pandas as float64, which loses
    # the bits above 2^53: ship it NULL-free beside its validity flag
    integral = {c for c in cols if isinstance(df.schema[c].dataType, IntegralType)}
    df = df.withColumns(
        {
            **{f"{c}__valid": F.col(c).isNotNull() for c in integral},
            **{c: F.coalesce(F.col(c), F.lit(0)) for c in integral},
        }
    )

    def values(pdf: pd.DataFrame, c: str) -> np.ndarray:
        if c in integral:
            return pdf[c].to_numpy()[pdf[f"{c}__valid"].to_numpy()]
        return pdf[c].dropna().to_numpy()

    def update(key, pdfs, state: GroupState):
        accs = {f: cfg.family.accumulator(cfg) for f, (_, cfg) in sketches.items()}
        rows = 0
        for pdf in pdfs:
            rows += len(pdf)
            vals = {c: values(pdf, c) for c in cols}
            for f, (c, _) in sketches.items():
                accs[f].update(vals[c])
        states = {f: acc.to_bytes() for f, acc in accs.items()}
        n_rows = rows
        if state.exists:
            prev = state.get
            n_rows += int(prev[-1])
            states = {
                f: cfg.family.merge_states([bytes(prev[i]), states[f]], cfg, 0)
                for i, (f, (_, cfg)) in enumerate(sketches.items())
            }
        state.update((*states.values(), n_rows))
        out = {"source": key[0], **emit(states, rows, n_rows)}
        yield pd.DataFrame({k: [v] for k, v in out.items()})

    fields = ", ".join(f"{f} binary" for f in sketches)
    return df.groupBy("source").applyInPandasWithState(
        update,
        outputStructType=f"source string, {output_schema}",
        stateStructType=f"{fields}, n_rows long",
        outputMode="update",
        timeoutConf=timeout_conf,
    )


def _quantile_names(qs) -> list[str]:
    # round() — int() truncates under float representation (0.29*100 ==
    # 28.999... would name the 29th percentile column 'q28')
    q_names = [f"q{int(round(q * 100))}" for q in qs]
    if len(set(q_names)) != len(q_names):
        raise ValueError(
            f"quantiles {qs} collide at whole-percent column names "
            f"{q_names}; pick distinct percents"
        )
    return q_names


def streaming_distinct_by_source(
    events: DataFrame,
    *,
    p: int = 12,
    seed: int = 42,
    timeout: str = "NoTimeout",
):
    """Stateful streaming op: running HLL distinct-token estimate per
    `source`, state = serialized registers (applyInPandasWithState).

    Input stream schema: (source string, token long). Output per batch:
    (source, n_distinct_est double, n_rows bigint) — ``n_rows`` counts
    this batch's rows of the source.
    """
    from prefix_filter_spark.sketches import hll

    return _by_source(
        events,
        {"state": ("token", hll.HllConfig(p=p, seed=seed))},
        lambda st, rows, _: {"n_distinct_est": hll.estimate(st["state"]), "n_rows": rows},
        "n_distinct_est double, n_rows long",
        timeout,
    )


def streaming_heavy_hitters_by_source(
    tokens: DataFrame,
    *,
    k: int = 256,
    timeout: str = "NoTimeout",
):
    """Stateful streaming op: running Misra-Gries heavy-hitter summary
    per `source`; state = the serialized MG counter map (bounded at k
    counters regardless of stream length, so the state store never
    grows with the data — the property that makes MG the streaming
    heavy-hitter sketch).

    Input stream schema: (source string, token string). Output per
    batch: (source, n_total, err, top_token, top_est) — the running
    leader with its deterministic bound est <= true <= est + err.
    """
    from prefix_filter_spark.sketches import mg

    def emit(st, _rows, _n_rows):
        total, err, counts = mg.estimates(st["state"])
        top_token, top_est = (None, None)
        if counts:
            top_token = max(counts, key=lambda t: (counts[t], t))
            top_est = counts[top_token]
        return {"n_total": total, "err": err, "top_token": top_token, "top_est": top_est}

    return _by_source(
        tokens,
        {"state": ("token", mg.MgConfig(k=k))},
        emit,
        "n_total long, err long, top_token string, top_est long",
        timeout,
    )


def streaming_quantiles_by_source(
    values: DataFrame,
    *,
    k: int = 200,
    seed: int = 42,
    qs: tuple[float, ...] = (0.5, 0.95, 0.99),
    timeout: str = "NoTimeout",
):
    """Stateful streaming op: running KLL quantile estimates per
    ``source`` — the streaming twin of ``sketches.kll.build_kll``,
    completing the stateful family (HLL distinct, MG heavy hitters,
    sessionization, now rank statistics). State = one serialized KLL
    sketch per source: O(k·log(n/k)) floats regardless of stream
    length, so the state store never grows with the data.

    Input stream schema: (source string, value double). Output per
    batch: (source, n_rows_total, q50, q95, q99, rank_eps) — every
    estimate carries the sketch's published rank-ε so downstream
    consumers can gate on it (north rule: estimates within published
    ε/δ).
    """
    from prefix_filter_spark.sketches import kll

    cfg = kll.KllConfig(k=k, seed=seed)
    q_names = _quantile_names(qs)

    def emit(st, _rows, n_rows):
        est = kll.KllSketch.from_bytes(st["state"], cfg).quantiles(list(qs))
        return {
            "n_rows_total": n_rows,
            **{n: float(v) for n, v in zip(q_names, est.tolist())},
            "rank_eps": cfg.rank_eps(),
        }

    cols = ", ".join(f"{n} double" for n in q_names)
    return _by_source(
        values,
        {"state": ("value", cfg)},
        emit,
        f"n_rows_total long, {cols}, rank_eps double",
        timeout,
    )


def streaming_dds_quantiles_by_source(
    values: DataFrame,
    *,
    alpha: float = 0.01,
    max_bins: int = 2048,
    qs: tuple[float, ...] = (0.5, 0.95, 0.99),
    timeout: str = "NoTimeout",
):
    """Running DDSketch (relative-error) quantiles per ``source`` — the
    streaming twin of ``sketches.dds.build_dds``, beside the KLL twin
    above. Because DDSketch state is exact integer bucket counts, the
    running state after any trigger chopping is BIT-IDENTICAL to a
    batch build over the rows seen so far (stronger than the KLL twin's
    epsilon contract; pytest-pinned) — PROVIDED no bucket store
    exceeds max_bins (collapse timing is chunk-dependent; see the
    dds module docstring). State per source: <= max_bins
    counts per sign store — fixed, stream-length-independent.

    Input stream schema: (source string, value double). Output per
    batch: (source, n_rows_total, q50..., alpha).
    """
    from prefix_filter_spark.sketches import dds

    cfg = dds.DDSketchConfig(alpha=alpha, max_bins=max_bins)
    q_names = _quantile_names(qs)

    def emit(st, _rows, _n_rows):
        sk = dds.DDSketch.from_bytes(st["state"])
        est = sk.quantiles(list(qs))
        return {
            # count what the sketch counts: NULL and non-finite values
            # are not in the sketch, so they are not in n_rows_total
            "n_rows_total": sk.n,
            **{n: float(v) for n, v in zip(q_names, est.tolist())},
            "alpha": cfg.alpha,
        }

    cols = ", ".join(f"{n} double" for n in q_names)
    return _by_source(
        values,
        {"state": ("value", cfg)},
        emit,
        f"n_rows_total long, {cols}, alpha double",
        timeout,
    )


def streaming_token_profile_by_source(
    events: DataFrame,
    *,
    timeout: str = "NoTimeout",
):
    """Streaming twin of ``operators.profile.token_sketch_profile``:
    the per-``source`` running SIX-sketch observability suite (HLL +
    KMV distinct, CMS frequencies, Misra-Gries heavy hitters, KLL +
    t-digest quantiles) as ONE applyInPandasWithState operator — six
    sketches, one pass over the stream, O(six small states) per group.

    Input stream schema mirrors the batch projection: (source string,
    token long, ntok_once long) — every token occurrence once in
    ``token``, each doc's n_tok exactly once in ``ntok_once`` (NULL on
    every other row of the doc; the NULL skip routes it only to the
    quantile sketches).

    Output per (batch, source): the six serialized states (queryable
    downstream with functions.register_sketch_sql — hll_estimate /
    cms_point / kll_quantile / ... over the output table) plus
    headline estimates and the cumulative row count ``n_total`` (the
    final row per source = max n_total).

    Equivalence to batch (pytest, test_token_profile.py): the
    canonical-merge sketches (HLL register-max, CMS counter-add, KMV
    k-min union) finish BIT-IDENTICAL to a batch
    ``build_partials_multi`` over the same rows under ANY trigger
    chopping; MG/KLL/t-digest finish within their published
    merge-order bounds (their states are not canonical under
    regrouping — same caveat their batch merge tests pin).
    """
    from prefix_filter_spark.sketches import cms, hll, kll, kmv, mg, tdigest

    def emit(st, _rows, n_rows):
        return {
            "n_total": n_rows,
            "distinct_est": hll.estimate(st["hll"]),
            "total_tokens": cms.total_count(st["cms"]),
            "p50_ntok": kll.KllSketch.from_bytes(st["kll"]).quantile(0.5),
            **st,
        }

    return _by_source(
        events,
        {
            "hll": ("token", hll.HllConfig()),
            "cms": ("token", cms.CmsConfig()),
            "mg": ("token", mg.MgConfig()),
            "kmv": ("token", kmv.KmvConfig()),
            "kll": ("ntok_once", kll.KllConfig()),
            "td": ("ntok_once", tdigest.TDigestConfig()),
        },
        emit,
        "n_total long, distinct_est double, total_tokens long, p50_ntok double, "
        "hll binary, cms binary, mg binary, kmv binary, kll binary, td binary",
        timeout,
    )
