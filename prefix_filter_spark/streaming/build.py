"""Structured-streaming sketch builds.

The reference filters are incremental by design (`Add` one key at a
time, wrappers.hpp:675-720); the streaming form recovers exactly that:
each micro-batch builds partial shard states, which merge associatively
into the running state (bit-identical to a batch build over the union —
the property the merge tests pin down). Two shapes:

- ``foreach_batch_build``: exactly-once accumulation into a parquet
  state store via foreachBatch (the recommended custom-sink pattern);
  works for every sketch in the library: filters merge through their
  config's family record, the other sketches through ``merge_states``.
- ``streaming_distinct_by_source``: applyInPandasWithState showcase —
  per-`source` running distinct-token estimate with HLL state kept in
  the streaming state store.
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from prefix_filter_spark.sketches import base


def foreach_batch_build(
    stream_df: DataFrame,
    key_col: str,
    *,
    build_fn: Callable[[DataFrame, str], DataFrame],
    merge_fn,  # a filter config (its family's shard-aware merge) or
    # f(states) for the global-state sketches — see base.merge_shard_states
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
            merged = base.merge_shard_states(existing.unionByName(partial), merge_fn)
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
    (source, n_distinct_est double, n_rows bigint).
    """
    from prefix_filter_spark.sketches import hll

    cfg = hll.HllConfig(p=p, seed=seed)

    def update(key, pdfs, state: GroupState):
        acc = hll.HllAccumulator(cfg)
        if state.exists:
            (blob,) = state.get
            merged_prev = blob
        else:
            merged_prev = None
        rows = 0
        for pdf in pdfs:
            acc.update(pdf["token"].to_numpy())
            rows += len(pdf)
        new_state = acc.to_bytes()
        if merged_prev is not None:
            new_state = hll.merge_states([merged_prev, new_state])
        state.update((new_state,))
        yield pd.DataFrame(
            {
                "source": [key[0]],
                "n_distinct_est": [hll.estimate(new_state)],
                "n_rows": [rows],
            }
        )

    timeout_conf = getattr(GroupStateTimeout, timeout, None)
    if timeout_conf is None:
        raise ValueError(
            f"unknown timeout {timeout!r}; expected a GroupStateTimeout "
            "name (NoTimeout, ProcessingTimeTimeout, EventTimeTimeout)"
        )
    return events.groupBy("source").applyInPandasWithState(
        update,
        outputStructType="source string, n_distinct_est double, n_rows long",
        stateStructType="state binary",
        outputMode="update",
        timeoutConf=timeout_conf,
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

    cfg = mg.MgConfig(k=k)

    def update(key, pdfs, state: GroupState):
        acc = mg.MgAccumulator(cfg)
        for pdf in pdfs:
            acc.update(pdf["token"].to_numpy())
        new_state = acc.to_bytes()
        if state.exists:
            (blob,) = state.get
            new_state = mg.merge_states([bytes(blob), new_state])
        state.update((new_state,))
        total, err, counts = mg.estimates(new_state)
        top_token, top_est = (None, None)
        if counts:
            top_token = max(counts, key=lambda t: (counts[t], t))
            top_est = counts[top_token]
        yield pd.DataFrame(
            {
                "source": [key[0]],
                "n_total": [total],
                "err": [err],
                "top_token": [top_token],
                "top_est": [top_est],
            }
        )

    timeout_conf = getattr(GroupStateTimeout, timeout, None)
    if timeout_conf is None:
        raise ValueError(
            f"unknown timeout {timeout!r}; expected a GroupStateTimeout "
            "name (NoTimeout, ProcessingTimeTimeout, EventTimeTimeout)"
        )
    return tokens.groupBy("source").applyInPandasWithState(
        update,
        outputStructType=(
            "source string, n_total long, err long, "
            "top_token string, top_est long"
        ),
        stateStructType="state binary",
        outputMode="update",
        timeoutConf=timeout_conf,
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
    # round() — int() truncates under float representation (0.29*100 ==
    # 28.999... would name the 29th percentile column 'q28')
    q_names = [f"q{int(round(q * 100))}" for q in qs]
    if len(set(q_names)) != len(q_names):
        raise ValueError(
            f"quantiles {qs} collide at whole-percent column names "
            f"{q_names}; pick distinct percents"
        )

    def update(key, pdfs, state: GroupState):
        acc = kll.KllSketch(cfg)
        rows = 0
        for pdf in pdfs:
            vals = pdf["value"].to_numpy(dtype="float64")
            acc.update(vals)
            rows += len(vals)
        new_state = acc.to_bytes()
        if state.exists:
            (blob, prev_rows) = state.get
            new_state = kll.merge_states([bytes(blob), new_state])
            rows += int(prev_rows)
        state.update((new_state, rows))
        sk = kll.KllSketch.from_bytes(new_state, cfg)
        est = sk.quantiles(list(qs))
        out = {"source": [key[0]], "n_rows_total": [rows]}
        for name, v in zip(q_names, est.tolist()):
            out[name] = [float(v)]
        out["rank_eps"] = [cfg.rank_eps()]
        yield pd.DataFrame(out)

    timeout_conf = getattr(GroupStateTimeout, timeout, None)
    if timeout_conf is None:
        raise ValueError(
            f"unknown timeout {timeout!r}; expected a GroupStateTimeout "
            "name (NoTimeout, ProcessingTimeTimeout, EventTimeTimeout)"
        )
    cols = ", ".join(f"{n} double" for n in q_names)
    return values.groupBy("source").applyInPandasWithState(
        update,
        outputStructType=(
            f"source string, n_rows_total long, {cols}, rank_eps double"
        ),
        stateStructType="state binary, n_rows long",
        outputMode="update",
        timeoutConf=timeout_conf,
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
    q_names = [f"q{int(round(q * 100))}" for q in qs]
    if len(set(q_names)) != len(q_names):
        raise ValueError(
            f"quantiles {qs} collide at whole-percent column names "
            f"{q_names}; pick distinct percents"
        )
    import numpy as _np

    def update(key, pdfs, state: GroupState):
        acc = dds.DDSketch(cfg)
        rows = 0
        for pdf in pdfs:
            vals = pdf["value"].to_numpy(dtype="float64")
            acc.update(vals)
            # count what the sketch counts: nulls arrive as NaN and
            # update() drops non-finite values, so n_rows_total must
            # track the sketch's own n or the two bookkeepings diverge
            rows += int(_np.isfinite(vals).sum())
        new_state = acc.to_bytes()
        if state.exists:
            (blob, prev_rows) = state.get
            merged = dds.DDSketch.from_bytes(bytes(blob)).merge(
                dds.DDSketch.from_bytes(new_state)
            )
            new_state = merged.to_bytes()
            rows += int(prev_rows)
        state.update((new_state, rows))
        sk = dds.DDSketch.from_bytes(new_state)
        est = sk.quantiles(list(qs))
        out = {"source": [key[0]], "n_rows_total": [rows]}
        for name, v in zip(q_names, est.tolist()):
            out[name] = [float(v)]
        out["alpha"] = [cfg.alpha]
        yield pd.DataFrame(out)

    timeout_conf = getattr(GroupStateTimeout, timeout, None)
    if timeout_conf is None:
        raise ValueError(
            f"unknown timeout {timeout!r}; expected a GroupStateTimeout "
            "name (NoTimeout, ProcessingTimeTimeout, EventTimeTimeout)"
        )
    cols = ", ".join(f"{n} double" for n in q_names)
    return values.groupBy("source").applyInPandasWithState(
        update,
        outputStructType=(
            f"source string, n_rows_total long, {cols}, alpha double"
        ),
        stateStructType="state binary, n_rows long",
        outputMode="update",
        timeoutConf=timeout_conf,
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
    import numpy as np

    from prefix_filter_spark.sketches import cms, hll, kll, kmv, mg, tdigest

    mods = {
        "hll": (hll, lambda: hll.HllAccumulator(hll.HllConfig())),
        "cms": (cms, lambda: cms.CmsAccumulator(cms.CmsConfig())),
        "mg": (mg, lambda: mg.MgAccumulator(mg.MgConfig())),
        "kmv": (kmv, lambda: kmv.KmvAccumulator(kmv.KmvConfig())),
        "kll": (kll, lambda: kll.KllSketch(kll.KllConfig())),
        "td": (tdigest, lambda: tdigest.TDigest(tdigest.TDigestConfig())),
    }
    order = list(mods)

    def _ints(series):
        v = series.dropna()
        if not len(v):
            return None
        arr = v.to_numpy()
        if arr.dtype.kind == "f":
            arr = arr.astype(np.int64)
        return arr

    def update(key, pdfs, state: GroupState):
        accs = {n: fac() for n, (_, fac) in mods.items()}
        rows = 0
        for pdf in pdfs:
            rows += len(pdf)
            tok = _ints(pdf["token"])
            if tok is not None:
                for n in ("hll", "cms", "mg", "kmv"):
                    accs[n].update(tok)
            no = _ints(pdf["ntok_once"])
            if no is not None:
                accs["kll"].update(no)
                accs["td"].update(no)
        new = {n: accs[n].to_bytes() for n in order}
        if state.exists:
            prev = state.get
            n_total = int(prev[-1]) + rows
            new = {
                n: mods[n][0].merge_states([bytes(prev[i]), new[n]])
                for i, n in enumerate(order)
            }
        else:
            n_total = rows
        state.update(tuple(new[n] for n in order) + (n_total,))
        yield pd.DataFrame(
            {
                "source": [key[0]],
                "n_total": [n_total],
                "distinct_est": [hll.estimate(new["hll"])],
                "total_tokens": [cms.total_count(new["cms"])],
                "p50_ntok": [kll.KllSketch.from_bytes(new["kll"]).quantile(0.5)],
                **{n: [new[n]] for n in order},
            }
        )

    timeout_conf = getattr(GroupStateTimeout, timeout, None)
    if timeout_conf is None:
        raise ValueError(
            f"unknown timeout {timeout!r}; expected a GroupStateTimeout name"
        )
    return events.groupBy("source").applyInPandasWithState(
        update,
        outputStructType=(
            "source string, n_total long, distinct_est double, "
            "total_tokens long, p50_ntok double, "
            "hll binary, cms binary, mg binary, kmv binary, "
            "kll binary, td binary"
        ),
        stateStructType=(
            "hll binary, cms binary, mg binary, kmv binary, "
            "kll binary, td binary, n_total long"
        ),
        outputMode="update",
        timeoutConf=timeout_conf,
    )
