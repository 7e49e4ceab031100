"""Shared machinery for sharded, mergeable sketches.

Every sketch in this library is represented as a DataFrame of shard rows:

    (sketch string, shard_id int, state binary,
     n_keys long, input_rows long, build_ns long)

``n_keys``/``input_rows``/``build_ns`` are the per-partition lineage +
metrics required by the north rule (distinct keys retained, raw rows
seen, build wall time). Merging two shard rows with the same shard_id is
associative + commutative (sketch-specific combine); merging rows with
different shard_ids is disjoint union. That makes the whole filter a
mergeable aggregate: build partials anywhere, tree-merge in any order.

Equivalent of the reference's FilterAPI construct/add path
(``/root/reference/Tests/wrappers.hpp:50-52,675-720``) re-expressed as a
grouped vectorized build: one applyInPandas call builds a whole shard
from its key batch instead of 25M single-key Add() calls.
"""

from __future__ import annotations

import functools
import struct
import time
from dataclasses import dataclass
from typing import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prefix_filter_spark.hashing import as_u64, shard_of
from prefix_filter_spark.plans.sharding import hashed_key_col, shard_col, widen_key_col

SHARD_SCHEMA = (
    "sketch string, shard_id int, state binary, "
    "n_keys long, input_rows long, build_ns long"
)
_SHARD_ARROW = pa.schema(
    [
        ("sketch", pa.string()),
        ("shard_id", pa.int32()),
        ("state", pa.binary()),
        ("n_keys", pa.int64()),
        ("input_rows", pa.int64()),
        ("build_ns", pa.int64()),
    ]
)

# every registered StateFormat by its magic
STATE_FORMATS: dict = {}


class StateFormat:
    """One sketch kind's serialized state layout: magic (4 bytes) | u8
    version | ``fields`` (a little-endian struct format) | body. Each
    sketch module declares one as ``FORMAT``, writes its header with
    ``pack`` and reads every state through ``open``, so the layout and
    its checks live here once. Magics are unique across kinds (checked
    at import), which lets ``open`` name the kind of a foreign state."""

    __slots__ = ("kind", "magic", "versions", "header")

    def __init__(self, kind: str, magic: bytes, versions: tuple, fields: str = ""):
        if magic in STATE_FORMATS:
            raise ValueError(f"{kind} state magic {magic!r} is {STATE_FORMATS[magic].kind}'s")
        self.kind, self.magic, self.versions = kind, magic, versions
        self.header = struct.Struct("<4sB" + fields)
        STATE_FORMATS[magic] = self

    def pack(self, version: int, *fields) -> bytes:
        return self.header.pack(self.magic, version, *fields)

    def open(self, state) -> "StateReader":
        """Check the header and return the reader at the body. A state
        too short for the header, of another magic, or of a version
        outside ``versions`` raises ``ValueError``."""
        hdr = self.header
        if state[:4] != self.magic:
            other = STATE_FORMATS.get(bytes(state[:4]))
            got = f"a state of kind {other.kind}" if other else "bytes of no known kind"
            raise ValueError(f"bad {self.kind} state: got {got}")
        if len(state) < hdr.size:
            raise ValueError(f"bad {self.kind} state: {len(state)} bytes, shorter than its header")
        _, version, *fields = hdr.unpack_from(state)
        if version not in self.versions:
            raise ValueError(f"bad {self.kind} state: version {version} not in {self.versions}")
        return StateReader(self.kind, state, hdr.size, version, fields)


class StateReader:
    """A cursor over one opened state: ``version``, the header
    ``fields``, then the body in order. Reads are zero-copy and raise
    ``ValueError`` past the end; ``end()`` raises on trailing bytes, so
    a decoder that ends with it takes exactly what its header says."""

    __slots__ = ("kind", "state", "pos", "version", "fields")

    def __init__(self, kind: str, state, pos: int, version: int, fields: list):
        self.kind, self.state, self.pos = kind, state, pos
        self.version, self.fields = version, fields

    def array(self, dtype, count) -> np.ndarray:
        dtype, start = np.dtype(dtype), self.pos
        count = int(count)
        self.pos += dtype.itemsize * count
        if count < 0 or self.pos > len(self.state):
            raise ValueError(
                f"bad {self.kind} state: {len(self.state)} bytes, the header "
                f"describes at least {self.pos}"
            )
        return np.frombuffer(self.state, dtype, count, start)

    def take(self, n) -> bytes:
        """The next ``n`` raw bytes (a nested state)."""
        return self.array(np.uint8, n).tobytes()

    def rest(self, dtype) -> np.ndarray:
        n, extra = divmod(len(self.state) - self.pos, np.dtype(dtype).itemsize)
        if extra:
            raise ValueError(f"bad {self.kind} state: body is not whole {np.dtype(dtype)} values")
        return self.array(dtype, n)

    def end(self) -> None:
        if self.pos != len(self.state):
            raise ValueError(
                f"bad {self.kind} state: {len(self.state) - self.pos} trailing bytes"
            )


# state_fn(shard_id, unique_sorted_u64_hashes) -> bytes
# (with value_col: state_fn(shard_id, raw_u64_hashes, values) -> bytes)
StateFn = Callable[[int, np.ndarray], bytes]

# proxy table per num_shards: proxies[s] is a long whose Spark Murmur3
# partition assignment pmod(hash(p), num_shards) equals s — see
# _shard_proxies
_PROXY_CACHE: dict[int, list[int]] = {}


def _shard_proxies(spark, num_shards: int) -> list[int]:
    """For each shard id s, a long p with pmod(Murmur3(p), num_shards)
    == s (F.hash IS Spark's HashPartitioning hash, seed 42). Lets
    spread_tasks place each shard in ITS OWN shuffle partition: a plain
    repartition(n, shard_col) re-hashes the shard id, and Murmur3
    collisions leave ~1/e of the partitions empty while the worst task
    serializes several shards' sequential solves (measured: 64 shards
    → 37 occupied partitions, max 4 shards in one task). One tiny
    64*num_shards-row job computes the table; cached per shard count."""
    if num_shards not in _PROXY_CACHE:
        span = 64 * num_shards
        for _ in range(8):  # widen until every residue is covered
            rows = (
                spark.range(0, span)
                .select("id", F.pmod(F.hash("id"), F.lit(num_shards)).alias("s"))
                .groupBy("s")
                .agg(F.min("id").alias("p"))
                .collect()
            )
            m = {int(r["s"]): int(r["p"]) for r in rows}
            if len(m) == num_shards:
                break
            span *= 8
        else:  # pragma: no cover — P(miss) ~ num_shards * e^-64
            raise RuntimeError(f"no proxy found for all {num_shards} shards")
        _PROXY_CACHE[num_shards] = [m[s] for s in range(num_shards)]
    return _PROXY_CACHE[num_shards]


def build_sharded(
    df: DataFrame,
    key_col,
    *,
    sketch_name: str,
    seed: int,
    num_shards: int,
    state_fn: StateFn,
    spread_tasks: bool = False,
    value_col=None,
) -> DataFrame:
    """Hash keys JVM-side, shuffle once by shard, build each shard in one
    vectorized pandas call.

    The only shuffle is the groupBy(shard_id); routing, hashing and
    column pruning all stay in Catalyst. Keys are deduped *inside* the
    shard build (same key always routes to the same shard), avoiding a
    second shuffle for distinct().

    ``spread_tasks=True`` places each shard in ITS OWN shuffle
    partition (and task). The NumPy builds leave it off — AQE's
    coalescing is the right call when the per-shard work is a
    microsecond-scale vector pass over a few hundred KB. The ribbon /
    retrieval solves turn it on: each is SECONDS of sequential Python
    per shard, so any two shards sharing a task double the critical
    path. Mechanism: repartition-and-group on a PROXY expression —
    Murmur3-preimages of the shard ids (_shard_proxies) — because a
    plain repartition(n, shard_col) re-hashes the id and collisions
    leave ~1/e of the partitions empty (measured: 64 shards → 37
    occupied, worst task 4 shards; with proxies 64/64 occupied, max 1).
    Grouping on the same proxy expression keeps it one exchange, and
    the true shard id is recomputed from the hashes inside the build.

    ``value_col`` (optional): ship a long value column through Arrow
    next to the hash; ``state_fn`` then receives (shard_id, raw_hashes,
    values) — unsorted, NOT deduped (kv state_fns own duplicate
    semantics, e.g. the retrieval structure's conflict check). NULL
    values raise (pandas would silently turn them into float NaN →
    INT64_MIN garbage).
    """
    # integral keys hash at bigint width on every path (widen_key_col) —
    # a narrow int column would otherwise take the JVM 4-byte kernel and
    # break the driver-side probe twins' zero-FN contract
    h = hashed_key_col(widen_key_col(df, key_col), seed)
    # group by the shard EXPRESSION: the grouping key is evaluated
    # JVM-side but not shipped through Arrow — the Python worker sees
    # only the 8-byte hash column (33% less pipe volume) and recomputes
    # the shard id with the arithmetic-identical NumPy fastrange.
    if value_col is not None:
        vcol = value_col if not isinstance(value_col, str) else F.col(value_col)
        keyed = df.select(h.alias("h"), vcol.cast("long").alias("v"))
    else:
        keyed = df.select(h.alias("h"))
    group_key = shard_col(F.col("h"), num_shards).alias("shard_id")
    if spread_tasks:
        proxies = _shard_proxies(df.sparkSession, num_shards)
        proxy = F.element_at(
            F.array(*[F.lit(p).cast("long") for p in proxies]),
            shard_col(F.col("h"), num_shards) + F.lit(1),
        )
        keyed = keyed.repartition(num_shards, proxy)
        group_key = proxy.alias("spread_key")

    def build_group(pdf: pd.DataFrame) -> pd.DataFrame:
        t0 = time.perf_counter_ns()
        hashes = as_u64(pdf["h"].to_numpy())
        shard_id = int(shard_of(hashes[:1], num_shards)[0])
        input_rows = len(hashes)
        if value_col is not None:
            if pdf["v"].isnull().any():
                raise ValueError(
                    f"NULL value in {sketch_name} build (shard {shard_id}): "
                    "the value column must be non-null — filter or fill "
                    "upstream"
                )
            values = pdf["v"].to_numpy().astype(np.int64)
            state = state_fn(shard_id, hashes, values)
            n_keys = len(np.unique(hashes))
        else:
            hashes = np.unique(hashes)  # sorted + distinct
            state = state_fn(shard_id, hashes)
            n_keys = len(hashes)
        return pd.DataFrame(
            {
                "sketch": [sketch_name],
                "shard_id": [shard_id],
                "state": [state],
                "n_keys": [n_keys],
                "input_rows": [input_rows],
                "build_ns": [time.perf_counter_ns() - t0],
            }
        )

    return keyed.groupBy(group_key).applyInPandas(build_group, schema=SHARD_SCHEMA)


def _state_as_is(cfg, state: bytes) -> bytes:
    return state


@dataclass(frozen=True)
class FilterFamily:
    """One sharded filter kind — the reference's FilterAPI template
    (construct / add / contain, ``Tests/wrappers.hpp:50-116``) as a
    record. Each filter module declares one as ``FAMILY`` and its config
    class carries it as ``family``, so the config alone says how to
    build, merge and probe (``build_filter``, ``merge_shard_states``,
    ``ShardedFilter``, ``probe.probe_fn_for``):

    - ``sketch_name(cfg)``: the shard rows' ``sketch`` column
      (``bloom12``, ``cuckoo13ss``, ``prefix_filter``, ...);
    - ``build_state(cfg, shard_id, hashes)``: one shard's state from its
      sorted distinct base hashes (the retrieval structure also takes
      the values, see build_sharded's ``value_col``);
    - ``merge_states(states, cfg, shard_id)``: combine same-shard
      partials; the static kinds (xor, bfuse, ribbon, retrieval) raise
      ``ValueError``;
    - ``prepare_state(cfg, state)``: reject a state/config mismatch
      (silent false negatives otherwise) and decode whatever the probe
      reuses; runs once per shard. The default keeps the state as is
      (kinds whose kernel checks the state itself);
    - ``probe_state(cfg, prepared, shard_id, h_u64) -> ndarray``: the
      kind's seed mix and vectorized kernel over one shard's hashes;
    - ``spread_tasks``: one build task per shard (see build_sharded);
    - ``out_dtype``: ``bool`` membership, or ``np.int64`` stored values.
    """

    sketch_name: Callable
    build_state: Callable
    merge_states: Callable
    probe_state: Callable
    prepare_state: Callable = _state_as_is
    spread_tasks: bool = False
    out_dtype: type = bool


def build_filter(df: DataFrame, key_col, cfg, value_col=None) -> DataFrame:
    """df[key_col] -> shard-row DataFrame of the filter ``cfg``
    configures: one shuffle, one vectorized build per shard. The value
    kind (the retrieval structure) takes the ``value_col`` to store."""
    family = cfg.family
    # build_sharded is looked up as a module global at call time, so a
    # tracing wrapper installed on this module sees every filter build
    return build_sharded(
        df,
        key_col,
        sketch_name=family.sketch_name(cfg),
        seed=cfg.seed,
        num_shards=cfg.num_shards,
        state_fn=functools.partial(family.build_state, cfg),
        spread_tasks=family.spread_tasks,
        value_col=value_col,
    )


def merge_shard_states(df: DataFrame, cfgs: dict) -> DataFrame:
    """Combine partial states of the same sketch and shard id
    (associative + commutative). ``cfgs`` maps each ``sketch`` column
    value to its config; a group merges with that config's family merge,
    ``merge_states(states, cfg, shard_id)`` — the prefix filter needs the
    shard id for spare re-keying; the estimate sketches' shard id is mere
    lineage. A frame of one sketch passes one entry,
    ``{cfg.family.sketch_name(cfg): cfg}``.

    Used for incremental / streaming builds where several batches each
    produced partial states for the same shard. The result is
    order-independent by the sketches' associativity (pytest-verified
    by shuffling orders).

    NOTE: this merges rows of the SAME shard id. Do not use tree_merge
    (which coarsens shard ids) for key-sharded filters — that is only
    for global-state sketches where shard_id is mere lineage.
    """

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        states = [bytes(s) for s in pdf["state"]]
        name = pdf["sketch"].iloc[0]
        sid = int(pdf["shard_id"].iloc[0])
        cfg = cfgs[name]
        return pd.DataFrame(
            {
                "sketch": [name],
                "shard_id": [sid],
                "state": [
                    cfg.family.merge_states(states, cfg, sid) if len(states) > 1 else states[0]
                ],
                "n_keys": [int(pdf["n_keys"].sum())],  # upper bound across batches
                "input_rows": [int(pdf["input_rows"].sum())],
                "build_ns": [int(pdf["build_ns"].sum())],
            }
        )

    return df.groupBy("sketch", "shard_id").applyInPandas(merge_group, schema=SHARD_SCHEMA)


def remove_keys_sharded(
    df: DataFrame,
    key_col,
    cfg,
    shards_df: DataFrame,
    *,
    remove_state_fn: Callable[[bytes, np.ndarray], bytes],
    count_state_fn: Callable[[bytes], int] | None = None,
) -> DataFrame:
    """Distributed delete for delete-capable filters (two-choice,
    cuckoo — wrappers.hpp functionality mask 7): route removal keys to
    their shard with the same Catalyst expression as the build, cogroup
    with the shard's state row(s), rebuild without the dead pairs.

    Shards holding several un-compacted partial rows (the streaming
    accumulation shape) are MERGED first (``cfg``'s family merge) —
    deleting from only one
    partial would silently resurrect the key from the others.
    Shards with no removal keys pass through (post-merge) unchanged.

    ``count_state_fn``: exact occupied-pair recount from a rebuilt
    state. When provided, the emitted ``n_keys`` is recounted from the
    post-merge/post-delete state (both TC and cuckoo count exactly at
    pair granularity); without it, ``n_keys`` stays the sum over
    partials — an upper bound that can overstate materially once the
    merge dedupes overlapping partials and the delete removes pairs.
    """
    h = hashed_key_col(widen_key_col(df, key_col), cfg.seed)
    keyed = df.select(h.alias("h"), shard_col(h, cfg.num_shards).alias("shard_id"))

    def apply_removals(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(right) == 0:
            return pd.DataFrame(
                columns=["sketch", "shard_id", "state", "n_keys", "input_rows", "build_ns"]
            )
        states = [bytes(s) for s in right["state"]]
        sid = int(right["shard_id"].iloc[0])
        state = cfg.family.merge_states(states, cfg, sid) if len(states) > 1 else states[0]
        if len(left):
            state = remove_state_fn(state, as_u64(left["h"].to_numpy()))
        out = right.iloc[[0]].copy()
        out["state"] = [state]
        if count_state_fn is not None:
            out["n_keys"] = [int(count_state_fn(state))]
        else:
            # pre-delete upper bound (documented caveat)
            out["n_keys"] = [int(right["n_keys"].sum())]
        out["input_rows"] = [int(right["input_rows"].sum())]
        out["build_ns"] = [int(right["build_ns"].sum())]
        return out

    return (
        keyed.groupBy("shard_id")
        .cogroup(shards_df.groupBy("shard_id"))
        .applyInPandas(apply_removals, schema=SHARD_SCHEMA)
    )


@dataclass(frozen=True)
class EstimateFamily:
    """One global-state estimate sketch kind (HLL, CMS, KLL, t-digest,
    DDSketch, Misra-Gries, KMV, AMS, Frequent Directions) as a record.
    Each estimate module declares one as ``FAMILY`` and its config class
    carries it as ``family``, so the config alone says how to build and
    merge (``build_estimate``, ``estimate_state``,
    ``build_partials_multi``, ``tree_merge``, ``merge_shard_states``):

    - ``sketch_name(cfg)``: the shard rows' ``sketch`` column
      (``hll14``, ``cms5x8192``, ``kll200``, ...);
    - ``accumulator(cfg)``: an empty ``Accumulator`` to fold values in;
    - ``merge_states(states, cfg, shard_id)``: combine partials — the
      ``FilterFamily`` signature, so merges never ask which record they
      hold; the state headers carry everything the merge checks, so the
      module functions default ``cfg`` and ``shard_id``;
    - ``vector_rows``: the accumulator takes each row of a list column
      as one vector (Frequent Directions' embeddings); every other kind
      takes a list column's elements (see ``value_windows``).
    """

    sketch_name: Callable
    accumulator: Callable
    merge_states: Callable
    vector_rows: bool = False


class Accumulator:
    """Interface for ``EstimateFamily.accumulator`` values."""

    def update(self, values: np.ndarray) -> None:  # pragma: no cover
        raise NotImplementedError

    def to_bytes(self) -> bytes:  # pragma: no cover
        raise NotImplementedError


def value_windows(
    arr: pa.Array | pa.ChunkedArray, size: int | None = None, *, vector_rows: bool = False
) -> Iterator[np.ndarray]:
    """A value column's non-NULL values as the accumulators take them,
    in windows of at most ``size`` input values (default: one window;
    an empty column gives one empty window).

    A list column feeds its elements: NULL and empty lists feed none,
    and integral elements widen to int64, as a JVM ``cast("long")`` of
    the exploded column gave them. Windows are cut over the elements,
    so ``size`` bounds the values an accumulator takes at a time however
    long the lists are. With ``vector_rows`` each
    non-NULL list is one value instead (``EstimateFamily.vector_rows``).

    NULLs drop on the Arrow array by its validity mask, so integral
    values keep all 64 bits and fractional doubles stay as they are;
    NaN in a floating column is skipped like a NULL."""
    flat = not vector_rows and (pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type))
    if flat:
        arr = pc.list_flatten(arr)
    size = size or len(arr) or 1
    for start in range(0, len(arr) or 1, size):
        out = pc.drop_null(arr.slice(start, size)).to_numpy(zero_copy_only=False)
        if out.dtype.kind == "f":
            out = out[~np.isnan(out)]
        elif flat and out.dtype.kind == "i":
            out = out.astype(np.int64, copy=False)
        yield out


def non_null_values(arr: pa.Array | pa.ChunkedArray, *, vector_rows: bool = False) -> np.ndarray:
    """All of a value column's ``value_windows`` in one array."""
    (out,) = value_windows(arr, vector_rows=vector_rows)
    return out


def build_partials_multi(
    df: DataFrame,
    value_cols: dict,
    sketches: dict,
) -> DataFrame:
    """N estimate sketches from ONE pass over the data, one partial
    state per (input partition, sketch) and no shuffle at all — the
    map-side-combine shape: at 1000 executors the shuffle moves only
    num_partitions tiny states, never the data, and the standard
    observability suite (distinct + frequency + heavy hitters +
    quantiles) costs one corpus read instead of one per sketch.

    ``value_cols``: {col_key: Column-or-name} — each value expression
    is evaluated once JVM-side and shipped once through Arrow, shared
    by every sketch bound to it. ``sketches``: {sketch_name: (col_key,
    cfg)}, the kind being ``cfg.family``. NULL values are skipped per
    sketch, so one row can carry a value for some sketches and NULL for
    the others. A list column feeds its elements (see
    ``value_windows``): one row per document ships its token array once
    and the worker flattens it, rather than the JVM exploding it into
    one Arrow row per token. Each accumulator takes its values in
    windows of at most the session's Arrow batch size
    (``spark.sql.execution.arrow.maxRecordsPerBatch``), so a partition
    that fits one batch feeds exactly the windows an exploded stream's
    batches would.

    Output: SHARD_SCHEMA rows keyed by the Spark partition id
    (per-partition lineage): ``n_keys`` counts the values the sketch
    took (list elements for a list column), ``input_rows`` the
    partition's rows of ``df`` (documents, for the token profile), and
    ``build_ns`` the partition's whole-scan time on each of its rows
    (the accumulators share the pass; per-sketch attribution would be
    fiction). ``tree_merge(partials, {name: cfg, ...})`` combines the
    partials of every sketch in one tree.
    """
    src = df.select(
        *[(F.col(c) if isinstance(c, str) else c).alias(k) for k, c in value_cols.items()]
    )
    window = int(df.sparkSession.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    window = window if window > 0 else None  # <= 0: batches are unbounded
    # sketches sharing a column and input shape share its windows
    feeds: dict = {}
    for name, (key, cfg) in sketches.items():
        feeds.setdefault((key, cfg.family.vector_rows), []).append(name)

    def run(batches):
        accs = {name: cfg.family.accumulator(cfg) for name, (_, cfg) in sketches.items()}
        rows = {name: 0 for name in sketches}
        t0 = time.perf_counter_ns()
        total = 0
        for batch in batches:
            if not batch.num_rows:
                continue
            total += batch.num_rows
            for (key, vector_rows), names in feeds.items():
                for vals in value_windows(batch.column(key), window, vector_rows=vector_rows):
                    if len(vals):
                        for name in names:
                            accs[name].update(vals)
                            rows[name] += len(vals)
        if total:
            ns = time.perf_counter_ns() - t0
            n = len(sketches)
            yield pa.RecordBatch.from_pydict(
                {
                    "sketch": list(sketches),
                    "shard_id": [TaskContext.get().partitionId()] * n,
                    "state": [accs[name].to_bytes() for name in sketches],
                    "n_keys": [rows[name] for name in sketches],
                    "input_rows": [total] * n,
                    "build_ns": [ns] * n,
                },
                schema=_SHARD_ARROW,
            )

    return src.mapInArrow(run, schema=SHARD_SCHEMA)


def tree_merge(
    df: DataFrame,
    cfgs: dict,
    fanout: int = 32,
    shard_bound: int | None = None,
) -> DataFrame:
    """Reduce the partial states of every sketch in ``df`` to one row per
    sketch via a fan-in tree of grouped merges (the north rule's
    tree-merge): round r groups (sketch, shard_id//fanout^r) and combines
    each group with ``cfgs[sketch]``'s family merge (see
    ``merge_shard_states``). One call serves a whole
    ``build_partials_multi`` frame, so N sketches share one tree.

    Each round is a tiny shuffle of (num_states / fanout^r) rows; the
    result is independent of grouping because the combines are
    associative + commutative (pytest-verified by shuffling orders).

    The tree is composed LAZILY: one small job reads the max shard id
    off the cached partials (which also materializes them), the round
    count follows arithmetically from that bound, and the whole fan-in
    chain executes inside the caller's single action. A caller that
    already ran a job over the partials passes ``shard_bound`` (max
    shard id + 1) and saves that job.

    Caching: ``df`` is cached here and stays cached — every action on
    the returned DataFrame reads it, so only the caller knows when it
    is done: call ``df.unpersist()`` after the last action (as
    ``estimate_state`` and ``token_sketch_profile`` do). Each action
    re-executes the log-fanout merge rounds (cheap — they touch
    num_states/fanout^r rows).
    """
    prev = df.cache()
    bound = shard_bound
    if bound is None:
        row = prev.agg(F.max("shard_id").alias("m")).collect()[0]
        if row["m"] is None:
            return prev  # no partials (empty input)
        bound = int(row["m"]) + 1
    while bound > 1:
        prev = merge_shard_states(
            prev.withColumn("shard_id", (F.col("shard_id") / F.lit(fanout)).cast("int")),
            cfgs,
        )
        bound = -(-bound // fanout)
    return prev


def _single_partials(df: DataFrame, value_col, cfg) -> tuple[DataFrame, dict]:
    name = cfg.family.sketch_name(cfg)
    return build_partials_multi(df, {"v": value_col}, {name: ("v", cfg)}), {name: cfg}


def build_estimate(df: DataFrame, value_col, cfg) -> DataFrame:
    """df[value_col] -> the one merged shard row of the estimate sketch
    ``cfg`` configures: per-partition partials, then the fan-in tree
    merge. NULL values are skipped; empty input gives no row. The
    partials stay cached (see ``tree_merge``)."""
    return tree_merge(*_single_partials(df, value_col, cfg))


def estimate_state(df: DataFrame, value_col, cfg) -> bytes:
    """The merged state bytes of ``build_estimate``, with its cached
    partials released; on empty input, the state of an empty
    accumulator."""
    partials, cfgs = _single_partials(df, value_col, cfg)
    try:
        rows = tree_merge(partials, cfgs).select("state").collect()
    finally:
        partials.unpersist()
    if not rows:
        return cfg.family.accumulator(cfg).to_bytes()
    return bytes(rows[0]["state"])


def collect_states(shards_df: DataFrame) -> dict[int, bytes]:
    """Collect shard states to the driver (for broadcast-probe).

    Shard states are sized to stay small (<= ~100MB total, SURVEY.md §4);
    for probe workloads too large to broadcast, join probes to shard rows
    by shard_id instead (see sketches/probe.py).
    """
    rows = shards_df.select("shard_id", "state").collect()
    return {r["shard_id"]: bytes(r["state"]) for r in rows}


class ShardedFilter:
    """Driver-side probe handle over collected shard states — the one
    "route hashes to shards, then probe each shard" loop every sharded
    filter kind shares (the shard concatenation IS the reference's
    single PD array, generalized). The kind comes from ``cfg.family``
    (FilterFamily): its ``prepare_state`` runs once per shard — lazily
    before the shard's first probe, or for every shard via
    ``predecode()`` — and its ``probe_state`` answers each shard's
    slice of the batch.

    ``contains_h`` takes the xxhash64 column values (int64) — the same
    base hash used at build time — and is what the registered SQL UDF
    calls (see functions.py). Hashes routed to a shard absent from
    ``states`` answer False (0 for the ``np.int64`` value kind).
    """

    def __init__(self, cfg, states: dict[int, bytes]):
        self.cfg = cfg
        self.states = states
        self._prepared: dict[int, object] = {}

    @property
    def out_dtype(self) -> type:
        return self.cfg.family.out_dtype

    @classmethod
    def from_df(cls, cfg, shards_df: DataFrame):
        return cls(cfg, collect_states(shards_df))

    def byte_size(self) -> int:
        # the reference FilterAPI::get_byte_size (Tests/wrappers.hpp:766-772)
        return sum(len(s) for s in self.states.values())

    def prepared(self, sid: int):
        p = self._prepared.get(sid)
        if p is None:
            p = self.cfg.family.prepare_state(self.cfg, self.states[sid])
            self._prepared[sid] = p
        return p

    def predecode(self) -> "ShardedFilter":
        """Prepare every shard once (driver-side, before broadcast) so
        executors probe immediately — the batch analogue of the
        reference amortizing select64 across a probe loop. A prepared
        value that is the state itself is the same bytes object, so
        pickling the handle stores it once."""
        for sid in self.states:
            self.prepared(sid)
        return self

    def contains_h(self, h) -> np.ndarray:
        h = as_u64(np.asarray(h))
        out = np.zeros(len(h), dtype=self.out_dtype)
        if len(h) == 0:
            return out
        probe_state = self.cfg.family.probe_state
        shards = shard_of(h, self.cfg.num_shards).astype(np.int64)
        order = np.argsort(shards, kind="stable")
        sorted_shards = shards[order]
        bounds = np.searchsorted(sorted_shards, np.arange(self.cfg.num_shards + 1))
        for sid in np.unique(sorted_shards):
            sid = int(sid)
            if sid in self.states:
                idx = order[bounds[sid] : bounds[sid + 1]]
                out[idx] = probe_state(self.cfg, self.prepared(sid), sid, h[idx])
        return out

    # value handles (the retrieval structure) answer through the same
    # loop; the name says what the int64 result means
    lookup_h = contains_h
