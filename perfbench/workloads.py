"""The three benchmark workloads.

Each workload is a closed loop with one client: one operation starts
after the previous one ends. A workload has a *build* operation (it
turns data into a queryable structure) and a *query* operation (it
answers from that structure); one cycle is one build followed by
``QUERIES_PER_CYCLE`` queries. Every operation checks its own output
and returns whether the check passed.

- ``membership``: prefix filter and Bloom-12, 64 shards each, built
  from uniform 64-bit keys and probed with a half-member table.
- ``token_profile``: the one-scan sketch profile of pre-tokenized
  documents read from a snapshot table, then SQL estimates over the
  merged states.
- ``table_lookup``: snapshot-table appends with index maintenance,
  beside needle lookups through the file index.

All inputs derive from the workload seed; the library receives only
the generated DataFrames and tables.
"""

from __future__ import annotations

import os
import pickle
import shutil
import statistics
import time

import numpy as np
from pyspark.sql import functions as F

from prefix_filter_spark import functions as pfs_functions
from prefix_filter_spark.operators import profile as pfs_profile
from prefix_filter_spark.sketches import base as pfs_base
from prefix_filter_spark.sketches import bloom as pfs_bloom
from prefix_filter_spark.sketches import prefix_filter as pfs_pf
from prefix_filter_spark.sketches.hll import HllConfig
from prefix_filter_spark.sketches.kll import KllConfig
from prefix_filter_spark.sources import file_index as pfs_file_index
from prefix_filter_spark.sources import iceberg as pfs_iceberg
from prefix_filter_spark.sources import skipping as pfs_skipping
from prefix_filter_spark.sources.synthetic import synthetic_documents

# PF[Bloom] FPR at the default config over 1M keys, measured by
# tools/fpr_table.py (BENCH/fpr_table.md); a probe fails its check
# above 1.5x this.
PF_REFERENCE_FPR = 0.0038
KERNEL_BATCH = 65_536  # the session's Arrow batch (maxRecordsPerBatch)


def _ms(t0: float) -> float:
    return (time.perf_counter() - t0) * 1e3


def _median(xs, default=0.0) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default


class Workload:
    name = ""
    QUERIES_PER_CYCLE = 1
    WARMUP_CYCLES = 1
    SCALES: dict = {}

    def __init__(self, spark, tracer, seed: int, scale: str, workdir: str):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.size = self.SCALES[scale]
        self.workdir = workdir

    def span(self, name: str, **kw):
        return self.tracer.span(name, **kw)

    # subclasses implement setup(rep), build(), query(i) and
    # layer_metrics(cycles); the hooks below default to doing nothing

    def prepare(self) -> None:
        """Untimed work after set-up, such as exact answers."""

    def after_cycle(self) -> None:
        """Untimed clean-up after each cycle."""

    def after_traced_op(self, kind: str) -> None:
        """Untimed extras after a traced operation."""

    def per_cycle_figures(self) -> dict:
        return {}

    def patches(self) -> list:
        return []


# -- membership ------------------------------------------------------------


class Membership(Workload):
    """PF vs Bloom-12, build + probe on uniform keys (the reference's
    main-perf protocol)."""

    name = "membership"
    WARMUP_CYCLES = 2  # short cycles: one is not enough for the JIT to settle
    SCALES = {"full": {"keys": 1_000_000}, "tiny": {"keys": 20_000}}
    SHARDS = 64
    KINDS = ("pf", "bloom")

    def __init__(self, *a):
        super().__init__(*a)
        n = self.size["keys"]
        self.n = n
        self.cfg = {
            "pf": pfs_pf.PrefixFilterConfig(n_capacity=n, num_shards=self.SHARDS),
            "bloom": pfs_bloom.BloomConfig(
                n_capacity=n, bits_per_key=12, num_shards=self.SHARDS
            ),
        }
        self.keys = self.probe = None
        self.handles: dict = {}
        self.fns: dict = {}
        self.last: dict = {}  # per-kind figures of the latest operation

    def setup(self, rep: int) -> None:
        for df in (self.keys, self.probe):
            if df is not None:
                df.unpersist(blocking=True)
        n, half, seed = self.n, self.n // 2, self.seed
        self.keys = self.spark.range(n).select(
            F.xxhash64("id", F.lit(seed)).alias("k")
        ).cache()
        # ids [0, n/2) are members; [n, 3n/2) were never inserted
        pid = F.when(F.col("id") < half, F.col("id")).otherwise(F.col("id") + half)
        self.probe = self.spark.range(2 * half).select(
            F.col("id"),
            F.xxhash64(pid, F.lit(seed)).alias("k"),
            (F.col("id") < half).alias("is_member"),
        ).cache()
        if self.keys.count() != n or self.probe.count() != 2 * half:
            raise RuntimeError("membership inputs have the wrong size")
        self.n_members = self.n_fresh = half

    def prepare(self) -> None:
        step = max(1, (2 * self.n_members) // KERNEL_BATCH)
        rows = (
            self.probe.where(F.pmod("id", F.lit(step)) == 0)
            .select("k")
            .limit(KERNEL_BATCH)
            .collect()
        )
        self.kernel_batch = np.array([r[0] for r in rows], dtype=np.int64)

    def _build_kind(self, kind: str) -> bool:
        cfg = self.cfg[kind]
        t0 = time.perf_counter()
        with self.span(f"op.build.{kind}"):
            if kind == "pf":
                with self.span("sketches.prefix_filter.build_prefix_filter", lazy=True):
                    shards = pfs_pf.build_prefix_filter(self.keys, "k", cfg)
                with self.span("sketches.prefix_filter.ShardedPrefixFilter.from_df"):
                    handle = pfs_pf.ShardedPrefixFilter.from_df(cfg, shards)
            else:
                with self.span("sketches.bloom.build_bloom", lazy=True):
                    shards = pfs_bloom.build_bloom(self.keys, "k", cfg)
                with self.span("sketches.bloom.ShardedBloom.from_df"):
                    handle = pfs_bloom.ShardedBloom.from_df(cfg, shards)
            with self.span("functions.register_contains_udf"):
                fn = pfs_functions.register_contains_udf(
                    self.spark, f"{kind}_contains", handle, cfg.seed
                )
        self.last[kind] = {"build_ms": _ms(t0)}
        self.handles[kind], self.fns[kind] = handle, fn
        return len(handle.states) == self.SHARDS

    def build(self):
        return all([self._build_kind(k) for k in self.KINDS])

    def _probe_kind(self, kind: str) -> bool:
        fn = self.fns[kind]
        t0 = time.perf_counter()
        with self.span(f"op.query.{kind}"), self.span("spark.probe_aggregate"):
            row = (
                self.probe.select("is_member", fn("k").alias("hit"))
                .agg(
                    F.count_if(F.col("is_member") & F.col("hit")).alias("tp"),
                    F.count_if(~F.col("is_member") & F.col("hit")).alias("fp"),
                )
                .collect()[0]
            )
        fpr = row["fp"] / self.n_fresh
        self.last[kind].update(probe_ms=_ms(t0), fpr=fpr)
        limit = 1.5 * (
            PF_REFERENCE_FPR if kind == "pf" else self.cfg[kind].theoretical_fpr()
        )
        # zero false negatives, and the FPR within its bound
        return row["tp"] == self.n_members and fpr <= limit

    def query(self, i: int):
        return all([self._probe_kind(k) for k in self.KINDS])

    def after_cycle(self) -> None:
        for fn in self.fns.values():
            fn.broadcast.destroy()
        self.fns = {}

    def patches(self) -> list:
        tr = self.tracer

        def collect_states(shards_df):
            # the library's single collect, plus the lineage columns the
            # build already computes (build_ns), read in the same job
            with tr.span("sketches.base.collect_states") as rec:
                rows = shards_df.select("shard_id", "state", "build_ns").collect()
                rec["build_ns"] = sum(int(r["build_ns"]) for r in rows)
                rec["state_bytes"] = sum(len(r["state"]) for r in rows)
                return {r["shard_id"]: bytes(r["state"]) for r in rows}

        return [
            (pfs_base, "build_sharded",
             tr.wrap(pfs_base.build_sharded, "sketches.base.build_sharded", lazy=True)),
            (pfs_base, "collect_states", collect_states),
        ]

    def after_traced_op(self, kind: str) -> None:
        """Untimed extras of a traced operation: handle size and the
        driver-side probe kernel on one Arrow batch."""
        if kind == "build":
            for k, h in self.handles.items():
                self.last[k]["broadcast_bytes"] = len(
                    pickle.dumps(h, protocol=pickle.HIGHEST_PROTOCOL)
                )
        else:
            for k, h in self.handles.items():
                h.contains_h(self.kernel_batch)  # warm
                ts = []
                for _ in range(5):
                    t0 = time.perf_counter_ns()
                    h.contains_h(self.kernel_batch)
                    ts.append(time.perf_counter_ns() - t0)
                self.last[k]["kernel_ns_per_key"] = _median(ts) / len(self.kernel_batch)

    def per_cycle_figures(self) -> dict:
        return {k: dict(v) for k, v in self.last.items()}

    def layer_metrics(self, cycles: list[dict]) -> dict:
        untraced = [c for c in cycles if not c["traced"]]
        traced = [c for c in cycles if c["traced"]]
        n_probe = self.n_members + self.n_fresh
        out = {}
        for kind in self.KINDS:
            p = f"{kind}."
            fig = [c["figures"][kind] for c in untraced]
            out[p + "build_keys_per_s"] = self.n / (
                _median(f["build_ms"] for f in fig) / 1e3
            )
            out[p + "probe_keys_per_s"] = n_probe / (
                _median(f["probe_ms"] for f in fig) / 1e3
            )
            out[p + "bits_per_key"] = self.handles[kind].byte_size() * 8 / self.n
            out[p + "fpr"] = _median(c["figures"][kind]["fpr"] for c in cycles)
            per = [_membership_layers(c, kind, n_probe) for c in traced]
            for key in per[0]:
                out[p + key] = _median(x[key] for x in per)
        return out


def _descendants(spans: list[dict], root_id: int) -> list[dict]:
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root_id]
    while todo:
        for s in kids.get(todo.pop(), []):
            out.append(s)
            todo.append(s["id"])
    return out


def _named(spans, name):
    return [s for s in spans if s["name"] == name]


def _jobs(spans) -> int:
    return sum(len(s["jobs"]) for s in spans)


def _skew(task_ms: list) -> float:
    med = _median(task_ms)
    return max(task_ms) / med if task_ms and med > 0 else 0.0


def _membership_layers(cycle: dict, kind: str, n_probe: int) -> dict:
    spans = cycle["spans"]
    fig = cycle["figures"][kind]
    build = _named(spans, f"op.build.{kind}")[0]
    probe = _named(spans, f"op.query.{kind}")[0]
    b_spans = _descendants(spans, build["id"])
    q_spans = [probe] + _descendants(spans, probe["id"])
    coll = _named(b_spans, "sketches.base.collect_states")[0]
    map_st = [s for s in coll["stages"] if s["shuffle_write_bytes"] > 0 and s["shuffle_read_bytes"] == 0]
    py_st = [s for s in coll["stages"] if s["shuffle_read_bytes"] > 0]
    py_ms = sum(s["run_ms"] for s in py_st)
    kernel_ms = coll["build_ns"] / 1e6
    reg = _named(b_spans, "functions.register_contains_udf")[0]
    probe_ms = sum(st["run_ms"] for s in q_spans for st in s["stages"])
    return {
        "sharding.map_stage_ms": sum(s["run_ms"] for s in map_st),
        "sharding.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in map_st),
        "build_sharded.python_stage_ms": py_ms,
        "build_sharded.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in py_st),
        "build_sharded.task_skew": _skew([t for s in py_st for t in s["task_ms"]]),
        "kernel.build_cpu_ms": kernel_ms,
        "kernel.build_share": kernel_ms / py_ms if py_ms else 0.0,
        "collect_states.ms": (coll["end"] - coll["start"]) * 1e3
        - sum(j["wall_ms"] for j in coll["jobs"]),
        "collect_states.bytes": coll["state_bytes"],
        "register_contains_udf.ms": (reg["end"] - reg["start"]) * 1e3,
        "register_contains_udf.broadcast_bytes": fig["broadcast_bytes"],
        "probe.stage_ms": probe_ms,
        "probe.kernel_ns_per_key": fig["kernel_ns_per_key"],
        "probe.kernel_share": fig["kernel_ns_per_key"] * n_probe / (probe_ms * 1e6)
        if probe_ms
        else 0.0,
        "build.spark_jobs": _jobs(b_spans),
        "probe.spark_jobs": _jobs(q_spans),
    }


# -- token_profile ---------------------------------------------------------


class TokenProfile(Workload):
    """read_table -> token_sketch_profile (build), then hll / kll / cms
    estimates through the registered sketch SQL (query)."""

    name = "token_profile"
    SCALES = {
        "full": {"docs": 16_000, "probe_tokens": 512},
        "tiny": {"docs": 400, "probe_tokens": 64},
    }
    QUANTILES = (0.25, 0.5, 0.75, 0.95, 0.99)

    def __init__(self, *a):
        super().__init__(*a)
        self.table = None
        self.states = None
        self.last: dict = {}

    def setup(self, rep: int) -> None:
        if self.table:
            shutil.rmtree(self.table)
        self.table = os.path.join(self.workdir, f"token_table_{rep}")
        docs = synthetic_documents(self.spark, self.size["docs"], seed=self.seed)
        pfs_iceberg.write_table(docs, self.table)
        vocab = 50_000  # synthetic_documents' default vocabulary
        probe = self.spark.range(self.size["probe_tokens"]).select(
            F.pmod(F.xxhash64("id", F.lit(self.seed + 7)), F.lit(vocab)).alias("tok")
        )
        probe.cache().createOrReplaceTempView("probe_tokens")
        if probe.count() != self.size["probe_tokens"]:
            raise RuntimeError("probe-token table has the wrong size")

    def prepare(self) -> None:
        """Exact answers, computed once and untimed."""
        docs = pfs_iceberg.read_table(self.spark, self.table)
        ntok = docs.groupBy("n_tok").count().collect()
        vals = np.array(sorted(r["n_tok"] for r in ntok))
        cnt = {r["n_tok"]: r["count"] for r in ntok}
        counts = np.array([cnt[v] for v in vals], dtype=np.float64)
        self.ntok_values, self.ntok_cdf = vals, np.cumsum(counts) / counts.sum()
        self.exact_total = int(sum(int(v) * cnt[v] for v in vals))
        freq = docs.select(F.explode("tokens").alias("tok")).groupBy("tok").count().cache()
        self.exact_distinct = freq.count()
        self.exact_probe_sum = (
            self.spark.table("probe_tokens")
            .join(freq, "tok", "left")
            .agg(F.sum(F.coalesce("count", F.lit(0))))
            .collect()[0][0]
        )
        freq.unpersist()

    def _hll_ok(self, est: float) -> bool:
        bound = 3 * HllConfig().rel_error() * self.exact_distinct
        return abs(est - self.exact_distinct) <= bound

    def _kll_ok(self, q: float, v: float) -> bool:
        """``v`` is a valid q-quantile within KLL's rank error: the
        exact rank interval of v reaches within eps of q."""
        eps = KllConfig().rank_eps()
        i = np.searchsorted(self.ntok_values, v, side="right")
        hi = self.ntok_cdf[i - 1] if i else 0.0
        j = np.searchsorted(self.ntok_values, v, side="left")
        lo = self.ntok_cdf[j - 1] if j else 0.0
        return lo - eps <= q <= hi + eps

    def build(self):
        with self.span("sources.iceberg.read_table"):
            docs = pfs_iceberg.read_table(self.spark, self.table)
        with self.span("operators.profile.token_sketch_profile"):
            states, report = pfs_profile.token_sketch_profile(docs, quantile_qs=self.QUANTILES)
        self.states = states
        est = report["distinct_tokens_hll"]
        self.last = {"hll_rel_error": abs(est - self.exact_distinct) / self.exact_distinct}
        return self._hll_ok(est) and report["total_tokens"] == self.exact_total

    def query(self, i: int):
        spark = self.spark
        with self.span("functions.register_sketch_sql"):
            pfs_functions.register_sketch_sql(spark)
        with self.span("spark.sketch_sql"):
            spark.createDataFrame(
                [(k, self.states[k]) for k in ("hll", "kll", "cms")],
                "sketch string, state binary",
            ).createOrReplaceTempView("profile_states")
            hll = spark.sql(
                "SELECT hll_estimate(state) FROM profile_states WHERE sketch = 'hll'"
            ).collect()[0][0]
            qs = ", ".join(f"({q})" for q in self.QUANTILES)
            kll = spark.sql(
                "SELECT q, kll_quantile(s.state, q) AS v FROM profile_states s "
                f"CROSS JOIN (VALUES {qs}) AS t(q) WHERE s.sketch = 'kll'"
            ).collect()
            cms = spark.sql(
                "SELECT sum(cms_point(s.state, p.tok)) FROM probe_tokens p "
                "CROSS JOIN profile_states s WHERE s.sketch = 'cms'"
            ).collect()[0][0]
        return (
            self._hll_ok(hll)
            and len(kll) == len(self.QUANTILES)
            and all(self._kll_ok(float(r["q"]), r["v"]) for r in kll)
            # count-min never underestimates
            and cms >= self.exact_probe_sum
        )

    def patches(self) -> list:
        tr = self.tracer
        orig_partials = pfs_base.build_partials_multi
        orig_merge = pfs_base.tree_merge
        pending: list = []  # build_partials_multi spans awaiting lineage

        def build_partials_multi(*args, **kwargs):
            with tr.span("sketches.base.build_partials_multi", lazy=True) as rec:
                out = orig_partials(*args, **kwargs)
                pending.append((rec, out))
                return out

        def tree_merge(df, *args, **kwargs):
            # the first merge runs after the partials are cached and
            # counted: read their lineage columns from the cache
            while pending:
                rec, partials = pending.pop()
                with tr.aux():
                    rows = partials.select("shard_id", "input_rows", "build_ns").collect()
                per_partition = {r["shard_id"]: r for r in rows}
                rec["lineage"] = {
                    "partials": len(rows),
                    "input_rows": sum(r["input_rows"] for r in per_partition.values()),
                    "build_ns": sum(r["build_ns"] for r in per_partition.values()),
                }
            with tr.span("sketches.base.tree_merge", lazy=True):
                return orig_merge(df, *args, **kwargs)

        return [
            (pfs_base, "build_partials_multi", build_partials_multi),
            (pfs_base, "tree_merge", tree_merge),
        ]

    def per_cycle_figures(self) -> dict:
        return dict(self.last)

    def layer_metrics(self, cycles: list[dict]) -> dict:
        untraced = [c for c in cycles if not c["traced"]]
        traced = [c for c in cycles if c["traced"]]
        out = {
            "profile.tokens_per_s": self.exact_total
            / (_median(c["build_ms"] for c in untraced) / 1e3),
            "profile.hll_rel_error": _median(c["figures"]["hll_rel_error"] for c in cycles),
        }
        per = []
        for c in traced:
            spans = c["spans"]
            bp = _named(spans, "sketches.base.build_partials_multi")[0]
            tm = _named(spans, "sketches.base.tree_merge")
            scan = max(bp["stages"], key=lambda s: s["run_ms"])
            sql = _named(spans, "spark.sketch_sql")[0]
            per.append(
                {
                    "build_partials_multi.scan_stage_ms": scan["run_ms"],
                    "build_partials_multi.input_rows": bp["lineage"]["input_rows"],
                    "build_partials_multi.partials": bp["lineage"]["partials"],
                    "build_partials_multi.kernel_cpu_ms": bp["lineage"]["build_ns"] / 1e6,
                    "tree_merge.ms": sum(j["wall_ms"] for s in tm for j in s["jobs"]),
                    "tree_merge.jobs": _jobs(tm),
                    "register_sketch_sql.query_ms": (sql["end"] - sql["start"]) * 1e3,
                }
            )
        for key in per[0]:
            out[key] = _median(x[key] for x in per)
        return out


# -- table_lookup ----------------------------------------------------------

_KEY_SPACE = 1 << 40


class TableLookup(Workload):
    """Snapshot-table commits (append + index update) beside needle
    lookups through ``skipping_read`` with the file index."""

    name = "table_lookup"
    SCALES = {
        "full": {"snapshots": 6, "rows": 25_000},
        "tiny": {"snapshots": 3, "rows": 500},
    }
    QUERIES_PER_CYCLE = 4  # just-appended, oldest, middle, absent key

    def __init__(self, *a):
        super().__init__(*a)
        rng = np.random.default_rng(self.seed)
        # k = id * P mod 2^40 with P odd: a bijection on [0, 2^40), so
        # keys are distinct, scattered, and computable on the driver;
        # id * P stays below 2^63 for every id used here
        self.mult = int(rng.integers(1 << 30, 1 << 38)) | 1
        self.rng = rng
        self.cfg = pfs_file_index.FileIndexConfig(
            expected_keys_per_file=self.size["rows"]
        )
        self.table = self.index = None
        self.last: dict = {}

    def _key(self, i: int) -> int:
        return i * self.mult % _KEY_SPACE

    def _append(self, snap: int) -> int:
        r = self.size["rows"]
        df = self.spark.range(snap * r, (snap + 1) * r).select(
            (F.col("id") * F.lit(self.mult) % F.lit(_KEY_SPACE)).alias("k"),
            F.col("id").alias("v"),
        )
        return pfs_iceberg.write_table(df, self.table)

    def setup(self, rep: int) -> None:
        for d in (self.table, self.index):
            if d:
                shutil.rmtree(d)
        self.table = os.path.join(self.workdir, f"kv_table_{rep}")
        self.index = os.path.join(self.workdir, f"kv_index_{rep}")
        for snap in range(self.size["snapshots"]):
            self._append(snap)
        pfs_iceberg.update_table_index(self.spark, self.table, self.index, "k", self.cfg)
        self.n_snaps = self.size["snapshots"]

    def build(self):
        with self.span("sources.iceberg.write_table"):
            snap = self._append(self.n_snaps)
        with self.span("sources.iceberg.update_table_index"):
            indexed = pfs_iceberg.update_table_index(
                self.spark, self.table, self.index, "k", self.cfg
            )
        self.n_snaps += 1
        manifest = pfs_iceberg.load_manifest(self.table)
        self.last = {"files_indexed": indexed}
        return snap == self.n_snaps and indexed == len(manifest[-1]["files"])

    def query(self, i: int):
        r = self.size["rows"]
        row = int(self.rng.integers(r))
        target = [
            (self.n_snaps - 1) * r + row,  # just appended
            row,  # oldest snapshot
            (self.n_snaps // 2) * r + row,  # middle snapshot
            _KEY_SPACE // 2 + row,  # never written (id beyond every snapshot)
        ][i]
        expected = 0 if i == 3 else 1
        key = self._key(target)
        with self.span("sources.iceberg.content_files"):
            files = pfs_iceberg.content_files(self.table)
        with self.span("spark.read_index"):
            index_df = self.spark.read.parquet(self.index)
        with self.span("sources.skipping.skipping_read"):
            df = pfs_skipping.skipping_read(
                self.spark, files, "k", [key], index_df=index_df, cfg=self.cfg
            )
        with self.span("spark.count"):
            n = df.count()
        self.last.setdefault("files_listed", []).append(len(files))
        return n == expected

    def patches(self) -> list:
        tr = self.tracer
        orig_prune = pfs_skipping.prune_files

        def prune_files(*args, **kwargs):
            with tr.span("sources.file_index.prune_files") as rec:
                out = orig_prune(*args, **kwargs)
                rec["files_kept"] = len(out)
                return out

        return [
            (pfs_skipping, "hash_probe_keys",
             tr.wrap(pfs_skipping.hash_probe_keys, "sources.file_index.hash_probe_keys")),
            (pfs_skipping, "prune_files", prune_files),
        ]

    def after_traced_op(self, kind: str) -> None:
        if kind == "build":
            self.last["manifest_bytes"] = os.path.getsize(
                os.path.join(self.table, "metadata", "snapshots.json")
            )

    def per_cycle_figures(self) -> dict:
        fig, self.last = dict(self.last), {}
        return fig

    def layer_metrics(self, cycles: list[dict]) -> dict:
        traced = [c for c in cycles if c["traced"]]
        spans = [s for c in traced for s in c["spans"]]
        ops = [s for s in spans if s["name"] in ("op.build", "op.query")]
        commits = [s for s in ops if s["name"] == "op.build"]
        lookups = [s for s in ops if s["name"] == "op.query"]

        def wall(name):
            return _median((s["end"] - s["start"]) * 1e3 for s in _named(spans, name))

        def jobs_per(op_spans):
            return _median(
                _jobs([o] + _descendants(spans, o["id"])) for o in op_spans
            )

        prunes = _named(spans, "sources.file_index.prune_files")
        listed = [n for c in traced for n in c["figures"].get("files_listed", [])]
        kept = sum(p["files_kept"] for p in prunes)
        return {
            "iceberg.write_table.ms": wall("sources.iceberg.write_table"),
            "iceberg.update_table_index.ms": wall("sources.iceberg.update_table_index"),
            "iceberg.update_table_index.files_indexed": _median(
                c["figures"]["files_indexed"] for c in traced
            ),
            "iceberg.manifest_bytes": _median(c["figures"]["manifest_bytes"] for c in traced),
            "commit.spark_jobs": jobs_per(commits),
            "file_index.hash_probe_keys.ms": wall("sources.file_index.hash_probe_keys"),
            "file_index.prune_files.ms": wall("sources.file_index.prune_files"),
            "file_index.skip_ratio": 1.0 - kept / sum(listed) if listed else 0.0,
            "lookup.scan_ms": wall("spark.count"),
            "lookup.spark_jobs": jobs_per(lookups),
        }


WORKLOADS = {w.name: w for w in (Membership, TokenProfile, TableLookup)}
