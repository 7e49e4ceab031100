"""20-round incremental load benchmark — the reference's
benchmark_single_round_np_incremental (/root/reference/Tests/
smart_tests.hpp:203-260) re-expressed: per 5%-of-capacity round, insert
the next slice (partial build + associative merge into the running
state — the distributed form of incremental Add), then time uniform
lookups and yes lookups at that load.

Writes BENCH/incremental.md. Usage:
  python tools/incremental_bench.py [n_keys] [filter: pf|bloom|qf]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

ROUNDS = 20  # bench_precision, main-perf.cpp:36


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    kind = sys.argv[2] if len(sys.argv) > 2 else "pf"

    from pyspark.sql import functions as F

    from prefix_filter_spark.functions import register_contains_udf
    from prefix_filter_spark.session import get_spark
    from prefix_filter_spark.sketches import base, bloom, prefix_filter as pfm

    # build stages keep full task parallelism (AQE's byte-based
    # coalescing can't see per-group Python compute — bench.py has the
    # measured story)
    spark = get_spark(
        app_name="incremental-bench",
        extra_conf={"spark.sql.adaptive.coalescePartitions.enabled": "false"},
    )
    if kind == "pf":
        cfg = pfm.PrefixFilterConfig(n_capacity=n, num_shards=32, seed=23)
    elif kind == "qf":
        # the quotient filter IS this protocol's natural subject: the
        # only fingerprint filter here whose per-round partial states
        # merge bit-identically into the running state
        from prefix_filter_spark.sketches import quotient as qfm

        cfg = qfm.QuotientFilterConfig(n_capacity=n, num_shards=32, seed=23)
    else:
        cfg = bloom.BloomConfig(n_capacity=n, bits_per_key=12, num_shards=32, seed=23)
    merge = cfg.family.merge_states

    slice_n = n // ROUNDS
    probes_n = 200_000
    uniform = spark.range(10**10, 10**10 + probes_n).select(F.col("id").alias("key")).cache()
    uniform.count()

    state: dict[int, bytes] = {}
    prev_fn = None
    lines = [
        f"# Incremental load protocol — {kind}, n = {n:,}, {ROUNDS} rounds of 5%\n",
        "Reference: benchmark_single_round_np_incremental "
        "(smart_tests.hpp:203-260). 'add' = partial build + associative "
        "merge of the slice; lookups timed at the resulting load.\n",
        "NOTE: each 5% slice is a separate ~100k-key Spark job, so the "
        "rates here measure the per-job latency floor (~1s scheduling + "
        "Arrow round-trip), not kernel throughput — by design: this is "
        "what trickle-ingest looks like. Saturated-throughput numbers "
        "are in BENCH/BASELINE.md; load-independence of the rates (flat "
        "rows 2-20) is the property the reference's protocol checks.\n",
        "| round | load | add Mkeys/s | uniform Mprobes/s | yes Mprobes/s | yes hits |",
        "|---|---|---|---|---|---|",
    ]
    for r in range(ROUNDS):
        lo, hi = r * slice_n, (r + 1) * slice_n
        slice_df = spark.range(lo, hi).select(F.col("id").alias("key"))
        t0 = time.perf_counter()
        partial = {
            row["shard_id"]: bytes(row["state"])
            for row in base.build_filter(slice_df, "key", cfg).collect()
        }
        for sid, st in partial.items():
            state[sid] = st if sid not in state else merge([state[sid], st], cfg, sid)
        t_add = time.perf_counter() - t0

        handle = base.ShardedFilter(cfg, dict(state))
        fn = register_contains_udf(spark, f"inc_{kind}_{r}", handle, cfg.seed)
        if prev_fn is not None and prev_fn.broadcast is not None:
            # each round broadcasts the full cumulative state; without
            # this the executors pin O(ROUNDS x final_state) of stale
            # generations for the whole run
            prev_fn.broadcast.unpersist()
        prev_fn = fn
        t0 = time.perf_counter()
        uniform.where(fn("key")).count()
        t_uni = time.perf_counter() - t0
        yes = spark.range(0, hi).select(F.col("id").alias("key")).sample(
            False, min(1.0, probes_n / max(hi, 1)), seed=7
        )
        n_yes = yes.count()
        t0 = time.perf_counter()
        hits = yes.where(fn("key")).count()
        t_yes = time.perf_counter() - t0
        assert hits == n_yes, f"FN at round {r}: {n_yes - hits}"
        load = (r + 1) / ROUNDS
        lines.append(
            f"| {r + 1} | {load:.2f} | {slice_n / t_add / 1e6:.2f} "
            f"| {probes_n / t_uni / 1e6:.2f} | {n_yes / t_yes / 1e6:.2f} | {hits:,} |"
        )
        print(lines[-1])

    out = "BENCH/incremental.md" if kind == "pf" else f"BENCH/incremental_{kind}.md"
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
