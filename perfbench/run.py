#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload membership --seed 1 --seconds 20 --trace 0

Run from the repository root. The run sets up the workload's inputs
(``SETUP_REPS`` times; ``setup_s`` is the median), runs untimed
warm-up cycles, then runs cycles until ``--seconds`` have passed. With
``--trace 0`` it prints the end-to-end metrics of ``BENCHMARK.json``;
with ``--trace 1`` it alternates untraced and traced cycles and prints
the per-layer metrics, including the tracing overhead, and writes the
spans to ``.perfbench/traces/``. Everything the run writes stays under
``.perfbench/`` and its scratch directory is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
MAX_CORES = 4
MAX_HEAP_MB = 2048


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", choices=("full", "tiny"), default="full",
        help="input sizes; 'tiny' is for the self-test only",
    )
    return ap.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def steal_counters() -> tuple[int, int]:
    """(steal jiffies, total jiffies) from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def host_memory_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)


def start_spark(workdir: str, cores: int, heap_mb: int):
    from prefix_filter_spark import get_spark

    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    return get_spark(
        app_name="perfbench",
        cores=cores,
        extra_conf={
            "spark.driver.memory": f"{heap_mb}m",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM it runs in, and wait for
    the JVM to exit (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:  # also when the JVM has already died
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _median(xs) -> float:
    return float(statistics.median(xs))


def run_op(wl, tracer, kind: str, fn) -> dict:
    tracer.op_id = (tracer.op_id or 0) + 1
    ok = False
    t0 = time.perf_counter()
    try:
        with tracer.span(f"op.{kind}"):
            ok = fn()
    except Exception:  # a failed operation is counted, the run goes on
        traceback.print_exc(file=sys.stderr)
    ms = (time.perf_counter() - t0) * 1e3
    if tracer.enabled:
        wl.after_traced_op(kind)
    if not ok:
        print(f"perfbench: {wl.name} {kind} operation failed its check", file=sys.stderr)
    return {"kind": kind, "ms": ms, "ok": ok}


def run_cycle(wl, tracer, traced: bool) -> dict:
    first_span = len(tracer.spans)
    patching = tracer.patched(wl.patches()) if traced else contextlib.nullcontext()
    with patching:
        ops = [run_op(wl, tracer, "build", wl.build)]
        for i in range(wl.QUERIES_PER_CYCLE):
            ops.append(run_op(wl, tracer, "query", lambda i=i: wl.query(i)))
    wl.after_cycle()
    spans = tracer.spans[first_span:]
    if traced:
        tracer.resolve(spans)
    return {
        "traced": traced,
        "ops": ops,
        "ms": sum(o["ms"] for o in ops),
        "build_ms": ops[0]["ms"],
        "spans": spans,
        "figures": wl.per_cycle_figures(),
    }


def layer_self_times(cycles: list[dict]) -> dict:
    """Self time per layer (ms per traced cycle) and the share of each
    operation's wall time its child spans cover (the minimum)."""
    from tracing import layer_of, self_times

    per_layer: dict[str, float] = {}
    coverage = []
    traced = [c for c in cycles if c["traced"]]
    for c in traced:
        selfs = self_times(c["spans"])
        for s in c["spans"]:
            layer = layer_of(s["name"])
            per_layer[layer] = per_layer.get(layer, 0.0) + selfs[s["id"]] * 1e3
            if s["parent"] is None:
                coverage.append(1.0 - selfs[s["id"]] / (s["end"] - s["start"]))
    out = {f"self_ms.{k}": v / len(traced) for k, v in per_layer.items()}
    out["trace.span_coverage"] = min(coverage)
    return out


def collect_garbage(spark) -> None:
    """Untimed Python and JVM collections before each cycle, so a pause
    for garbage left by earlier cycles does not land inside an
    operation."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def measure(wl, tracer, seconds: float, trace: bool) -> list[dict]:
    for _ in range(wl.WARMUP_CYCLES):  # not recorded
        run_cycle(wl, tracer, traced=False)
    deadline = time.perf_counter() + seconds
    cycles = []
    while True:
        collect_garbage(wl.spark)
        cycles.append(run_cycle(wl, tracer, traced=trace and len(cycles) % 2 == 1))
        print(
            f"perfbench: cycle {len(cycles)} traced={cycles[-1]['traced']} "
            + " ".join(f"{o['kind']}={o['ms']:.0f}ms" for o in cycles[-1]["ops"]),
            file=sys.stderr,
        )
        if time.perf_counter() >= deadline and (not trace or len(cycles) >= 2):
            return cycles


def summarize(spec, wl, cycles, setup_times, trace: bool, host: dict) -> dict:
    ops = [o for c in cycles for o in c["ops"]]
    failed = sum(not o["ok"] for o in ops)
    if trace:
        values = dict(host)
        values.update(wl.layer_metrics(cycles))
        values.update(layer_self_times(cycles))
        plain = [c["ms"] for c in cycles if not c["traced"]]
        traced = [c["ms"] for c in cycles if c["traced"]]
        overhead = _median(traced) - _median(plain)
        values["trace.overhead_ms"] = overhead
        values["trace.overhead_share"] = overhead / _median(plain)
        declared = spec["per_layer"]
    else:
        values = {
            "setup_s": _median(setup_times),
            "build_ms_p50": _median(o["ms"] for o in ops if o["kind"] == "build"),
            "query_ms_p50": _median(o["ms"] for o in ops if o["kind"] == "query"),
        }
        declared = spec["end_to_end"]
    # a per-layer metric of a layer this workload does not use reads 0
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in declared
    }
    missing = sorted(set(values) - set(metrics))
    if missing:
        print(f"perfbench: undeclared metrics {missing}", file=sys.stderr)
    return {"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "prefix_filter_spark")):
        print("perfbench: no prefix_filter_spark package next to perfbench/", file=sys.stderr)
        return 2
    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; one of {names}", file=sys.stderr)
        return 2

    sys.path[:0] = [ROOT, os.path.dirname(os.path.abspath(__file__))]
    workdir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    os.makedirs(workdir)
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    nproc = len(os.sched_getaffinity(0))
    cores = min(MAX_CORES, nproc)
    heap_mb = min(MAX_HEAP_MB, host_memory_mb() // 4)

    spark = None
    t_start = time.perf_counter()
    try:
        spark = start_spark(workdir, cores, heap_mb)
        t_spark = time.perf_counter()
        from tracing import Tracer
        from workloads import WORKLOADS

        tracer = Tracer(spark)
        wl = WORKLOADS[args.workload](spark, tracer, args.seed, args.scale, workdir)
        setup_times = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(rep)
            setup_times.append(time.perf_counter() - t0)
        t_prepare = time.perf_counter()
        wl.prepare()
        t_measure = time.perf_counter()
        steal0 = steal_counters()
        cycles = measure(wl, tracer, args.seconds, bool(args.trace))
        steal1 = steal_counters()
        t_end = time.perf_counter()
        jvm_heap_mb = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory() / (1 << 20)
        host = {
            "host.nproc": nproc,
            "host.spark_cores": cores,
            "host.driver_heap_mb": jvm_heap_mb,
            "host.steal_pct": 100.0 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        }
        print(
            f"perfbench: {args.workload} seed={args.seed} cycles={len(cycles)} "
            f"nproc={nproc} cores={cores} heap_mb={jvm_heap_mb:.0f} "
            f"steal_pct={host['host.steal_pct']:.2f} spark_start_s={t_spark - t_start:.1f} "
            f"setup_reps_s={[round(t, 2) for t in setup_times]} "
            f"prepare_s={t_measure - t_prepare:.1f} measure_s={t_end - t_measure:.1f}",
            file=sys.stderr,
        )
        result = summarize(spec, wl, cycles, setup_times, bool(args.trace), host)
        if args.trace:
            trace_dir = os.path.join(ROOT, ".perfbench", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
            with open(path, "w") as f:
                json.dump({"cycles": cycles, "result": result}, f)
            print(f"perfbench: spans written to {path}", file=sys.stderr)
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
