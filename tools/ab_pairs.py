"""Alternating A/B pairs of the repository benchmark between two revisions.

    python tools/ab_pairs.py <parent-rev> <change-rev> --workload token_profile --pairs 10

Both revisions (any git tree-ish: a commit, a branch, or the tree id
``git write-tree`` prints for the staged index) are extracted with
``git archive`` into one scratch directory, so neither side runs from
the working repository. Pair ``i`` runs ``perfbench/run.py --workload W
--seed i --seconds S --trace 0`` (S is the parent's
``BENCHMARK.json`` ``run_seconds``) once in each copy, one run at a time:
odd seeds run the parent first, even seeds the change first. Each run
starts in its copy's root with that copy on ``PYTHONPATH``, so the
driver and the workers import that copy's package.

``--workload`` may be repeated; each workload gets ``--pairs`` pairs.
Every run's JSON line, with ``run.py``'s host line (steal %, phase
times) from standard error, is appended to ``runs.jsonl`` in the
scratch directory, and the tables print to standard output in the layout of
``BENCH/*_ab.md``: per end-to-end metric of the parent's
``BENCHMARK.json``, each side's median and IQR (the distance between
the quartiles, exclusive method), the change/parent ratio of the
medians, the pairs the change won, and whether the change stays within
the metric's bound (median no worse than the bound allows, IQR no
wider than the bound times the parent's median). ``--render`` prints
the tables of an existing ``runs.jsonl`` without running anything.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("parent", "change")
RUN_TIMEOUT_S = 900


def extract(rev: str, dest: str) -> None:
    os.makedirs(dest)
    archive = subprocess.run(
        ["git", "-C", REPO, "archive", "--format=tar", rev], check=True, capture_output=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_once(checkout: str, workload: str, seed: int, seconds: float) -> dict:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    env = dict(os.environ, PYTHONPATH=checkout)
    try:
        proc = subprocess.run(
            cmd, cwd=checkout, env=env, capture_output=True, text=True, timeout=RUN_TIMEOUT_S
        )
    except subprocess.TimeoutExpired:
        return {"error": f"timed out after {RUN_TIMEOUT_S} s"}
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        return {"error": f"exit {proc.returncode}: {proc.stderr.strip()[-400:]}"}
    result = json.loads(lines[-1])
    # run.py's host line (steal %, phase times) explains outlying runs
    host = [ln for ln in proc.stderr.splitlines() if ln.startswith(f"perfbench: {workload} seed=")]
    result["host"] = host[-1] if host else ""
    return result


def iqr(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4, method="exclusive")
    return q3 - q1


def _fmt(v: float, unit: str) -> str:
    return f"{v:.3f}" if unit == "s" else f"{v:.0f}"


def render(runs: list[dict], metrics: list[dict]) -> str:
    """The summary, failure and per-run tables for every workload in ``runs``."""
    out = []
    for workload in dict.fromkeys(r["workload"] for r in runs):
        wl = [r for r in runs if r["workload"] == workload and "metrics" in r["result"]]
        by = {(r["seed"], r["side"]): r["result"]["metrics"] for r in wl}
        seeds = sorted({s for s, side in by if all((s, x) in by for x in SIDES)})
        bounds = {m["bound"] for m in metrics}
        out += [
            f"## {workload}",
            "",
            "| workload | metric | parent median | parent IQR | change median | change IQR "
            "| change/parent | change better in pairs "
            f"| within {bounds.pop() if len(bounds) == 1 else 'bound'} |",
            "|---|---|---|---|---|---|---|---|---|",
        ]
        for m in metrics if seeds else []:
            name, lower = m["name"], m["better"] == "lower"
            vals = {x: [by[(s, x)][name]["value"] for s in seeds] for x in SIDES}
            med = {x: statistics.median(vals[x]) for x in SIDES}
            spread = {x: iqr(vals[x]) for x in SIDES}
            won = sum((c < p) if lower else (c > p) for p, c in zip(vals["parent"], vals["change"]))
            worse = (med["change"] - med["parent"]) * (1 if lower else -1)
            ok = worse <= m["bound"] * med["parent"] and spread["change"] <= m["bound"] * med["parent"]
            out.append(
                f"| {workload} | {name} | {_fmt(med['parent'], m['unit'])} "
                f"| {_fmt(spread['parent'], m['unit'])} | {_fmt(med['change'], m['unit'])} "
                f"| {_fmt(spread['change'], m['unit'])} "
                f"| {med['change'] / med['parent']:.3f} | {won}/{len(seeds)} "
                f"| {'yes' if ok else 'no'} |"
            )
        out += [
            "",
            "| workload | side | runs | failed / attempted operations | runs with no result |",
            "|---|---|---|---|---|",
        ]
        for x in SIDES:
            side = [r for r in runs if r["workload"] == workload and r["side"] == x]
            res = [r["result"] for r in side if "metrics" in r["result"]]
            failed = sum(r["failed"] for r in res)
            attempted = sum(r["attempted"] for r in res)
            out.append(
                f"| {workload} | {x} | {len(side)} | {failed} / {attempted} | {len(side) - len(res)} |"
            )
        names = [m["name"] for m in metrics]
        out += [
            "",
            "Per-run values in run order (within each pair, the first row ran first):",
            "",
            "| workload | seed | side | " + " | ".join(names) + " |",
            "|---|---|---|" + "---|" * len(names),
        ]
        for r in (r for r in runs if r["workload"] == workload):
            res = r["result"]
            cells = (
                [f"{res['metrics'][n]['value']:.2f}" if n == "setup_s"
                 else f"{res['metrics'][n]['value']:.1f}" for n in names]
                if "metrics" in res else [res.get("error", "no result")] + [""] * (len(names) - 1)
            )
            out.append(f"| {workload} | {r['seed']} | {r['side']} | " + " | ".join(cells) + " |")
        out.append("")
    return "\n".join(out)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent", nargs="?", help="parent revision (git tree-ish)")
    ap.add_argument("change", nargs="?", help="change revision (git tree-ish)")
    ap.add_argument("--workload", action="append", default=[])
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--dir", help="scratch directory (default: a new temporary one)")
    ap.add_argument("--render", metavar="RUNS_JSONL", help="print the tables of a runs.jsonl")
    args = ap.parse_args(argv)

    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]
    if args.render:
        with open(args.render) as f:
            print(render([json.loads(ln) for ln in f if ln.strip()], metrics))
        return 0
    if not (args.parent and args.change and args.workload):
        ap.error("give a parent and a change revision and at least one --workload")

    scratch = args.dir or tempfile.mkdtemp(prefix="ab_pairs-")
    checkouts = {x: os.path.join(scratch, x) for x in SIDES}
    for x, rev in zip(SIDES, (args.parent, args.change)):
        extract(rev, checkouts[x])
    with open(os.path.join(checkouts["parent"], "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = spec["end_to_end"]
    log_path = os.path.join(scratch, "runs.jsonl")
    print(f"ab_pairs: copies and {log_path} in {scratch}", file=sys.stderr)
    runs = []
    for workload in args.workload:
        for seed in range(args.first_seed, args.first_seed + args.pairs):
            for x in SIDES if seed % 2 else SIDES[::-1]:
                result = run_once(checkouts[x], workload, seed, spec["run_seconds"])
                run = {"workload": workload, "seed": seed, "side": x, "result": result}
                runs.append(run)
                with open(log_path, "a") as f:
                    f.write(json.dumps(run) + "\n")
                got = result.get("error") or {
                    n: round(v["value"], 2) for n, v in result["metrics"].items()
                }
                print(f"ab_pairs: {workload} seed={seed} {x}: {got}", file=sys.stderr)
    print(render(runs, metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
