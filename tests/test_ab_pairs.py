"""tools/ab_pairs.py: the A/B tables from recorded runs (no Spark)."""

import importlib.util
import os

_PATH = os.path.join(os.path.dirname(__file__), os.pardir, "tools", "ab_pairs.py")
_spec = importlib.util.spec_from_file_location("ab_pairs", _PATH)
ab_pairs = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab_pairs)

METRICS = [
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
    {"name": "query_ms_p50", "unit": "ms", "better": "lower", "bound": 0.25},
]


def _run(seed, side, setup, query, failed=0):
    metrics = {"setup_s": {"value": setup}, "query_ms_p50": {"value": query}}
    result = {"metrics": metrics, "failed": failed, "attempted": 8}
    return {"workload": "w", "seed": seed, "side": side, "result": result}


def test_iqr_is_the_exclusive_quartile_distance():
    assert ab_pairs.iqr([1.0, 2.0, 3.0, 4.0, 5.0]) == 3.0  # quartiles 1.5 and 4.5
    assert ab_pairs.iqr([7.0]) == 0.0


def test_render_counts_pairs_won_and_bounds():
    runs = []
    for seed, (p, c) in enumerate([(1000, 600), (1100, 650), (900, 950), (1050, 620)], 1):
        runs += [_run(seed, "parent", 1.5, p), _run(seed, "change", 1.6, c, failed=seed == 2)]
    runs.append({"workload": "w", "seed": 5, "side": "change", "result": {"error": "exit 1"}})
    text = ab_pairs.render(runs, METRICS)
    rows = {ln.split(" | ")[1]: ln for ln in text.splitlines() if ln.startswith("| w | ")}
    # medians 1025 -> 635, 3 of 4 pairs won; the change's IQR (270)
    # is wider than 0.25 x the parent's median
    assert rows["query_ms_p50"].endswith("| 1025 | 162 | 635 | 270 | 0.620 | 3/4 | no |")
    assert rows["setup_s"].endswith("| 1.500 | 0.000 | 1.600 | 0.000 | 1.067 | 0/4 | yes |")
    assert "| w | change | 5 | 1 / 32 | 1 |" in text
    assert "| w | 5 | change | exit 1 |  |" in text
