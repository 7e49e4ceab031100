"""Skew-detected aggregation planning: measure key skew with one
shuffle-free sketch pass, then size (or skip) the salted two-phase
aggregation from the measurement instead of a guess.

``plans/salting.py`` and ``operators/per_group.py`` provide the
MECHANISM (salted two-phase aggregation / per-group sketch builds);
this module provides the POLICY: a Misra-Gries pass over the group key
(map-side partials + tiny tree merge — the data never shuffles, the
same plan shape as every §2.4 sketch) yields a LOWER BOUND on the
hottest key's share, and the salt fan-out is sized so the hottest
group's expected per-reducer slice matches the mean group's load:

    buckets ~ top_share * n_groups   (clamped to [1, max_buckets])

A uniform key profile therefore plans buckets=1 — the salted plan
degenerates to the plain one and the second phase merges single
partials — while a 50%-hot-key corpus fans exactly that group wide.
MG's guarantee makes the decision safe in one direction: counts are
lower bounds (true - err <= est <= true), so a genuinely hot key
cannot hide below the threshold when err is small relative to total
(err/total is reported for the caller to judge).

Reference scope: no counterpart in TomerEven/Prefix-Filter; the
engine-side payoff of the MG sketch, sibling of
``operators/join_planner.py``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from prefix_filter_spark.sketches import base, mg


@dataclass(frozen=True)
class SkewReport:
    total_rows: int
    n_groups_tracked: int   # counters surviving in the MG summary
    top_key: str
    top_share_lb: float     # lower bound on the hottest key's share
    err_share: float        # MG subtraction error / total (slack)


def detect_key_skew(df: DataFrame, key_col: str, mg_k: int = 256) -> SkewReport:
    """One shuffle-free MG pass over the key column. ``mg_k`` bounds
    both the summary size and the error: err <= total / (k+1), so with
    k=256 any key above ~0.4% of the corpus is visible."""
    # NULL is one group of a groupBy too (and can be the hot one); the
    # sketch skips NULL values, so count it under the name "None"
    key = F.coalesce(F.col(key_col).cast("string"), F.lit("None"))
    total, err, counts = mg.estimates(base.estimate_state(df, key, mg.MgConfig(k=mg_k)))
    if not counts or total == 0:
        return SkewReport(total, 0, "", 0.0, 0.0)
    top_key, top_cnt = max(counts.items(), key=lambda kv: kv[1])
    return SkewReport(
        total_rows=total,
        n_groups_tracked=len(counts),
        top_key=top_key,
        top_share_lb=top_cnt / total,
        err_share=err / total,
    )


def plan_salt_buckets(
    report: SkewReport,
    n_groups: int | None = None,
    *,
    skew_share: float = 0.05,
    max_buckets: int = 64,
) -> int:
    """Salt fan-out from a skew measurement: 1 (no salting) when the
    hottest key's lower-bound share is at most ``skew_share``; otherwise
    enough buckets that the hot group's expected per-reducer slice is
    ~a mean group's load (top_share * n_groups), clamped to
    ``max_buckets``. ``n_groups`` defaults to the MG-tracked counter
    count (an undercount on heavy-tailed keys — pass the real group
    count when known)."""
    if report.top_share_lb <= skew_share:
        return 1
    g = n_groups if n_groups is not None else max(report.n_groups_tracked, 1)
    return max(2, min(max_buckets, round(report.top_share_lb * g)))


def plan_sketch_by_group(
    df: DataFrame,
    group_col: str,
    value_col,
    cfg,
    *,
    salt_on: str,
    skew_share: float = 0.05,
    max_buckets: int = 64,
    mg_k: int = 256,
    n_groups: int | None = None,
) -> tuple[DataFrame, SkewReport, int]:
    """Measured-skew variant of ``per_group.sketch_by_group``: detect
    the group key's skew, size the salt fan-out from it, run the
    two-phase build. -> (group-state DataFrame, SkewReport, buckets).
    Output is bit-identical to any other bucket count (the merges are
    associative — pytest-pinned), so the planner only moves WORK, never
    results."""
    from prefix_filter_spark.operators.per_group import sketch_by_group

    report = detect_key_skew(df, group_col, mg_k)
    buckets = plan_salt_buckets(
        report, n_groups, skew_share=skew_share, max_buckets=max_buckets
    )
    out = sketch_by_group(
        df,
        group_col,
        value_col,
        cfg,
        salt_on=salt_on,
        salt_buckets=buckets,
    )
    return out, report, buckets
