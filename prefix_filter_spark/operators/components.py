"""Distributed connected components over near-duplicate pairs.

The step every dedup pipeline needs between pair generation
(minhash_lsh_pairs / simhash_pairs / srp_near_dup_pairs /
semdedup_pairs) and the keep-one-per-cluster decision: near-dup PAIRS
are edges; the unit of deduplication is the connected COMPONENT (A~B,
B~C ⇒ {A,B,C} even when A~C never surfaced as a pair).

Algorithm: alternating large-star / small-star (Kiveris et al. 2014,
"Connected Components in MapReduce and Beyond") — the standard
shuffle-based CC for data too big for one machine:

- large-star: every node u connects its strictly-larger neighbors to
  m(u) = min(Γ(u) ∪ {u}).
- small-star: every node u connects its smaller-or-equal neighbors
  (and itself) to m(u).

Each round is two groupBy-min aggregations plus a join — no
collect_list, so a hot node (a giant dup cluster) never materializes
its neighbor list in one task. Converges in O(log² n) rounds to a
star forest: every node points at its component's minimum id.

Determinism: every step is a min — the result is a pure function of
the edge set, independent of partitioning, merge order, or executor
count (property: CC(edges) == CC(shuffle(edges))).

Scale notes: each round's output is checkpoint-truncated LAZILY —
``localCheckpoint(eager=False)`` in local mode, reliable
``checkpoint(dir)`` when ``checkpoint_dir`` is passed (the real-
cluster path: survives executor loss) — so the round's convergence
test is the action that materializes it: one job per round, not a
materialize-then-test pair. The loop stops as soon as the edge set
IS a star forest (every leaf has exactly one center and no node is
both) — a direct one-shuffle shape test. Detecting the terminal
SHAPE instead of fingerprint equality across rounds (the round-3
design) removes the full confirmation round the fingerprint needed:
equality can only be observed one round AFTER the fixpoint exists,
the shape test fires the round it appears (sf0.1 bench: 6.3s ->
~4.3s median, 3 materialized star rounds -> 2 plus no init
fingerprint job).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canon(edges: DataFrame) -> DataFrame:
    """Canonical undirected form: (s, b) with s < b, distinct, no loops."""
    return (
        edges.select(
            F.least("u", "v").alias("s"), F.greatest("u", "v").alias("b")
        )
        .where(F.col("s") != F.col("b"))
        .distinct()
    )


def _is_star_forest(canon: DataFrame) -> bool:
    """True iff ``canon`` (s < b, distinct) is a star forest: every b
    (leaf) appears exactly once and no node is both a center (s) and a
    leaf (b). Under s < b that makes each component a single star whose
    center is its minimum — exactly the algorithm's fixpoint, and any
    such state's stars ARE the input's connected components (every
    round preserves connectivity). One shuffle over 2n flag rows; the
    violation scan short-circuits via limit(1)."""
    flags = canon.select(
        F.col("s").alias("node"), F.lit(1).alias("c"), F.lit(0).alias("l")
    ).union(
        canon.select(
            F.col("b").alias("node"), F.lit(0).alias("c"), F.lit(1).alias("l")
        )
    )
    violations = (
        flags.groupBy("node")
        .agg(F.max("c").alias("c"), F.sum("l").alias("l"))
        .where((F.col("l") > 1) | ((F.col("c") == 1) & (F.col("l") > 0)))
        .limit(1)
    )
    return violations.count() == 0


def _sym(canon: DataFrame) -> DataFrame:
    """Both orientations of every edge via a single explode — NOT a
    union of two projections: each union branch re-derives its whole
    input subtree in the physical plan (no common-subexpression reuse
    across branches), which doubled the per-round work."""
    return canon.select(
        F.explode(
            F.array(
                F.struct(F.col("s").alias("u"), F.col("b").alias("v")),
                F.struct(F.col("b").alias("u"), F.col("s").alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v")


def _large_star(canon: DataFrame) -> DataFrame:
    # m(u) as a WINDOW min over partitionBy(u) — ONE exchange of sym
    # per star (round 5; was groupBy-min + join back = the same full
    # sym shuffle for the join PLUS the agg exchange). Skew analysis:
    # the join path already co-located all of a hot node's sym rows in
    # one task for the join, so the window's per-key task shape is no
    # worse, and total shuffled bytes strictly drop (the agg exchange
    # disappears). Measured at the 200k-edge gate: 4.0 -> 2.8 s
    # median for the full CC call.
    from pyspark.sql.window import Window

    sym = _sym(canon)
    m = F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
    return (
        sym.withColumn("m", m)
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(half: DataFrame) -> DataFrame:
    # orient every edge toward its larger endpoint b; Γ(b) here is b's
    # smaller neighborhood, so m = min over it (always < b since every
    # input row has s < b) — same single-exchange window shape as
    # _large_star. Attach rows and the per-b self row (b, m) are
    # emitted in ONE pass — the self row rides the (unique-per-b) row
    # whose s equals m (duplicates from upstream just re-emit selfs,
    # which the round's final distinct removes).
    from pyspark.sql.window import Window

    joined = half.withColumn("m", F.min("s").over(Window.partitionBy("b")))
    return joined.select(
        F.explode(
            F.when(
                F.col("s") == F.col("m"),
                F.array(
                    F.struct(F.col("s").alias("u"), F.col("m").alias("v")),
                    F.struct(F.col("b").alias("u"), F.col("m").alias("v")),
                ),
            ).otherwise(
                F.array(F.struct(F.col("s").alias("u"), F.col("m").alias("v")))
            )
        ).alias("e")
    ).select("e.u", "e.v")


def _auto_round_width(session_width: int, n_edges: int) -> int:
    """Shuffle width for the CC rounds from the measured edge count:
    ~16k canonical edges per task (pow2-rounded), floored at 8 and
    capped at ``session_width`` — the session's configured shuffle
    width, saved BEFORE any provisional override (never WIDER than the
    caller asked for anywhere else, and never capped by the override).
    The r4 bench A/B that motivates sizing down: 200k edges at the
    session's corpus-sized 128 -> 1.5k-row tasks of pure overhead, 27%
    slower than 32; the round-5 sweep then put 16 ahead of 32 on the
    same gate."""
    import math

    target = max(1, -(-n_edges // 16384))
    pow2 = 1 << math.ceil(math.log2(target))
    # no core-count floor: each round's exchanges are latency-bound at
    # gate scale and a 16-wide round beat 32 on a 32-core session in
    # the width sweep; large edge counts widen via the edges/task term
    return max(8, min(session_width, pow2))


def connected_components(
    pairs: DataFrame,
    src: str = "d1",
    dst: str = "d2",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
    num_shuffle_partitions: int | None | str = "auto",
) -> DataFrame:
    """(node, component) for every node in ``pairs``; component = the
    smallest node id reachable from it. Raises if ``max_iter`` rounds
    (default 25 ≫ the O(log² n) bound for any feasible n) pass without
    a fixpoint — that means a bug, not a big graph.

    ``checkpoint_dir``: on a real cluster pass a (durable, shared) path
    — per-round truncation then uses reliable ``checkpoint`` instead of
    ``localCheckpoint``, so the iteration survives executor loss (a
    localCheckpoint lives in executor block storage; losing one
    executor aborts the lineage-free job). Local mode defaults to the
    cheaper localCheckpoint.

    Round cost (trimmed in round 4): large-star's output is already
    loop-free with every edge oriented big->small, so it feeds
    small-star directly as (s, b) = (m, v) WITHOUT an intermediate
    distinct — duplicates are harmless under the min aggregations and
    are removed by the round's single final distinct. Both star ops
    avoid union-branch plan duplication (explode-based
    symmetrization, one-pass attach+self emit), each round's lazy
    truncation is materialized BY its star-forest convergence test
    (one job per round), and the test fires the round the fixpoint
    appears — no cross-round fingerprint, no confirmation round, no
    init-fingerprint job. An input that is already a star forest pays
    one idempotent round instead of a pre-loop check: non-trivial
    inputs (the common case) save that job every call.

    ``num_shuffle_partitions``: width of every per-round exchange
    (groupBy-min, join, distinct). Default ``"auto"`` (round 5):
    canonicalize + measure the edge count with one action (which also
    materializes the round-0 checkpoint, so nothing runs twice), then
    size the rounds via ``_auto_round_width`` — the session's
    ``spark.sql.shuffle.partitions`` is sized for the CORPUS, not for
    the pair set, which is orders of magnitude smaller (dup pairs, not
    documents) and shrinks every round, and an iterative job pays that
    mismatch ~5 exchanges x rounds times (measured: 200k edges at the
    bench session's 128 -> 27% slower than 32). Pass an int to pin the
    width, or ``None`` to inherit the session width unchanged. Scoped
    via a conf set/restore around the loop (the value is read at each
    round's plan time), so concurrent queries on the session should
    not rely on the session width while a CC call is in flight — same
    caveat the per-query conf overrides in bench.py already document."""
    spark = pairs.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def _truncate(df: DataFrame) -> DataFrame:
        # lazy: the per-round star-forest check is the materializing
        # action, so truncation costs no job of its own
        if checkpoint_dir is not None:
            return df.checkpoint(eager=False)
        return df.localCheckpoint(eager=False)

    canon_src = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    canon: DataFrame | None = None
    if isinstance(num_shuffle_partitions, str):
        if num_shuffle_partitions != "auto":
            raise ValueError(
                "num_shuffle_partitions must be an int, None, or 'auto'"
            )
        # the canonicalizing distinct runs BEFORE the edge count exists,
        # so it cannot use the measured width — run it at a provisional
        # min(session, parallelism) (the pair set never needs more than
        # the corpus-sized session width; measured 1.5 -> 0.8 s at the
        # gate). The count materializes the checkpoint, so the rounds
        # read round 0's result rather than re-running the (possibly
        # expensive) upstream pair generation.
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        provisional = min(int(prev_parts), max(8, spark.sparkContext.defaultParallelism))
        spark.conf.set("spark.sql.shuffle.partitions", str(provisional))
        try:
            canon = _truncate(_canon(canon_src))
            num_shuffle_partitions = _auto_round_width(
                int(prev_parts), canon.count()
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    if num_shuffle_partitions is not None:
        prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(num_shuffle_partitions)
        )
        try:
            if canon is None:
                canon = _truncate(_canon(canon_src))
            # the returned plan is rooted at the final round's
            # checkpointed RDD, so its partitioning is already fixed —
            # restoring the session width here cannot widen it
            return _cc_rounds(canon, _truncate, checkpoint_dir, max_iter)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    if canon is None:
        canon = _truncate(_canon(canon_src))
    return _cc_rounds(canon, _truncate, checkpoint_dir, max_iter)


def _cc_rounds(
    canon: DataFrame, _truncate, checkpoint_dir: str | None, max_iter: int
) -> DataFrame:
    """The alternating star loop + final star-forest projection (split
    from connected_components so the width-scoping wrapper stays flat)."""
    pinned: list[DataFrame] = []

    def _alternate(c: DataFrame) -> DataFrame:
        ls = _large_star(c)  # (u, v) with u > v strictly
        half = ls.select(F.col("v").alias("s"), F.col("u").alias("b"))
        # half feeds small-star twice (its min-agg and its join side).
        # Over a checkpointed canon that is one narrow recompute — free
        # at gate scale — but on a real cluster (SMJ regime, where the
        # reliable checkpoint_dir path is in use) it re-runs a shuffled
        # pipeline, so persist it there; released after the round's
        # convergence test.
        if checkpoint_dir is not None:
            half = half.persist()
            pinned.append(half)
        return _canon(_small_star(half))

    for _ in range(max_iter):
        try:
            canon = _truncate(_alternate(canon))
            converged = _is_star_forest(canon)
        finally:
            # release even when the convergence-test job throws
            # (executor loss mid-job is exactly the scenario the
            # reliable-checkpoint path exists for): a retry on the same
            # session must not inherit orphaned pinned RDDs
            while pinned:
                pinned.pop().unpersist()
        if converged:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    # star forest: every non-root points at its root; roots are the
    # component minima and belong to their own component. No global
    # distinct: b-uniqueness (just verified) makes the member rows
    # distinct, roots dedup on the (smaller) s projection alone, and
    # the two sides are disjoint (no node is both an s and a b).
    members = canon.select(F.col("b").alias("node"), F.col("s").alias("component"))
    roots = canon.select(F.col("s").alias("component")).distinct().select(
        F.col("component").alias("node"), "component"
    )
    return members.union(roots)


def leakage_safe_split(
    pairs: DataFrame,
    all_ids: DataFrame,
    test_frac: float = 0.1,
    id_col: str = "doc_id",
    src: str = "d1",
    dst: str = "d2",
    seed: int = 17,
) -> DataFrame:
    """Train/test split that cannot leak near-duplicates across the
    boundary: the unit of assignment is the CONNECTED COMPONENT of the
    near-dup graph, not the document — if A~B and A lands in test, B
    lands in test too (splitting per-doc puts one twin in train and one
    in test, silently inflating eval scores; this is the standard
    decontamination guard for heldout sets).

    Returns (id_col, component, split) with split ∈ {'train','test'};
    singletons (untouched by any pair) are their own component. The
    assignment hash is LCG arithmetic over the component id (seeded,
    deterministic, DuckDB-mirrorable), so the split is a pure function
    of (edge set, seed) — reshuffling data or adding executors cannot
    move a document across the boundary.
    """
    comp = connected_components(pairs, src=src, dst=dst)
    with_comp = (
        all_ids.select(F.col(id_col).alias("node"))
        .join(comp, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("component", "node").alias("component"),
        )
    )
    # reduce into 31 bits BEFORE the seed addition AND the multiply:
    # component+seed overflows int64 for components within `seed` of
    # 2^63 (review finding), and (x)*A overflows above ~8.4e9. Both
    # pmod-first forms are value-identical in exact arithmetic, so the
    # DuckDB oracle (HUGEINT promotion) and small-id outputs are
    # unchanged.
    h = F.pmod(
        F.pmod(
            F.pmod(F.col("component"), F.lit(2_147_483_648)) + F.lit(seed),
            F.lit(2_147_483_648),
        )
        * F.lit(1103515245)
        + F.lit(12345),
        F.lit(2_147_483_648),
    )
    cut = int(test_frac * 2_147_483_648)
    return with_comp.withColumn(
        "split", F.when(h < F.lit(cut), F.lit("test")).otherwise(F.lit("train"))
    )


def dedup_keep_list(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "doc_id",
    src: str = "d1",
    dst: str = "d2",
) -> DataFrame:
    """The pipeline's final answer: every id in ``all_ids`` with its
    component and a ``keep`` flag — keep the component minimum (one
    survivor per dup cluster), keep everything untouched by any pair."""
    comp = connected_components(pairs, src=src, dst=dst)
    return (
        all_ids.select(F.col(id_col).alias("node"))
        .join(comp, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("component", "node").alias("component"),
            (F.col("component").isNull() | (F.col("component") == F.col("node")))
            .alias("keep"),
        )
    )
