"""Connected components (operators/components.py) vs a pure-Python
union-find reference, plus the keep-list contract."""

import random

from prefix_filter_spark.operators import components
from prefix_filter_spark.operators.components import (
    _auto_round_width,
    connected_components,
    dedup_keep_list,
)


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


def _spark_components(spark, edges):
    df = spark.createDataFrame(edges, "d1 long, d2 long")
    return {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }


def test_hand_graphs(spark):
    # chain, clique, two components, duplicate/reversed edges, self-loop
    edges = [
        (1, 2), (2, 3), (3, 4),          # chain -> comp 1
        (10, 11), (11, 10), (10, 10),    # dup + reversed + loop -> comp 10
        (20, 21), (21, 22), (20, 22),    # triangle -> comp 20
    ]
    got = _spark_components(spark, edges)
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
    }


def test_random_graph_matches_union_find(spark):
    rng = random.Random(7)
    edges = [
        (rng.randrange(200), rng.randrange(200)) for _ in range(150)
    ]
    edges = [(u, v) for u, v in edges if u != v]
    want = _uf_components(edges)
    got = _spark_components(spark, edges)
    assert got == want


def test_partitioning_invariance(spark):
    """CC is a pure function of the edge set — shuffled input and a
    different partition count give the identical mapping."""
    rng = random.Random(11)
    edges = [(rng.randrange(80), rng.randrange(80)) for _ in range(60)]
    edges = [(u, v) for u, v in edges if u != v]
    a = _spark_components(spark, edges)
    shuffled = list(edges)
    rng.shuffle(shuffled)
    df = spark.createDataFrame(shuffled, "d1 long, d2 long").repartition(7)
    b = {
        r["node"]: r["component"] for r in connected_components(df).collect()
    }
    assert a == b


def test_leakage_safe_split(spark):
    """No component straddles the train/test boundary, every id gets a
    split, and the fractions are roughly honored on many singletons."""
    from prefix_filter_spark.operators.components import leakage_safe_split

    edges = [(i, i + 1) for i in range(0, 200, 2)]  # 100 pairs
    ids = spark.createDataFrame(
        [(i,) for i in range(1000)], "doc_id long"
    )
    pairs = spark.createDataFrame(edges, "d1 long, d2 long")
    out = leakage_safe_split(pairs, ids, test_frac=0.2).collect()
    assert len(out) == 1000
    split_of = {}
    for r in out:
        split_of.setdefault(r["component"], set()).add(r["split"])
    assert all(len(s) == 1 for s in split_of.values()), (
        "a component straddles the split boundary"
    )
    frac = sum(1 for r in out if r["split"] == "test") / len(out)
    assert 0.1 < frac < 0.3, frac


def test_dedup_keep_list(spark):
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 9)], "d1 long, d2 long")
    ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 5, 7, 9]], "doc_id long")
    got = {
        r["doc_id"]: (r["component"], r["keep"])
        for r in dedup_keep_list(pairs, ids).collect()
    }
    assert got == {
        1: (1, True), 2: (1, False), 3: (1, False),
        5: (5, True),                       # untouched by any pair
        7: (7, True), 9: (7, False),
    }


def test_leakage_split_survives_64bit_ids(spark):
    """Round-3 regression: (component + seed) * A overflowed int64 for
    ids above ~8.4e9 under the session's ANSI default. The pmod-first
    LCG must run on 2^62-scale ids and match a pure-Python recompute."""
    from prefix_filter_spark.operators.components import leakage_safe_split

    base = 2**62
    top = 2**63 - 40  # within `seed` of 2^63: the seed-add window
    ids = spark.createDataFrame(
        [(base + i,) for i in range(40)] + [(top + i,) for i in range(39)],
        "doc_id long",
    )
    pairs = spark.createDataFrame(
        [(base + i, base + i + 1) for i in range(0, 20, 2)], "d1 long, d2 long"
    )
    out = leakage_safe_split(pairs, ids, test_frac=0.25, seed=17).collect()
    assert len(out) == 79
    M, A, C = 2**31, 1103515245, 12345
    cut = int(0.25 * M)
    for r in out:
        h = (((r["component"] + 17) % M) * A + C) % M
        assert r["split"] == ("test" if h < cut else "train")


def test_checkpoint_dir_reliable_path(spark, tmp_path):
    """The real-cluster truncation path: checkpoint_dir switches the
    per-round lineage cut to reliable checkpoint(dir). Output must be
    identical to the localCheckpoint path and checkpoint files must
    actually land in the directory."""
    import os
    import random

    rng = random.Random(5)
    edges = [(rng.randrange(100), rng.randrange(100)) for _ in range(80)]
    edges = [(u, v) for u, v in edges if u != v]
    df = spark.createDataFrame(edges, "d1 long, d2 long")
    cp = str(tmp_path / "cc_checkpoints")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, checkpoint_dir=cp).collect()
    }
    want = {
        r["node"]: r["component"] for r in connected_components(df).collect()
    }
    assert got == want
    assert any(os.scandir(cp)), "no checkpoint files written"


def test_num_shuffle_partitions_identical_result(spark):
    """The explicit shuffle-width override changes only the physical
    layout: same mapping as the session-width run, and the session
    width is restored afterwards (including on the non-override
    path's exception-free exit)."""
    rng = random.Random(13)
    edges = [(rng.randrange(120), rng.randrange(120)) for _ in range(90)]
    edges = [(u, v) for u, v in edges if u != v]
    df = spark.createDataFrame(edges, "d1 long, d2 long")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    a = {r["node"]: r["component"] for r in connected_components(df).collect()}
    b = {
        r["node"]: r["component"]
        for r in connected_components(df, num_shuffle_partitions=4).collect()
    }
    assert a == b
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_auto_round_width_capped_at_session_width():
    # ~16k edges per task, pow2-rounded, floored at 8
    assert _auto_round_width(128, 1_000_000) == 64
    assert _auto_round_width(128, 100) == 8
    # capped at the session width it is given
    assert _auto_round_width(16, 10**8) == 16


def test_auto_width_sees_session_width_not_provisional(spark, monkeypatch):
    """The canonicalizing pass runs under a provisional (narrower)
    shuffle width; the round width must be capped by the session's
    own width, saved before that override."""
    seen = []

    def spy(session_width, n_edges):
        seen.append(
            (session_width, int(spark.conf.get("spark.sql.shuffle.partitions")))
        )
        return _auto_round_width(session_width, n_edges)

    monkeypatch.setattr(components, "_auto_round_width", spy)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4096")
    try:
        df = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "d1 long, d2 long")
        connected_components(df).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    (session_width, in_force), = seen
    assert in_force < 4096  # the provisional override was active
    assert session_width == 4096
