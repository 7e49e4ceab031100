"""Hypothesis property tests for the pocket-dictionary kernel —
generated adversarial streams (hot PDs, boundary qr values, duplicate
pairs) against the sequential model."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from prefix_filter_spark.sketches import pd_kernel

pairs_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=7),  # few PDs -> heavy overflow
        st.one_of(
            st.integers(min_value=0, max_value=pd_kernel.QR_SPACE - 1),
            st.sampled_from([0, 1, 255, 256, 6399, 6398, 3200]),  # boundaries
        ),
    ),
    min_size=0,
    max_size=600,
)


@settings(max_examples=60, deadline=None)
@given(pairs_strategy, st.randoms())
def test_batch_equals_sequential_model(pairs, rnd):
    num_pd = 8
    model = pd_kernel.SequentialPDModel(num_pd)
    shuffled = list(pairs)
    rnd.shuffle(shuffled)
    for p, q in shuffled:
        model.add(p, q)

    if pairs:
        pd_idx = np.array([p for p, _ in pairs], dtype=np.int64)
        qr = np.array([q for _, q in pairs], dtype=np.int64)
    else:
        pd_idx = np.zeros(0, dtype=np.int64)
        qr = np.zeros(0, dtype=np.int64)
    headers, body, ev_pd, ev_qr, _ = pd_kernel.build_pds(pd_idx, qr, num_pd)
    counts_incl, overflowed, last_quot = pd_kernel.decode_headers(headers)

    assert (overflowed == np.array(model.overflowed)).all()
    assert set(zip(ev_pd.tolist(), ev_qr.tolist())) == model.spare
    for p in range(num_pd):
        cap = int(counts_incl[p, -1])
        assert cap == len(model.pds[p])
        got = [
            (int((counts_incl[p] <= j).sum()) << 8) | int(body[p, j])
            for j in range(cap)
        ]
        assert got == model.pds[p]

    # every possible probe answers identically
    max_qr = pd_kernel.max_qr_of(body, counts_incl, overflowed, last_quot)
    if pairs:
        probe_pd = pd_idx
        probe_qr = qr
        l1, route = pd_kernel.probe_pds(
            counts_incl, overflowed, max_qr, body, probe_pd, probe_qr
        )
        spare = set(zip(ev_pd.tolist(), ev_qr.tolist()))
        got_ans = l1 | (
            route
            & np.array(
                [(int(p), int(q)) in spare for p, q in zip(probe_pd, probe_qr)]
            )
        )
        want = np.array([model.contains(int(p), int(q)) for p, q in pairs])
        assert (got_ans == want).all()
        assert got_ans.all()  # inserted keys: zero FN, always


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(0, 24), min_size=0, max_size=25),
        min_size=1,
        max_size=32,
    )
)
def test_header_roundtrip_property(quot_lists):
    num_pd = len(quot_lists)
    counts_q = np.zeros((num_pd, 25), dtype=np.int64)
    for i, qs in enumerate(quot_lists):
        for q in qs:
            counts_q[i, q] += 1
    overflowed = np.array([len(qs) == 25 for qs in quot_lists])
    last_quot = np.array(
        [max(qs) if (len(qs) == 25 and qs) else 0 for qs in quot_lists], dtype=np.int64
    )
    headers = pd_kernel.encode_headers(counts_q, overflowed, last_quot)
    counts_incl, got_over, got_lq = pd_kernel.decode_headers(headers)
    assert (counts_incl == counts_q.cumsum(axis=1)).all()
    assert (got_over == overflowed).all()
    assert (got_lq == last_quot).all()


# ---- cuckoo placement invariants (adversarial pair sets) -------------

cuckoo_keys_strategy = st.lists(
    st.integers(min_value=0, max_value=2**63 - 1), min_size=0, max_size=400
)


@settings(max_examples=40, deadline=None)
@given(cuckoo_keys_strategy, st.randoms())
def test_cuckoo_state_invariants(keys, rnd):
    """Every inserted key probes true (zero FN); placement is
    arrival-order free; split-merge reproduces the one-shot state."""
    from prefix_filter_spark.sketches import cuckoo as ck
    from prefix_filter_spark.hashing import as_u64

    cfg = ck.CuckooConfig(n_capacity=4_000, num_shards=16, seed=3)
    arr = as_u64(np.array(sorted(set(keys)), dtype=np.uint64))
    state = ck.build_state(cfg, 0, arr)
    if len(arr):
        assert ck._contains_in_state(cfg, state, arr).all(), "false negative"
    # arrival-order free
    shuffled = list(arr)
    rnd.shuffle(shuffled)
    assert ck.build_state(cfg, 0, np.unique(as_u64(np.array(shuffled, dtype=np.uint64)))) == state
    # split anywhere, merge in shuffled order -> bit-identical
    if len(arr) >= 2:
        cut = rnd.randrange(1, len(arr))
        parts = [ck.build_state(cfg, 0, arr[:cut]), ck.build_state(cfg, 0, arr[cut:])]
        rnd.shuffle(parts)
        assert ck.merge_states(parts, cfg) == state


@settings(max_examples=30, deadline=None)
@given(cuckoo_keys_strategy, st.sampled_from([16, 13]), st.randoms())
def test_cuckoo_flagless_state_invariants(keys, fp_bits, rnd):
    """The flagless layouts (CF-16 ver 4, semisort ver 3) satisfy the
    same invariants as the flagged layout: zero FN, arrival-order-free
    placement, split-merge bit-identity — under adversarial key sets."""
    from prefix_filter_spark.hashing import as_u64
    from prefix_filter_spark.sketches import cuckoo as ck

    cfg = ck.CuckooConfig(
        n_capacity=4_000, fp_bits=fp_bits, num_shards=16, seed=3,
        semisort=(fp_bits == 13),
    )
    arr = as_u64(np.array(sorted(set(keys)), dtype=np.uint64))
    state = ck.build_state(cfg, 0, arr)
    if len(arr):
        assert ck._contains_in_state(cfg, state, arr).all(), "false negative"
    shuffled = list(arr)
    rnd.shuffle(shuffled)
    assert (
        ck.build_state(cfg, 0, np.unique(as_u64(np.array(shuffled, dtype=np.uint64))))
        == state
    )
    if len(arr) >= 2:
        cut = rnd.randrange(1, len(arr))
        parts = [ck.build_state(cfg, 0, arr[:cut]), ck.build_state(cfg, 0, arr[cut:])]
        rnd.shuffle(parts)
        assert ck.merge_states(parts, cfg) == state
