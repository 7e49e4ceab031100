"""Distributed Prefix Filter — L1 pocket dictionaries + Bloom spare.

The reference's ``Prefix_Filter<spareType>`` (``/root/reference/Tests/
wrappers.hpp:596-828``): keys hash to a pocket dictionary (L1); each PD
keeps the 25 smallest (quot, rem) pairs it has seen and overflows the
rest, re-keyed as ``(pd_index << 13) | qr`` (wrappers.hpp:661-673), into
a pluggable incremental spare filter (example.cpp:4-5 — any incremental
filter works; we plug the sharded Bloom in v1, the reference's TC
two-choice spare is a v2 item).

Distributed form (SURVEY.md §7): the global PD array is split across S
shards — shard = fastrange(hi32(xxhash64(key, seed)), S) JVM-side, PD
within shard from a splitmix64 remix NumPy-side — so the shard
concatenation *is* the reference's single PD array, generalized. Each
shard row carries its PD block plus its own spare-Bloom segment. Merge
of same-shard partial states is bit-identical to a one-pass build
(keep-25-smallest is decomposable; evicted(union) = spareA ∪ spareB ∪
merge-evictions — verified by shuffled-merge-order tests).

Sizing mirrors ConstructFromAddCount (wrappers.hpp:784-789,609-612):
num_pd = ceil(cap / (25 * load)), load = 0.95; spare sized for the
expected ~6.8% overflow at that load (wrappers.hpp:548-562 derives
1.08 * 0.0586 / 0.935 for the TC spare).

State layout (little-endian):
  'PFSP' | u8 ver | u8 spare_kind | u16 pad | u32 num_pd
  | u32 spare_bytes_len | u64 seed | u32 num_shards
  | headers u64[num_pd] | body u8[num_pd * 25] | spare filter state
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame

from prefix_filter_spark.hashing import (
    as_u64,
    fastrange32,
    fixed_reduce,
    mix_with_seed,
)
from prefix_filter_spark.sketches import base, bloom, pd_kernel

# spare_kind (_SPARE_KIND_CODE) | pad | num_pd u32 | spare_len u32
# | seed u64 | num_shards u32 — seed, shard count and spare kind are
# serialized so probe/merge boundaries reject a state/config mismatch
# loudly (silent false negatives otherwise)
FORMAT = base.StateFormat("prefix-filter", b"PFSP", (2,), "BHIIQI")
_SEED_MASK = 0xFFFFFFFFFFFFFFFF
_SPARE_KIND_CODE = {
    "bloom": 0, "tc": 1, "cuckoo": 2, "bbf": 3, "impala512": 4, "xor": 5,
    "ribbon": 6,
}


@dataclass(frozen=True)
class PrefixFilterConfig:
    n_capacity: int
    num_shards: int = 32
    seed: int = 42
    l1_load: float = 0.95
    spare_bits_per_key: int = 10
    spare_ratio: float = 0.08  # expected evictions ~6.8% (wrappers.hpp:548-562) + margin
    # pluggable spare, the reference's template parameter — all four of
    # the reference's published assemblies are expressible
    # (main-fpp.cpp:20-23: Prefix_Filter over SimdBlockFilterFixed /
    # CuckooFilterStable<u64,12> / TC_shortcut / Impala512), plus the
    # classic Bloom spare: "bloom" | "tc" | "cuckoo" | "bbf" | "impala512"
    # — and "xor" / "ribbon", assemblies the REFERENCE CANNOT EXPRESS: the spare
    # must accept incremental Adds (wrappers.hpp:675-720 inserts
    # evictions one at a time), but this engine's batch build knows a
    # shard's full eviction set up front, so a static build-once Xor
    # spare works — the densest assembly here (9.84 bits/key spare).
    # Build-once: merge_states raises for this kind (no incremental
    # accumulation; rebuild instead).
    spare_kind: str = "bloom"

    @property
    def shard_capacity(self) -> int:
        return max(1, math.ceil(self.n_capacity / self.num_shards))

    @property
    def num_pd_per_shard(self) -> int:
        # ConstructFromAddCount: ceil(n / (MAX_CAP0 * load)), wrappers.hpp:784-789
        return max(1, math.ceil(self.shard_capacity / (pd_kernel.MAX_CAP * self.l1_load)))

    @property
    def spare_capacity_per_shard(self) -> int:
        return max(64, math.ceil(self.shard_capacity * self.spare_ratio))


def _spare_config(cfg: PrefixFilterConfig):
    """THE spare dispatch: spare kind -> the spare's filter config, whose
    family record then builds, merges and probes it. Every spare kind is
    listed here once, and an unknown kind raises instead of falling
    through to a default (silent false negatives at probe time). Every
    spare is a one-shard filter (shard id 0) inside its PF shard's
    state, sized from spare_ratio for the expected eviction stream; the
    static kinds (xor / ribbon) raise on merge."""
    kind = cfg.spare_kind
    size = dict(
        n_capacity=cfg.spare_capacity_per_shard,
        num_shards=1,
        seed=cfg.seed ^ 0x5A5A5A5A,
    )
    if kind == "bloom":
        return bloom.BloomConfig(bits_per_key=cfg.spare_bits_per_key, **size)
    if kind == "tc":
        from prefix_filter_spark.sketches import two_choice as tc

        return tc.TwoChoiceConfig(**size)
    if kind == "cuckoo":
        # the reference's PF[CF12-Flex] spare: CuckooFilterStable with
        # 12-bit tags, sized for the eviction stream at stable load
        # (wrappers.hpp:529-546: slots = 1.08 * 0.0586 / 0.94 * n ≈ 6.7%
        # of n; our spare_ratio=0.08 keeps the same safety margin plus
        # headroom for merge-time evictions)
        from prefix_filter_spark.sketches import cuckoo as ck

        return ck.CuckooConfig(fp_bits=12, **size)
    if kind in ("bbf", "impala512"):
        # register-blocked spares: the reference's PF[BBF-Fixed]
        # (wrappers.hpp:564-569: L2 slots = 2x the eviction stream /
        # load) and PF[Impala512] (wrappers.hpp:578-593, 64B blocks).
        # We size from spare_ratio like the other spares; 10 bits/key
        # keeps the spare's FPR contribution below the L1 term.
        from prefix_filter_spark.sketches import blocked_bloom as bb

        return bb.BlockedBloomConfig(
            bits_per_key=10, block_bytes=64 if kind == "impala512" else 32, **size
        )
    if kind == "xor":
        from prefix_filter_spark.sketches import xor as xorm

        return xorm.XorConfig(fingerprint_bits=8, **size)
    if kind == "ribbon":
        from prefix_filter_spark.sketches import ribbon as rbm

        return rbm.RibbonConfig(fingerprint_bits=8, **size)
    raise ValueError(
        f"unknown spare_kind {kind!r} — one of {sorted(_SPARE_KIND_CODE)}"
    )


def _spare_build(cfg: PrefixFilterConfig, keys_u64: np.ndarray) -> bytes:
    """``keys_u64`` sorted + distinct (the static kinds' solves need it;
    both callers pass np.unique output)."""
    scfg = _spare_config(cfg)
    return scfg.family.build_state(scfg, 0, keys_u64)


def _derive_pd_qr(hashes_u64: np.ndarray, cfg: PrefixFilterConfig):
    """h -> (pd within shard, qr) via a splitmix64 remix.

    The remix makes PD/quot/rem placement independent of the shard bits
    (the reference splits one 64-bit hash at wrappers.hpp:648-654; we
    burn the top bits on shard routing, so the inner placement draws
    fresh bits).
    """
    g = mix_with_seed(hashes_u64, cfg.seed + 0xF17E)
    pd_idx = fastrange32(g >> np.uint64(32), cfg.num_pd_per_shard).astype(np.int64)
    qr = fixed_reduce(g).astype(np.int64)  # wrappers.hpp:642-645
    return pd_idx, qr


def _spare_keys(shard_id: int, cfg: PrefixFilterConfig, pd_idx: np.ndarray, qr: np.ndarray) -> np.ndarray:
    """Re-key evictions with the *global* PD index (wrappers.hpp:661-673)."""
    global_pd = as_u64(pd_idx) + np.uint64(shard_id * cfg.num_pd_per_shard)
    return (global_pd << np.uint64(13)) | as_u64(qr)


def build_state(cfg: PrefixFilterConfig, shard_id: int, hashes_u64: np.ndarray) -> bytes:
    pd_idx, qr = _derive_pd_qr(hashes_u64, cfg)
    num_pd = cfg.num_pd_per_shard
    headers, body, ev_pd, ev_qr, _n_l1 = pd_kernel.build_pds(pd_idx, qr, num_pd)
    spare_state = _spare_build(
        cfg, np.unique(_spare_keys(shard_id, cfg, ev_pd, ev_qr))
    )
    return (
        _pack_header(cfg, num_pd, len(spare_state))
        + headers.tobytes()
        + body.tobytes()
        + spare_state
    )


def _pack_header(cfg: PrefixFilterConfig, num_pd: int, spare_len: int) -> bytes:
    return FORMAT.pack(
        2,
        _SPARE_KIND_CODE[cfg.spare_kind],
        0,
        num_pd,
        spare_len,
        cfg.seed & _SEED_MASK,
        cfg.num_shards,
    )


def check_state(cfg: PrefixFilterConfig, state: bytes):
    """State/config consistency check; returns the ``_parse_state``
    triple. Seed, shard count, PD count and spare kind all change how a
    probe derives or routes — any mismatch would be silent false
    negatives."""
    r = FORMAT.open(state)
    spare_kind, _, num_pd, spare_len, seed, ns = r.fields
    if (
        num_pd != cfg.num_pd_per_shard
        or seed != (cfg.seed & _SEED_MASK)
        or ns != cfg.num_shards
        or spare_kind != _SPARE_KIND_CODE[cfg.spare_kind]
    ):
        raise ValueError(
            f"prefix-filter state (num_pd={num_pd}, seed={seed}, "
            f"num_shards={ns}, spare_kind={spare_kind}) does not match "
            f"config (num_pd={cfg.num_pd_per_shard}, "
            f"seed={cfg.seed & _SEED_MASK}, num_shards={cfg.num_shards}, "
            f"spare_kind={_SPARE_KIND_CODE[cfg.spare_kind]})"
        )
    return _parse_body(r)


def _parse_state(state: bytes):
    """(PD headers, PD bodies, spare state) of a whole state."""
    return _parse_body(FORMAT.open(state))


def _parse_body(r: base.StateReader):
    num_pd, spare_len = r.fields[2], r.fields[3]
    headers = r.array(np.uint64, num_pd)
    body = r.array(np.uint8, num_pd * pd_kernel.MAX_CAP).reshape(num_pd, pd_kernel.MAX_CAP)
    spare = r.take(spare_len)
    r.end()
    return headers, body, spare


def _items_of_state(headers: np.ndarray, body: np.ndarray):
    """Decode (pd, qr) retained pairs from a shard's L1 (for merge)."""
    counts_incl, overflowed, last_quot = pd_kernel.decode_headers(headers)
    caps = counts_incl[:, -1]
    num_pd = len(headers)
    pd_rep = np.repeat(np.arange(num_pd), caps)
    # column index within each pd row (vectorized arange-per-group)
    starts = np.concatenate(([0], caps.cumsum()))[:-1]
    col = np.arange(int(caps.sum())) - np.repeat(starts, caps)
    rem = body[pd_rep, col].astype(np.int64)
    # quot per slot: slot j of pd p belongs to quot q where counts_incl[p,q-1] <= j < counts_incl[p,q]
    quot = (counts_incl[pd_rep] <= col[:, None]).sum(axis=1)
    return pd_rep, (quot << 8) | rem, overflowed


def merge_states(states: list[bytes], cfg: PrefixFilterConfig, shard_id: int) -> bytes:
    """Combine same-shard partials: union retained pairs, rebuild PDs,
    route merge-time evictions into the OR of the spare Blooms.

    Produces exactly the single-pass state: top25(A ∪ B) =
    top25(top25(A) ∪ top25(B)) and evicted(A ∪ B) = spareA ∪ spareB ∪
    evictions(merge) for set semantics.
    """
    num_pd = cfg.num_pd_per_shard
    all_pd, all_qr = [], []
    spares = []
    any_overflow = np.zeros(num_pd, dtype=bool)
    for s in states:
        headers, body, spare = check_state(cfg, s)
        pd_i, qr_i, overflow_i = _items_of_state(headers, body)
        all_pd.append(pd_i)
        all_qr.append(qr_i)
        any_overflow |= overflow_i
        spares.append(spare)
    pd_cat = np.concatenate(all_pd)
    qr_cat = np.concatenate(all_qr)
    headers, body, ev_pd, ev_qr, _ = pd_kernel.build_pds(pd_cat, qr_cat, num_pd)
    # a PD that overflowed in any partial stays overflowed even if the
    # merged retained set is its full content
    counts_incl, overflowed, last_quot = pd_kernel.decode_headers(headers)
    need_fix = any_overflow & ~overflowed
    if need_fix.any():
        caps = counts_incl[:, -1]
        lq = last_quot.copy()
        # overflowed flag with last_quot = quot of current max retained
        fix_idx = np.flatnonzero(need_fix)
        for p in fix_idx:
            c = caps[p]
            lq[p] = int(
                (counts_incl[p] <= c - 1).sum()
            )  # quot of last slot
        counts_q = np.diff(
            np.concatenate([np.zeros((num_pd, 1), dtype=np.int64), counts_incl], axis=1),
            axis=1,
        )
        headers = pd_kernel.encode_headers(counts_q, overflowed | need_fix, lq)
    ev_state = _spare_build(
        cfg, np.unique(_spare_keys(shard_id, cfg, ev_pd, ev_qr))
    )
    scfg = _spare_config(cfg)
    try:
        spare = scfg.family.merge_states(spares + [ev_state], scfg, 0)
    except ValueError as e:  # e.g. the static spares: rebuild instead
        raise ValueError(f"PF[{cfg.spare_kind}] spare: {e}") from e
    return (
        _pack_header(cfg, num_pd, len(spare))
        + headers.tobytes()
        + body.tobytes()
        + spare
    )


def shard_diagnostics(cfg: PrefixFilterConfig, shards_df: DataFrame) -> DataFrame:
    """Distribution diagnostics decoded from shard state — the
    reference's count_overflowing_PDs / count_empty_PDs
    (wrappers.hpp:743-764) and get_capacity header recount
    (wrappers.hpp:728-735, min_pd256.hpp:103-131) as one grouped pass.

    `l1_capacity_recount` is derived purely from the serialized unary
    headers, so comparing it against the builder's `n_keys` metric is
    the naive-vs-optimized cross-check of the reference's debug builds.
    """
    import pandas as pd

    def diag(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for shard_id, state in zip(pdf["shard_id"], pdf["state"]):
            headers, body, spare = _parse_state(bytes(state))
            counts_incl, overflowed, _lq = pd_kernel.decode_headers(headers)
            caps = counts_incl[:, -1]
            rows.append(
                {
                    "shard_id": int(shard_id),
                    "num_pds": len(headers),
                    "overflowing_pds": int(overflowed.sum()),
                    "empty_pds": int((caps == 0).sum()),
                    "l1_capacity_recount": int(caps.sum()),
                    "mean_pd_load": float(caps.mean() / pd_kernel.MAX_CAP),
                    "spare_bytes": len(spare),
                }
            )
        return pd.DataFrame(rows)

    schema = (
        "shard_id int, num_pds long, overflowing_pds long, empty_pds long, "
        "l1_capacity_recount long, mean_pd_load double, spare_bytes long"
    )
    return shards_df.select("shard_id", "state").groupBy("shard_id").applyInPandas(
        lambda pdf: diag(pdf), schema=schema
    )


def prepare_state(cfg: PrefixFilterConfig, state: bytes):
    """Check the header and decode the shard's PD headers once, so
    every Arrow batch probes as matrix ops (amortized select64,
    SURVEY.md §4)."""
    headers, body, spare = check_state(cfg, state)
    counts_incl, overflowed, last_quot = pd_kernel.decode_headers(headers)
    max_qr = pd_kernel.max_qr_of(body, counts_incl, overflowed, last_quot)
    # compact dtypes: decoded tables ride the broadcast after
    # predecode(), so keep them ~1 byte/slot
    return (
        counts_incl.astype(np.uint8),
        overflowed,
        max_qr.astype(np.int16),
        body,
        spare,
    )


def probe_state(
    cfg: PrefixFilterConfig, prepared, shard_id: int, h_u64: np.ndarray
) -> np.ndarray:
    counts_incl, overflowed, max_qr, body, spare = prepared
    pd_idx, qr = _derive_pd_qr(h_u64, cfg)
    l1_hit, route_spare = pd_kernel.probe_pds(
        counts_incl, overflowed, max_qr, body, pd_idx, qr
    )
    res = l1_hit
    if route_spare.any():
        sk = _spare_keys(shard_id, cfg, pd_idx[route_spare], qr[route_spare])
        res = res.copy()
        scfg = _spare_config(cfg)
        res[route_spare] = scfg.family.probe_state(scfg, spare, 0, sk)
    return res


FAMILY = base.FilterFamily(
    sketch_name=lambda cfg: "prefix_filter",
    build_state=build_state,
    merge_states=merge_states,
    prepare_state=prepare_state,
    probe_state=probe_state,
)
PrefixFilterConfig.family = FAMILY
build_prefix_filter = base.build_filter
ShardedPrefixFilter = base.ShardedFilter
