"""Batch cuckoo filter — the reference's CuckooFilter(Stable) re-derived
for distributed, arrival-order-free builds.

Reference semantics (/root/reference/cuckoofilter/src/):

- 4-way buckets of ``bits_per_item`` tags, tag 0 reserved for empty and
  remapped to 1 (``cuckoofilter.h:58-63``, ``cuckoofilter_stable.h:54-59``);
- the *stable* variant's non-power-of-2 sizing — an even bucket count
  ``(10 + n/0.94/4)`` — and its symmetric alternate index
  ``b2 = bucketCount - b - r`` with odd ``r`` drawn from the tag, which
  is self-inverse and never maps a bucket to itself
  (``cuckoofilter_stable.h:69-104,120-129``);
- insertion kicks a resident tag to its partner bucket when both
  candidates are full, bounded by ``kMaxCuckooCount = 500``
  (``cuckoofilter.h:23,156-189``), with a single-victim cache for the
  final eviction (``cuckoofilter.h:41-49``);
- ``Delete`` removes one matching tag (``cuckoofilter.h:191-212``
  Contain, Delete below it).

Batch re-derivation (the sequential random-walk kick-out cannot run
per key in Spark): synchronized eviction rounds. Every round, each
contended bucket keeps ``B`` contenders (current residents + arrivals)
by a *per-round pseudo-random priority* — splitmix64(pair, round) —
and evicted/unplaced tags flip to their partner bucket and retry.
Round-varying priority matters: a fixed priority (e.g. smallest tag
wins) is monotone and freezes at ~85% fill because augmenting paths
that must displace a high-priority tag are unreachable; re-drawing
priorities each round emulates the random walk and reaches zero
overflow at the reference's 0.94 design load (measured: 0 overflow in
~130-250 rounds at 5k-250k keys/shard). The priority is a pure
function of the (primary_bucket, tag) pair *set* and the round number
— no RNG state — so placement is arrival-order free, which makes
same-shard MERGE "decode pairs -> union -> rebuild" bit-identical
under any merge order (a property the reference's sequential filter
does not have, and the north rule requires).
Pairs still homeless after ``max_rounds`` (= the reference's
kMaxCuckooCount bound) land in a sorted per-shard overflow array
probed exactly (the reference's single-victim cache, generalized so
builds never throw and zero-FN always holds).

Semi-sorted buckets (``semisort=True``): the reference PackedTable's
permutation encoding (``cuckoofilter/src/packedtable.h:1-437``,
``permencoding.h``) — each tag splits into a 4-bit low nibble and
``fp_bits - 4`` direct bits; a bucket's four low nibbles, sorted, form
a 4-multiset over 16 values (C(19,4) = 3876 <= 2^12) stored as a
12-bit codeword, so a bucket packs into 12 + 4*(fp_bits-4) bits
(f=13: exactly 6 bytes — the byte-aligned configuration the
reference's static_assert singles out). Saves ~3 bits/item vs the
uint16-slot layout. Because the stable alternate index is
self-inverse, the per-slot alt flag is dropped and pairs are
canonicalized as ``min(b, alt(b, tag))`` instead — probes check the
tag in both candidate buckets (the reference's probe shape), merges
and deletes operate on canonical pairs.

State: 'PFCK' | u8 ver | u8 slots | u16 fp_bits | u64 num_buckets
       | u64 n_overflow | u64 seed | u32 num_shards
       | table | overflow u64[]
  ver 2 (plain):    table = u16[num_buckets * slots], bit 15 = alt flag
  ver 3 (semisort): table = num_buckets * ceil((12 + 4*(fp_bits-4))/8)
                    bytes of packed buckets, no flags

seed and num_shards are serialized so every parse boundary can reject a
state/config mismatch loudly: a wrong seed (or shard count, which
changes key->shard routing) derives different (bucket, tag) pairs and
would otherwise turn probes into silent false negatives and deletes
into silent no-ops; the version byte likewise rejects mixing packed
and plain states in one merge.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame

from prefix_filter_spark.hashing import (
    as_u64,
    fastrange32,
    mix_with_seed,
    splitmix64,
)
from prefix_filter_spark.sketches import base

FORMAT = base.StateFormat("cuckoo", b"PFCK", (2, 3, 4), "BHQQQI")
_SEED_MASK = 0xFFFFFFFFFFFFFFFF
_ALT_FLAG = np.uint16(0x8000)  # bit 15: tag stored in its alternate bucket
# MurmurHash3 finalizer constant the reference derives r from
# (cuckoofilter_stable.h:76 `tag * 0xc4ceb9fe1a85ec53L`)
_ALT_MULT = np.uint64(0xC4CEB9FE1A85EC53)


@dataclass(frozen=True)
class CuckooConfig:
    n_capacity: int
    fp_bits: int = 12  # reference benches CF-12 (bits_per_item)
    slots_per_bucket: int = 4
    load: float = 0.94  # cuckoofilter_stable.h:102 `constexpr double load`
    num_shards: int = 32
    seed: int = 42
    max_rounds: int = 500  # cuckoofilter.h:23 kMaxCuckooCount
    semisort: bool = False  # PackedTable permutation encoding (see module doc)

    def __post_init__(self):
        # tag occupies bits [0, fp_bits); bit 15 of the uint16 slot is
        # the alt flag for fp_bits <= 15. fp_bits == 16 (the reference's
        # CF-16, main-fpp.cpp:14) uses the full slot and switches to the
        # flagless canonical-pair layout (ver 4) that the semisort
        # variant already uses — probes check both candidate buckets.
        if not 1 <= self.fp_bits <= 16:
            raise ValueError(
                f"fp_bits must be in [1, 16]; got {self.fp_bits}"
            )
        if self.semisort:
            if not 5 <= self.fp_bits <= 15:
                raise ValueError(
                    "semisort splits tags into a 4-bit nibble + direct "
                    f"bits, so fp_bits must be in [5, 15]; got {self.fp_bits}"
                )
            if self.slots_per_bucket != 4:
                raise ValueError(
                    "the 12-bit permutation codeword encodes exactly a "
                    "4-multiset (packedtable.h 4-way associativity); got "
                    f"slots_per_bucket={self.slots_per_bucket}"
                )

    @property
    def _version(self) -> int:
        if self.semisort:
            return 3
        return 4 if self.fp_bits == 16 else 2

    @property
    def flagless(self) -> bool:
        """True when pairs are identified by their canonical bucket
        (min(b, alt)) instead of a per-slot alt flag: the semisort
        packed layout, and the full-width 16-bit-tag plain layout."""
        return self.semisort or self.fp_bits == 16

    @property
    def bucket_bytes(self) -> int:
        """Packed bucket width (semisort only): 12 codeword bits +
        4 * (fp_bits - 4) direct bits, byte-rounded up."""
        return (12 + 4 * (self.fp_bits - 4) + 7) // 8

    @property
    def num_buckets_per_shard(self) -> int:
        per_shard = math.ceil(self.n_capacity / self.num_shards)
        # even bucket count, cuckoofilter_stable.h:103-104
        nb = int(10 + per_shard / self.load / self.slots_per_bucket) // 2 * 2
        return max(4, nb)


def _derive(cfg: CuckooConfig, hashes_u64: np.ndarray, num_buckets: int):
    """hash -> (primary bucket, tag in [1, 2^fp_bits)).

    Stable variant's split: index from the LOW 32 bits, tag from the
    high bits (cuckoofilter_stable.h:60-67).
    """
    g = mix_with_seed(hashes_u64, cfg.seed + 0xC0C0)
    b1 = fastrange32(g & np.uint64(0xFFFFFFFF), num_buckets).astype(np.int64)
    tag = ((g >> np.uint64(32)) & np.uint64((1 << cfg.fp_bits) - 1)).astype(np.uint16)
    tag = np.where(tag == 0, np.uint16(1), tag)  # TagHash's `tag += (tag == 0)`
    return b1, tag


def _alt_bucket(bucket: np.ndarray, tag: np.ndarray, num_buckets: int) -> np.ndarray:
    """Symmetric partner: ``b2 = nb - b - r`` (mod nb) with odd r(tag).

    cuckoofilter_stable.h:120-129 — self-inverse, and because nb is
    even while r is odd, b2 != b always.
    """
    old = np.seterr(over="ignore")
    try:
        h = tag.astype(np.uint64) * _ALT_MULT
        r = (
            fastrange32(h & np.uint64(0xFFFFFFFF), num_buckets >> 1).astype(np.int64)
            << 1
        ) + 1
        b2 = num_buckets - bucket - r
        return np.where(b2 < 0, b2 + num_buckets, b2)
    finally:
        np.seterr(**old)


def _place(cfg: CuckooConfig, b1: np.ndarray, tag: np.ndarray, num_buckets: int):
    """Synchronized-eviction batch placement (see module docstring).

    Returns (table uint16[nb, B], overflow u64[] of packed
    ``primary << fp_bits | tag`` pairs, sorted).
    """
    B = cfg.slots_per_bucket
    fp_shift = np.uint64(cfg.fp_bits)
    # set semantics on (primary, tag) like every other filter kernel here
    packed = np.unique((as_u64(b1) << fp_shift) | tag.astype(np.uint64))
    b = (packed >> fp_shift).astype(np.int64)
    t = (packed & np.uint64((1 << cfg.fp_bits) - 1)).astype(np.uint16)
    n = len(b)
    alt = _alt_bucket(b, t, num_buckets)
    side = np.zeros(n, dtype=np.uint8)  # 0 = primary, 1 = alternate
    placed = np.zeros(n, dtype=bool)
    cur = b.copy()  # current bucket of *placed* pairs
    for rnd in range(cfg.max_rounds):
        pend = np.flatnonzero(~placed)
        if len(pend) == 0:
            break
        cur[pend] = np.where(side[pend] == 0, b[pend], alt[pend])
        # contenders: pending pairs + residents of the buckets they hit
        # (bucket-flag mask, not np.isin — the sort-based membership
        # test was 43% of the kernel at 200+ rounds)
        affected_mask = np.zeros(num_buckets, dtype=bool)
        affected_mask[cur[pend]] = True
        resid = np.flatnonzero(placed & affected_mask[cur])
        cont = np.concatenate([pend, resid])
        cb = cur[cont]
        # per-round pseudo-random retention priority (see module doc:
        # a fixed priority freezes below the cuckoo load threshold)
        old = np.seterr(over="ignore")
        try:
            # top 32 bits are enough priority entropy; narrower sort
            # keys make the per-round lexsort measurably cheaper
            prio = (
                splitmix64(packed[cont] + np.uint64(rnd * 0x9E37))
                >> np.uint64(32)
            ).astype(np.uint32)
        finally:
            np.seterr(**old)
        order = np.lexsort((prio, cb))
        cont = cont[order]
        cb = cb[order]
        counts = np.bincount(cb, minlength=num_buckets)
        starts = np.concatenate(([0], counts.cumsum()))[:-1]
        rank = np.arange(len(cb)) - starts[cb]
        win = rank < B
        placed[cont[win]] = True
        lose = cont[~win]
        placed[lose] = False
        side[lose] ^= 1
    # final scatter of placed pairs into slot ranks
    table = np.zeros((num_buckets, B), dtype=np.uint16)
    pi = np.flatnonzero(placed)
    if len(pi):
        order = np.lexsort((b[pi], side[pi], t[pi], cur[pi]))
        pi = pi[order]
        pb = cur[pi]
        counts = np.bincount(pb, minlength=num_buckets)
        starts = np.concatenate(([0], counts.cumsum()))[:-1]
        rank = np.arange(len(pb)) - starts[pb]
        if cfg.flagless:
            # canonical-pair identity; no alt flag (which would collide
            # with tag bit 15 at fp_bits=16)
            table[pb, rank] = t[pi]
        else:
            table[pb, rank] = t[pi] | np.where(side[pi] == 1, _ALT_FLAG, np.uint16(0))
    overflow = np.sort(packed[~placed])
    return table, overflow


def _pack_header(cfg: CuckooConfig, nb: int, n_overflow: int) -> bytes:
    return FORMAT.pack(
        cfg._version,
        cfg.slots_per_bucket,
        cfg.fp_bits,
        nb,
        n_overflow,
        cfg.seed & _SEED_MASK,
        cfg.num_shards,
    )


# ---- PackedTable permutation codec (packedtable.h / permencoding.h) ----
_SS_TABLES: tuple[np.ndarray, np.ndarray] | None = None


def _ss_tables() -> tuple[np.ndarray, np.ndarray]:
    """(dec, enc): dec[codeword] -> the 4 sorted low nibbles (4096 x 4,
    3876 used); enc[nibbles packed 4x4 bits] -> codeword. The
    reference's PermEncoding dec_table/enc_table (permencoding.h)
    generated by enumerating 4-multisets of 16 values."""
    global _SS_TABLES
    if _SS_TABLES is None:
        import itertools

        dec = np.zeros((4096, 4), dtype=np.uint16)
        enc = np.zeros(65536, dtype=np.uint16)
        for i, tup in enumerate(itertools.combinations_with_replacement(range(16), 4)):
            dec[i] = tup
            enc[tup[0] | tup[1] << 4 | tup[2] << 8 | tup[3] << 12] = i
        _SS_TABLES = (dec, enc)
    return _SS_TABLES


def _pack_table_ss(tags: np.ndarray, fp_bits: int) -> bytes:
    """(nb, 4) uint16 tags (0 = empty, no flags) -> packed bucket bytes."""
    _, enc = _ss_tables()
    dir_bits = fp_bits - 4
    low = (tags & np.uint16(0xF)).astype(np.uint32)
    dirv = (tags >> np.uint16(4)).astype(np.uint64)
    # slot order inside a bucket is semantically free; sort by
    # (low, dir) so codeword nibbles pair with dir fields positionally
    key = (low << np.uint32(16)) | dirv.astype(np.uint32)
    order = np.argsort(key, axis=1, kind="stable")
    low_s = np.take_along_axis(low, order, axis=1)
    dir_s = np.take_along_axis(dirv, order, axis=1)
    packed_low = low_s[:, 0] | low_s[:, 1] << 4 | low_s[:, 2] << 8 | low_s[:, 3] << 12
    word = enc[packed_low].astype(np.uint64)
    for j in range(4):
        word |= dir_s[:, j] << np.uint64(12 + j * dir_bits)
    nbytes = (12 + 4 * dir_bits + 7) // 8
    return word.astype("<u8").view(np.uint8).reshape(-1, 8)[:, :nbytes].tobytes()


def _unpack_table_ss(buf: np.ndarray, nb: int, fp_bits: int) -> np.ndarray:
    """Packed bucket bytes -> (nb, 4) uint16 tags (0 = empty)."""
    dec, _ = _ss_tables()
    dir_bits = fp_bits - 4
    nbytes = (12 + 4 * dir_bits + 7) // 8
    b = np.zeros((nb, 8), dtype=np.uint8)
    b[:, :nbytes] = np.asarray(buf, dtype=np.uint8).reshape(nb, nbytes)
    word = b.view("<u8").ravel()
    lows = dec[(word & np.uint64(0xFFF)).astype(np.int64)]
    dir_mask = np.uint64((1 << dir_bits) - 1)
    out = np.empty((nb, 4), dtype=np.uint16)
    for j in range(4):
        d = (word >> np.uint64(12 + j * dir_bits)) & dir_mask
        out[:, j] = lows[:, j] | (d.astype(np.uint16) << np.uint16(4))
    return out


def _canonical(cfg: CuckooConfig, b1: np.ndarray, tag: np.ndarray, nb: int) -> np.ndarray:
    """Semisort pair identity: min(b, alt(b)) — well-defined because the
    stable alternate index is self-inverse (replaces the alt flag)."""
    return np.minimum(b1, _alt_bucket(b1, tag, nb))


def build_state(cfg: CuckooConfig, shard_id: int, hashes_u64: np.ndarray) -> bytes:
    nb = cfg.num_buckets_per_shard
    b1, tag = _derive(cfg, hashes_u64, nb)
    if cfg.flagless:
        b1 = _canonical(cfg, b1, tag, nb)
    table, overflow = _place(cfg, b1, tag, nb)
    body = (
        _pack_table_ss(table & ~_ALT_FLAG, cfg.fp_bits)
        if cfg.semisort
        else table.tobytes()
    )
    return _pack_header(cfg, nb, len(overflow)) + body + overflow.tobytes()


def _parse_state(state: bytes):
    r = FORMAT.open(state)
    slots, fp_bits, nb, n_ov, seed, num_shards = r.fields
    version = r.version
    if version == 3:
        nbytes = (12 + 4 * (fp_bits - 4) + 7) // 8
        table = _unpack_table_ss(r.array(np.uint8, nb * nbytes), nb, fp_bits)
    else:
        table = r.array(np.uint16, nb * slots).reshape(nb, slots)
    overflow = r.array(np.uint64, n_ov)
    r.end()
    return slots, fp_bits, nb, table, overflow, seed, num_shards, version


def _pairs_of_state(cfg: CuckooConfig, state: bytes) -> np.ndarray:
    """Decode -> packed ``primary << fp_bits | tag`` u64 array (primary
    is the canonical bucket in the semisort layout)."""
    slots, fp_bits, nb, table, overflow, _seed, _ns, version = _parse_state(state)
    rows = np.repeat(np.arange(nb, dtype=np.int64), table.shape[1])
    vals = table.ravel()
    occ = vals != 0
    bucket = rows[occ]
    if version in (3, 4):
        tag = vals[occ]
        primary = _canonical(cfg, bucket, tag, nb)
    else:
        tag = (vals[occ] & ~_ALT_FLAG).astype(np.uint16)
        is_alt = (vals[occ] & _ALT_FLAG) != 0
        primary = bucket.copy()
        if is_alt.any():
            # self-inverse partner recovers the primary
            primary[is_alt] = _alt_bucket(bucket[is_alt], tag[is_alt], nb)
    packed = (as_u64(primary) << np.uint64(fp_bits)) | tag.astype(np.uint64)
    return np.concatenate([packed, overflow])


def _check_geometry(cfg: CuckooConfig, state: bytes):
    """Loudly reject a state built under a different geometry: decoding
    bucket indices from one nb and rebuilding into another is either an
    IndexError or — worse — silent false negatives. Returns the
    ``_parse_state`` tuple."""
    parsed = _parse_state(state)
    slots, fp_bits, nb, _, _, seed, num_shards, version = parsed
    if (
        nb != cfg.num_buckets_per_shard
        or slots != cfg.slots_per_bucket
        or fp_bits != cfg.fp_bits
        or seed != (cfg.seed & _SEED_MASK)
        or num_shards != cfg.num_shards
        or version != cfg._version
    ):
        raise ValueError(
            f"cuckoo state (nb={nb}, slots={slots}, fp_bits={fp_bits}, "
            f"seed={seed}, num_shards={num_shards}, ver={version}) does not "
            f"match config (nb={cfg.num_buckets_per_shard}, "
            f"slots={cfg.slots_per_bucket}, fp_bits={cfg.fp_bits}, "
            f"seed={cfg.seed & _SEED_MASK}, num_shards={cfg.num_shards}, "
            f"ver={cfg._version})"
        )
    return parsed


def _encode_table(cfg: CuckooConfig, table: np.ndarray) -> bytes:
    if cfg.semisort:
        return _pack_table_ss(table & ~_ALT_FLAG, cfg.fp_bits)
    return table.tobytes()


def merge_states(states: list[bytes], cfg: CuckooConfig, shard_id: int = 0) -> bytes:
    """Union of (primary, tag) pairs -> deterministic rebuild."""
    nb = cfg.num_buckets_per_shard
    fp_shift = np.uint64(cfg.fp_bits)
    for s in states:
        _check_geometry(cfg, s)
    pairs = np.unique(np.concatenate([_pairs_of_state(cfg, s) for s in states]))
    b1 = (pairs >> fp_shift).astype(np.int64)
    tag = (pairs & np.uint64((1 << cfg.fp_bits) - 1)).astype(np.uint16)
    table, overflow = _place(cfg, b1, tag, nb)
    return (
        _pack_header(cfg, nb, len(overflow))
        + _encode_table(cfg, table)
        + overflow.tobytes()
    )


def _contains_in_state(cfg: CuckooConfig, state: bytes, g_hashes: np.ndarray) -> np.ndarray:
    # a mismatch here is silent false negatives
    _, fp_bits, nb, table, overflow, _, _, version = _check_geometry(cfg, state)
    b1, tag = _derive(cfg, g_hashes, nb)
    b2 = _alt_bucket(b1, tag, nb)
    plain = tag.astype(np.uint16)
    if version in (3, 4):
        # flagless probe (reference packedtable shape): the tag may sit
        # in either candidate bucket
        hit = (table[b1] == plain[:, None]).any(axis=1)
        hit |= (table[b2] == plain[:, None]).any(axis=1)
        over_b = _canonical(cfg, b1, tag, nb)
    else:
        flagged = plain | _ALT_FLAG
        hit = (table[b1] == plain[:, None]).any(axis=1)
        hit |= (table[b2] == flagged[:, None]).any(axis=1)
        over_b = b1
    if len(overflow):
        packed = (as_u64(over_b) << np.uint64(fp_bits)) | tag.astype(np.uint64)
        idx = np.minimum(np.searchsorted(overflow, packed), len(overflow) - 1)
        hit |= overflow[idx] == packed
    return hit


def remove_states(state: bytes, cfg: CuckooConfig, hashes_u64: np.ndarray) -> bytes:
    """Batch Delete (cuckoofilter.h Delete semantics at pair granularity:
    a colliding never-inserted key deletes the shared tag — the same
    caveat the reference documents; pinned by
    tests/test_cuckoo.py::test_collision_delete_caveat_pinned).

    Flagless layouts (semisort, CF-16) identify pairs by their CANONICAL
    bucket min(b, alt(b, tag)), which halves the pair-identity space vs
    the flagged (primary, tag) identity — so delete collateral (a kept
    key going false-negative because a deleted key shares its pair) runs
    ~2x the plain layout's rate (~1e-4 of kept keys after a bulk delete
    at design load). This matches the reference PackedTable's flagless
    semantics."""
    _check_geometry(cfg, state)
    nb = cfg.num_buckets_per_shard
    fp_shift = np.uint64(cfg.fp_bits)
    b1, tag = _derive(cfg, hashes_u64, nb)
    if cfg.flagless:
        b1 = _canonical(cfg, b1, tag, nb)
    dead = np.unique((as_u64(b1) << fp_shift) | tag.astype(np.uint64))
    pairs = _pairs_of_state(cfg, state)
    keep = pairs[~np.isin(pairs, dead)]
    kb = (keep >> fp_shift).astype(np.int64)
    kt = (keep & np.uint64((1 << cfg.fp_bits) - 1)).astype(np.uint16)
    table, overflow = _place(cfg, kb, kt, nb)
    return (
        _pack_header(cfg, nb, len(overflow))
        + _encode_table(cfg, table)
        + overflow.tobytes()
    )


def remove_keys(df: DataFrame, key_col, cfg: CuckooConfig, shards_df: DataFrame) -> DataFrame:
    """Distributed delete (see base.remove_keys_sharded; un-compacted
    partial rows per shard are merged before the delete applies).
    ``n_keys`` is recounted exactly from the rebuilt state's occupied
    pairs, so the lineage stays honest after merge-dedupe + delete.
    Deletes act at pair granularity — see remove_states for the
    collision caveat, and note flagless layouts (semisort, CF-16)
    roughly double the collateral-FN rate via their coarser
    canonical-bucket pair identity."""
    return base.remove_keys_sharded(
        df,
        key_col,
        cfg,
        shards_df,
        remove_state_fn=lambda state, h: remove_states(state, cfg, h),
        count_state_fn=lambda state: len(_pairs_of_state(cfg, state)),
    )


def probe_state(
    cfg: CuckooConfig, state: bytes, shard_id: int, h_u64: np.ndarray
) -> np.ndarray:
    return _contains_in_state(cfg, state, h_u64)


# the kernel checks the state geometry on every call: no prepare step
FAMILY = base.FilterFamily(
    sketch_name=lambda cfg: f"cuckoo{cfg.fp_bits}{'ss' if cfg.semisort else ''}",
    build_state=build_state,
    merge_states=merge_states,
    probe_state=probe_state,
)
CuckooConfig.family = FAMILY
build_cuckoo = base.build_filter
ShardedCuckoo = base.ShardedFilter
