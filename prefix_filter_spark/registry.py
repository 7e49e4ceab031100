"""Sketch registry — the reference's FilterAPI introspection surface.

``get_name`` / ``get_ID`` / ``get_functionality``
(/root/reference/Tests/wrappers.hpp:107-116,195-199,802-812) re-expressed
as a Python capability enum + a registry dict keyed by the ``sketch``
column prefix every shard row carries. The functionality mask semantics
match the reference exactly: 1 = lookup, 2 = add, 4 = delete, so the
prefix filter and the Bloom family report 3 (lookups + adds,
wrappers.hpp:806-808) while the two-choice and cuckoo tables report 7
(wrappers.hpp:197-199,500-502: CF and TC support Remove).

Estimate sketches (HLL / CMS / KLL / t-digest / DDSketch / Misra-Gries /
KMV / AMS / Frequent Directions) have no reference
counterpart in this enum; they report ADD|ESTIMATE — ESTIMATE is this
engine's extension bit (8) for "answers aggregate queries, not
membership".
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from enum import IntFlag


class Capability(IntFlag):
    """wrappers.hpp get_functionality mask, plus the ESTIMATE extension."""

    NONE = 0
    LOOKUP = 1
    ADD = 2
    DELETE = 4
    ESTIMATE = 8


@dataclass(frozen=True)
class SketchInfo:
    name: str  # get_name
    sketch_id: int  # get_ID (stable in this engine, not the C++ enum order)
    functionality: Capability  # get_functionality
    module: str  # import path of the implementation
    reference: str  # the reference wrapper this mirrors


REGISTRY: dict[str, SketchInfo] = {
    "prefix_filter": SketchInfo(
        "prefix_filter", 1, Capability.LOOKUP | Capability.ADD,
        "prefix_filter_spark.sketches.prefix_filter",
        "wrappers.hpp:784-828 (Prefix-Filter, functionality 3)",
    ),
    "bloom": SketchInfo(
        "bloom", 2, Capability.LOOKUP | Capability.ADD,
        "prefix_filter_spark.sketches.bloom",
        "wrappers.hpp:825-875 (bloomfilter, functionality 3)",
    ),
    "blocked_bloom": SketchInfo(
        "blocked_bloom", 3, Capability.LOOKUP | Capability.ADD,
        "prefix_filter_spark.sketches.blocked_bloom",
        "wrappers.hpp:290-344 (SimdBlockFilter/Impala512, functionality 3)",
    ),
    "two_choice": SketchInfo(
        "two_choice", 4, Capability.LOOKUP | Capability.ADD | Capability.DELETE,
        "prefix_filter_spark.sketches.two_choice",
        "wrappers.hpp:450-520 (TC_shortcut, functionality 7)",
    ),
    "cuckoo": SketchInfo(
        "cuckoo", 5, Capability.LOOKUP | Capability.ADD | Capability.DELETE,
        "prefix_filter_spark.sketches.cuckoo",
        "wrappers.hpp:130-200 (CuckooFilter/Stable, functionality 7)",
    ),
    "hll": SketchInfo(
        "hll", 6, Capability.ADD | Capability.ESTIMATE,
        "prefix_filter_spark.sketches.hll", "north-rule extension (no reference wrapper)",
    ),
    "cms": SketchInfo(
        "cms", 7, Capability.ADD | Capability.ESTIMATE,
        "prefix_filter_spark.sketches.cms", "north-rule extension (no reference wrapper)",
    ),
    "kll": SketchInfo(
        "kll", 8, Capability.ADD | Capability.ESTIMATE,
        "prefix_filter_spark.sketches.kll", "north-rule extension (no reference wrapper)",
    ),
    "tdigest": SketchInfo(
        "tdigest", 9, Capability.ADD | Capability.ESTIMATE,
        "prefix_filter_spark.sketches.tdigest", "north-rule extension (no reference wrapper)",
    ),
    "kmv": SketchInfo(
        "kmv", 10, Capability.ADD | Capability.ESTIMATE,
        "prefix_filter_spark.sketches.kmv", "north-rule extension (no reference wrapper)",
    ),
    "mg": SketchInfo(
        "mg", 11, Capability.ADD | Capability.ESTIMATE,
        "prefix_filter_spark.sketches.mg", "north-rule extension (no reference wrapper)",
    ),
    "ams": SketchInfo(
        "ams", 18, Capability.ADD | Capability.ESTIMATE,
        "prefix_filter_spark.sketches.ams", "north-rule extension (no reference wrapper)",
    ),
    "fd": SketchInfo(
        "fd", 19, Capability.ADD | Capability.ESTIMATE,
        "prefix_filter_spark.sketches.fd", "north-rule extension (no reference wrapper)",
    ),
    "dds": SketchInfo(
        "dds", 13, Capability.ADD | Capability.ESTIMATE,
        "prefix_filter_spark.sketches.dds",
        "north-rule extension (DDSketch, Masson et al. VLDB 2019; "
        "no reference wrapper)",
    ),
    "bfuse": SketchInfo(
        # static 3-wise binary fuse (Graf-Lemire 2022): denser xor
        # successor; LOOKUP-only like xor
        "bfuse", 14, Capability.LOOKUP,
        "prefix_filter_spark.sketches.bfuse",
        "companion-filter extension (binary fuse; outside the "
        "reference's comparison set)",
    ),
    "xor": SketchInfo(
        # static build-once filter: LOOKUP only (no incremental Add —
        # the peeling order is a global property of the key set)
        "xor", 12, Capability.LOOKUP,
        "prefix_filter_spark.sketches.xor",
        "companion-filter extension (Graf-Lemire Xor filter; outside the "
        "reference's main-perf.cpp:16-31 comparison set)",
    ),
    "ribbon": SketchInfo(
        # static banded-Gaussian filter (Dillinger-Walzer 2021): densest
        # member of the static family (~1.10f bits/key); LOOKUP-only
        "ribbon", 15, Capability.LOOKUP,
        "prefix_filter_spark.sketches.ribbon",
        "companion-filter extension (Ribbon filter; outside the "
        "reference's comparison set)",
    ),
    "quotient": SketchInfo(
        # RSQF slot layout (Bender 2012 / Pandey 2017): the MERGEABLE
        # compact-fingerprint filter — canonical state = f(fingerprint
        # set), so merge is associative + bit-identical; delete-capable
        # (mask 7 like TC/cuckoo, wrappers.hpp:197-199)
        "quotient", 17, Capability.LOOKUP | Capability.ADD | Capability.DELETE,
        "prefix_filter_spark.sketches.quotient",
        "companion-filter extension (quotient filter; outside the "
        "reference's comparison set)",
    ),
    "ribbon_retrieval": SketchInfo(
        # static function (key -> r-bit value) from the same banded
        # solver: exact values for members, arbitrary for non-members
        "ribbon_retrieval", 16, Capability.LOOKUP,
        "prefix_filter_spark.sketches.retrieval",
        "retrieval extension (Dillinger-Walzer ribbon as a static "
        "function; no reference counterpart — the C++ suite has only "
        "membership filters)",
    ),
}


def info(sketch: str) -> SketchInfo:
    """Look up by registry name OR by a shard row's ``sketch`` column
    value, which carries config suffixes: ``cuckoo12``, ``cuckoo13ss``
    (semisort variant), ``hll14``, ``tc12``, ``bbf256``, ``bloom12``,
    ``kll200``, ``cms5x8192``, ``tdigest200``, ``ams7x4096``, ``fd16x64``,
    ``prefix_filter``."""
    if sketch in REGISTRY:
        return REGISTRY[sketch]
    m = re.match(r"^([a-z_]+?)[0-9x]*(?:ss)?$", sketch)
    stripped = m.group(1) if m else sketch
    aliases = {"pf": "prefix_filter", "tc": "two_choice", "bbf": "blocked_bloom"}
    stripped = aliases.get(stripped, stripped)
    if stripped in REGISTRY:
        return REGISTRY[stripped]
    raise KeyError(f"unknown sketch: {sketch!r}")


def supports(sketch: str, cap: Capability) -> bool:
    return bool(info(sketch).functionality & cap)
