"""Driver contract for the spark-graft builder (PySpark target).

Serves breweries_data_pipeline_spark.queries.REGISTRY — the engine's
query registry, one entry per implemented operator from SURVEY.md §2,
each (where SQL-expressible) paired with a DuckDB oracle — in the
correctness-panel order below.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _ROOT)

from breweries_data_pipeline_spark import queries as _q  # noqa: E402
from breweries_data_pipeline_spark.queries import REGISTRY  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-shaped pricing summary) on sf0.001."""
    return _q.q_pricing_summary(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# Correctness-panel head (10 pinned + 40 rotating). The CORRECTNESS
# gate oracles exactly the FIRST 50 entries of queries() at sf0.01. A
# STATIC head would re-certify the same 50 forever while 200+ oracled
# queries stay parity-suite-only, so the head is a permanent core of
# 10 flagships (one per headline surface) followed by ROTATING slots
# filled, in name order, with oracled queries that have never had a
# green row in any shipped CORRECTNESS_r*.json. Each gate round thus
# certifies 40 fresh queries and, because its own output file is the
# rotation's state, advances the window next round (a red row
# re-enters the pool until it passes). When the never-certified pool
# dries up the slots refill from the full oracled registry in name
# order. Invariants — 50 unique registered names, every one carrying a
# FULL oracle, pinned flagships always present — are enforced by
# tests/test_plans.py::test_panel_head_shape.
PANEL_PINNED: list[str] = [
    # permanent core: one flagship per headline surface. Demoted
    # family representatives (q_scan_corrupt, q_dedup_by_key,
    # q_topk_per_group, q_dedup_lsh_buckets, q_semantic_dedup,
    # q_bpe_learn, ...) stay certified by their shipped green rows and
    # return through the refill pool.
    "q_scan_parquet",          # S5 parquet scan (source family)
    "q_gold_union",            # U1 + P2/P3 + A1-A3 (the gold contract)
    "q_join_broadcast",        # X1 join family
    "q_event_window",          # X10 event-time windows (batch)
    "q_dedup_text",            # exact text dedup
    "q_minhash_lsh",           # pair-verified MinHash-LSH (md5 twin)
    "q_similarity_topk",       # exact cosine top-k (bit-exact doubles)
    "q_corpus_funnel_buckets", # linear end-to-end corpus build
    "q_png_decode",            # multimodal: stdlib zlib PNG decode
    "q_streaming_late_drop",   # watermark late-drop (staged drain oracle)
]

_PANEL_SIZE = 50

# priority lane: fresh (never-certified) queries that should NOT wait
# for the alphabetical rotation to reach them — queries registered
# after a round's panel froze, and a round's new operators, which
# should carry a gate-green row in the round that ships them. Names
# here are placed immediately after the pinned flagships; once
# certified they drop out of the fresh pool naturally (the lane only
# ever consumes fresh slots, never re-certifies).
PANEL_PRIORITY: list[str] = [
    "q_url_dedup",
    "q_winnowing",
    "q_winnow_dedup",
    "q_lsh_recall_audit_sampled",
    "q_cdc_chunk_dedup",
    "q_winnow_dedup_star",
    "q_cdc_containment",
    "q_lang_segments",
    "q_streaming_cdc_ingest",
    "q_winnow_spans",
]


def _certified_green() -> set[str]:
    """Query names with at least one GREEN row in any shipped
    CORRECTNESS_r*.json (gate output next to this file). Green =
    no error and every match flag the gate recorded is true; a red
    or errored row does NOT count, so a query that ever fails the
    gate automatically rotates back into the panel until it
    passes. Missing/unparseable files contribute nothing — worst case
    the rotation re-certifies queries it already covered."""
    out: set[str] = set()
    for path in glob.glob(os.path.join(_ROOT, "CORRECTNESS_r*.json")):
        try:
            with open(path) as f:
                rows = json.load(f)
        except Exception:  # noqa: BLE001 — evidence file, never fatal
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            if row.get("err"):
                continue
            flags = [
                v for k, v in row.items()
                if k.endswith("_match") and v is not None
            ]
            if flags and all(flags):
                out.add(name)
    return out


@functools.cache
def _panel_head() -> tuple[str, ...]:
    """This round's 50-name correctness panel: the pinned flagships, the
    priority lane, then never-green-certified oracled queries in name
    order until the panel is full (falling back to the whole oracled
    registry in name order once everything has a green row).
    Deterministic given the shipped CORRECTNESS files, which is exactly
    the state the rotation should key on; computed once per process."""
    pinned = [n for n in PANEL_PINNED if n in REGISTRY]
    taken = set(pinned)
    certified = _certified_green()
    priority = [
        n for n in PANEL_PRIORITY
        if n in REGISTRY and REGISTRY[n][1] is not None
        and n not in taken and n not in certified
    ]
    taken |= set(priority)
    oracled = sorted(
        n for n in REGISTRY
        if REGISTRY[n][1] is not None and n not in taken
    )
    fresh = [n for n in oracled if n not in certified]
    refill = [n for n in oracled if n in certified]
    return tuple((pinned + priority + fresh + refill)[:_PANEL_SIZE])


def _panel_order() -> list[str]:
    """Registry names, the panel head first, the rest in registration
    order. queries() and oracle_sql() MUST share this order — the
    gate zips them positionally by key set."""
    head = _panel_head()
    head_set = set(head)
    return list(head) + [n for n in REGISTRY if n not in head_set]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: REGISTRY[name][0] for name in _panel_order()}


def oracle_sql() -> dict[str, str]:
    return {
        name: REGISTRY[name][1].strip()
        for name in _panel_order()
        if REGISTRY[name][1] is not None
    }
