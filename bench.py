"""Benchmark runner: times the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Methodology:
- warm-up pass scans the tables the headline queries read (footers +
  data pages hit the OS page cache, JIT warms), so per-query numbers
  measure the query, not first-touch I/O;
- queries materialize through the noop sink, which evaluates every
  projected column (a count() would let Catalyst prune the projection
  and under-measure narrow-transform queries);
- every query runs REPS times; the reported point value is the MEDIAN
  and [min, max] per-query spread is recorded in BENCH_DETAILS.json
  (written next to this script), so sub-second local-bench noise (GC,
  page-cache misses, JIT) is visible instead of read as a regression.
  The PRINTED line stays compact (<2000 chars) because the driver
  captures only the output tail — spread/details never go to stdout;
- "value" sums the SAME 10 queries as round 1 (BASELINE.md
  comparability); newer operator families are timed in "queries" and
  summed separately under "extended_total" (same set and order every
  round for round-over-round comparability);
- "headline_isolated" (r7) re-runs ONLY the headline family in a
  fresh subprocess/JVM before anything else — the clean-machine
  comparable that separates plan regressions from session pressure
  (r6's +54% headline move had unchanged plans);
- the in-process session runs with spark.cleaner.periodicGC.interval
  =45s so shuffle/broadcast state drains during the run instead of
  accumulating (the default 30 min never fires in a bench session;
  the accumulation is what produced r6's phantom 33.6x soak ratio —
  isolated, that query scales 4.6x at 10x data);
- the sf1 soak leg orders newest-family-first under its budget, so a
  budget expiry skips the oldest best-proven queries, never the
  newest (r6 skipped exactly its 10 newest);
- SELF-AUDIT (r7): any soak scaling ratio >10x is automatically
  re-measured in a fresh subprocess/JVM (the query alone, 2 reps at
  sf0.1 and sf1, min wall) and the isolated ratio is recorded next to
  the soak ratio ("recheck_x" on stdout, full pairs in
  BENCH_DETAILS.json "soak_recheck"). Every >10x entry recorded so far
  (r6: 33.6x; r7 interim: 12-22x) proved to be within-leg session
  residue — 1-5x isolated — so the record now carries its own
  contamination check instead of needing manual reconciliation.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from breweries_data_pipeline_spark.queries import REGISTRY  # noqa: E402
from breweries_data_pipeline_spark.session import get_spark  # noqa: E402
from breweries_data_pipeline_spark.sources import read_table  # noqa: E402

# round-1 headline set — keep stable for round-over-round comparability
HEADLINE = [
    "q_pricing_summary",
    "q_join_shuffle",
    "q_join_broadcast",
    "q_topk_per_group",
    "q_rollup",
    "q_dedup_by_key",
    "q_event_window",
    "q_count_distinct",
    "q_gold_union",
    "q_scan_parquet",
]

# round-2+ operator families (timed and reported, not in "value")
EXTENDED = [
    "q_dedup_text",
    "q_neardup_pairs_minhash",
    "q_simhash_pairs",
    "q_similarity_topk",
    "q_similarity_ann",
    "q_similarity_ivf",
    "q_dedup_embedding",
    "q_text_stats",
    "q_quality_score",
    "q_fingerprint_rolling",
    "q_multimodal_decode",
    "q_dedup_salted",
    "q_join_multi",
    "q_cube",
    "q_pivot",
    "q_percentiles",
    "q_event_window_sliding",
    "q_session_window",
    "q_asof_join",
    "q_range_join",
    "q_shipping_priority",
    "q_returned_items",
    "q_running_total",
    "q_moving_avg",
    "q_exists_orders",
    "q_small_qty_revenue",
    "q_large_orders",
    "q_disjunctive_pred",
    "q_dedup_clusters",
    "q_tfidf",
    "q_stratified_sample",
    "q_asof_next",
    "q_mode_udaf",
]

# round-3+ corpus-management family — summed under "corpus_total" so
# "extended_total" stays round-over-round comparable with round 2
CORPUS = [
    "q_split_assign",
    "q_shuffle_shards",
    "q_decontaminate",
    "q_pii_redact",
    "q_dedup_incremental",
    "q_quantize_embeddings",
]

# round-5 text-quality / substring-dedup / TPC-H-completion family —
# summed under "r5_total" so "extended_total" and "corpus_total" stay
# round-over-round comparable
R5 = [
    "q_market_share",
    "q_part_promotion",
    "q_token_count",
    "q_gopher_quality",
    "q_repeated_ngrams",
    "q_substring_dedup_stats",
    "q_funnel_steps",
    "q_retention_cohorts",
    "q_pagerank_nations",
    "q_corr_stats",
    "q_edit_distance_pairs",
    "q_skyline_parts",
]

# round-6 scale/sampling family — summed under "r6_total"
R6 = [
    "q_bloom_prune",
    "q_char_diversity",
    "q_token_budget_sample",
    "q_doc_lm_score",
    "q_rebalance_labels",
    "q_similarity_join_exact",
    "q_debounce_events",
]

# round-6 second wave (semantic dedup / data selection / sketches /
# privacy / graph similarity) — summed under "r6b_total"
R6B = [
    "q_semantic_dedup",
    "q_dsir_weights",
    "q_incremental_agg",
    "q_k_anonymity",
    "q_node_jaccard",
    "q_cms_frequencies",
    "q_bfs_hops",
    "q_ohlc_bars",
    "q_label_propagation",
    "q_minhash_lsh",
    "q_hard_negatives",
    "q_cumulative_reach",
    "q_skew_report",
    "q_corpus_funnel",
    "q_pmi_collocations",
    "q_simhash_md5",
    "q_referential_integrity",
    "q_jackknife_ci",
]

# round-6 third wave (time-series stats, media dedup, retrieval eval)
# — summed under "r6c_total"
R6C = [
    "q_cusum_drift",
    "q_streaming_cusum",
    "q_ewma_smoothing",
    "q_ks_test",
    "q_autocorr_daily",
    "q_image_ahash",
    "q_source_overlap",
    "q_compaction_plan",
    "q_item_cosine",
    "q_mrr_eval",
    "q_token_histogram",
    "q_l_diversity",
    "q_ams_f2",
    "q_sparse_cosine",
    "q_degree_assortativity",
    "q_quantile_normalize",
    "q_burstiness",
    "q_audio_energy",
    "q_attribution_linear",
    "q_table_checksum",
    "q_moving_median",
    "q_neardup_incremental",
]

# round-7 family — summed under "r7_total"
R7 = [
    "q_neardup_index",
    "q_png_decode",
    "q_bpe_learn",
    "q_drift_tv",
    "q_ngram_novelty",
    "q_table_diff",
    "q_kcore",
    "q_stream_static_join",
    "q_bpe_encode",
    "q_priority_sample",
    "q_t_closeness",
    "q_knn_classify",
    "q_kmeans_assign",
    "q_rrf_fusion",
    "q_event_transitions",
    "q_split_novelty",
    "q_audio_dedup",
    "q_streaming_late_drop",
    "q_recall_at_k",
    "q_streaming_session_timeout",
    "q_dup_histogram",
]

R7E = [
    "q_kmeans_lloyd2",
    "q_dedup_lsh_buckets",
    "q_neardup_buckets_minhash",
    "q_sql_udf",
    "q_corpus_funnel_buckets",
    "q_bucket_audit",
    "q_sentence_dedup",
]

# round-8 family — summed under "r8_total"
R8 = [
    "q_sentence_dedup_global",
    "q_mixture_temperature",
]

# round-9 family — the fingerprint-before-exchange production forms,
# the stdlib JPEG real-codec round-trip, and margin-based bitext mining
R9 = [
    "q_sentence_dedup_fp",
    "q_neardup_index_fp",
    "q_jpeg_decode",
    "q_bitext_mine",
]

# round-11 family — crawl-funnel stage zero (canonical-URL dedup),
# CCNet head/middle/tail via distributed exact NTILE, restart-interval
# JPEG decode
R11 = [
    "q_url_dedup",
    "q_ccnet_buckets",
    "q_jpeg_decode_rst",
    "q_domain_cap",
    "q_winnowing",
]

# round-12 family — winnowing composed into the dedup family (MOSS
# local-similarity candidates over shared selected fingerprints) and
# the constant-cost sampled LSH recall audit
R12 = [
    "q_winnow_dedup",
    "q_winnow_dedup_star",
    "q_lsh_recall_audit_sampled",
    "q_cdc_chunk_dedup",
    "q_cdc_containment",
    "q_lang_segments",
    "q_streaming_cdc_ingest",
    "q_winnow_spans",
]

WARMUP_TABLES = ("lineitem", "orders", "customer", "nation", "region", "events",
                 "documents", "embeddings")

# Self-adjudicating measurements (r11): every SF1_WALLS entry and the
# BENCH record carry the host state they were measured under — the
# 1-minute load average plus the latest wall of a FIXED-COST
# calibration probe (one untimed-side rep of q_scan_parquet at sf0.1,
# whose clean idle-host spread is pinned below from the r1-r10
# record). Three rounds of "the family totals are inflated, trust the
# pressure narrative" (r8-r10 verdicts) is what this retires: a reader
# can now tell a real regression from a contended wall from the data
# alone, and tools/update_status.py flags probe-inflated entries
# mechanically. The probe is sampled every PROBE_EVERY measurements
# (~0.2s each — sampling every measurement would burn ~60s of soak
# budget for no extra signal).
PROBE_QUERY = "q_scan_parquet"
PROBE_CLEAN_SPREAD = (0.177, 0.192)  # idle-host [min, max], r1-r10
PROBE_EVERY = 10
# the probe's clean spread is calibrated at sf0.1 — always run it
# there when that dir exists (a bench at another SF would otherwise
# compare an sf0.01 probe against the sf0.1 spread)
PROBE_DIR = "/root/testdata/sf0.1"


def _load_avg() -> float:
    """1-minute load average, -1.0 where the platform lacks it."""
    try:
        return round(os.getloadavg()[0], 2)
    except (OSError, AttributeError):
        return -1.0


# latest probe wall, stamped into every subsequent measurement until
# the next sample (module state: the bench is single-threaded)
_PROBE = {"sec": None}


def _calibration_probe(spark, sf01_dir: str) -> float:
    """One rep of the fixed-cost probe at sf0.1. Its plan has been
    unchanged since r1, so any excursion above PROBE_CLEAN_SPREAD is
    the HOST, not the engine — the stamp that turns 'host pressure'
    from narrative into data."""
    fn, _ = REGISTRY[PROBE_QUERY]
    d = PROBE_DIR if os.path.isdir(PROBE_DIR) else sf01_dir
    t0 = time.perf_counter()
    _materialize(fn(spark, d))
    sec = round(time.perf_counter() - t0, 3)
    _PROBE["sec"] = sec
    return sec

# Queries whose first rep pays a one-off Arrow/codec/state-store warmup
# far above their steady state (r6 spread: q_multimodal_decode
# 1.0-8.2s, q_image_ahash 1.2-6.3s, q_streaming_cusum 1.9-6.5s; r7
# spread after the first three landed: q_dedup_text 0.3-1.7s,
# q_audio_energy 0.7-2.7s, q_image_ahash still 0.9-4.0s). They get
# ONE untimed warmup rep so the recorded spread measures the query,
# not first-touch initialization.
JIT_WARM = {
    "q_multimodal_decode",
    "q_image_ahash",
    "q_streaming_cusum",
    "q_dedup_text",
    "q_audio_energy",
    # r7c spread: first rep pays Catalyst analysis + codegen of the
    # 4-round unrolled BPE plans (1.7-10.0s vs 1.7s steady state)
    "q_bpe_encode",
    "q_bpe_learn",
    # same one-off codec warmup class as q_audio_energy
    "q_audio_dedup",
    # r7d spread: 0.63-3.88s across reps (pure-JVM union+window plan;
    # the outlier rep coincides with session GC/codegen, not the
    # query) — one untimed rep pins the recorded numbers to steady
    # state like the rest of this list
    "q_asof_join",
}


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _jvm_gc(spark) -> None:
    """Force a JVM GC so the ContextCleaner (weak-ref driven) actually
    releases shuffle files and broadcast blocks. Without it a long
    bench session accumulates hundreds of stages' shuffle state —
    Spark's own periodic GC defaults to every 30 MINUTES, which a
    bench run never reaches — and the resulting memory/disk pressure
    inflates late-suite measurements (r6 recorded q_cms_frequencies
    at 33.6x scaling late in the soak; isolated it is 4.6x)."""
    import gc

    gc.collect()  # drop py4j proxies first so their JVM refs die too
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:  # noqa: BLE001 — GC is best-effort hygiene
        pass


def _soak_dir() -> str | None:
    """Locate (or build) the 10x soak replica. SCALE.md's claims are
    measured, not argued: the soak leg runs the same suite at sf1
    (6M-row lineitem) so superlinear scalers surface in every round's
    BENCH file. Set SPARK_GRAFT_SOAK=0 to skip (e.g. laptop runs)."""
    if os.environ.get("SPARK_GRAFT_SOAK", "1") == "0":
        return None
    here = os.path.dirname(os.path.abspath(__file__))
    d = os.path.join(here, ".localdata", "sf1")
    # the valid layout is a DIRECTORY of part files per scaling table
    # (scan parallelism = files x row groups); a plain lineitem.parquet
    # FILE is the pre-r7 single-file layout whose parallelism-1 scans
    # produced phantom 7-24x soak ratios — regenerate it.
    if not os.path.isdir(os.path.join(d, "lineitem.parquet")):
        src = "/root/testdata/sf0.1"
        if not os.path.isdir(src):
            return None
        import subprocess

        r = subprocess.run(
            [sys.executable, os.path.join(here, "tools", "gen_sf.py"),
             "--src", src, "--dst", d],
            capture_output=True,
        )
        if r.returncode != 0:
            return None
    return d


def _flush_details(payload: dict) -> None:
    """Write BENCH_DETAILS.json NOW. Called after every measured query
    (and at the end with the full payload) so a driver-side timeout
    truncates the stdout line, not the evidence — r3/r4 lost their
    whole BENCH file to exactly that."""
    details_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAILS.json"
    )
    tmp = details_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(payload, f, indent=1)
    os.replace(tmp, details_path)


def _warmup(spark, sf_dir: str) -> None:
    """Full scans of every input table (page cache + JIT) plus one
    mapInPandas no-op to spawn the reusable python workers — so q1's
    number is the query, not first-touch I/O or process startup."""
    for t in WARMUP_TABLES:
        _materialize(read_table(spark, sf_dir, t))
    import pandas as _pd  # noqa: F401

    def _noop_batch(it):
        for pdf in it:
            yield pdf

    _materialize(spark.range(1000).repartition(32).mapInPandas(_noop_batch, "id long"))


def _isolated_headline(sf_dir: str) -> dict | None:
    """Run ONLY the headline family in a fresh subprocess (fresh JVM,
    fresh page-cache-warm session, nothing else in the heap). The r6
    headline moved 3.7s -> 5.8s with unchanged plans — this leg
    separates plan regressions from same-process/session pressure
    permanently: headline_isolated moves only when the plans (or the
    machine) do."""
    import subprocess

    env = dict(os.environ)
    env["SPARK_GRAFT_HEADLINE_ONLY"] = "1"
    env["SPARK_GRAFT_SOAK"] = "0"
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    r = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        capture_output=True, text=True, env=env, timeout=600,
    )
    for ln in reversed(r.stdout.strip().splitlines()):
        if ln.startswith("{"):
            try:
                p = json.loads(ln)
                return {"value": p["value"], "queries": p["queries"],
                        "calib": p.get("calib")}
            except (ValueError, KeyError):
                return None
    return None


def _calib_summary(probe_trace: list[dict]) -> dict:
    """Compact host-state summary for the stdout line; the full
    per-sample trace ships in BENCH_DETAILS. A probe [min,max] sitting
    inside "clean" certifies an uncontended run; a max several x above
    it IS the adjudication (no narrative needed). _load_avg's -1.0
    platform-unavailable sentinel is excluded so the shipped min never
    reads as a fake negative load (r11 ADVICE); load is null when no
    real sample exists."""
    probes = [p["probe_sec"] for p in probe_trace]
    loads = [p["load"] for p in probe_trace if p["load"] >= 0.0]
    return {
        "probe": [min(probes), max(probes)],
        "load": [min(loads), max(loads)] if loads else None,
        "clean": list(PROBE_CLEAN_SPREAD),
    }


def _headline_legs(
    total: float, probe_trace: list[dict], isolated: dict | None,
    fresh_jvm_main: bool = False,
) -> tuple[list[dict], float | None]:
    """headline_best_clean (r11 verdict item 7): ONE field round-over-
    round comparisons can read without re-adjudicating contention by
    hand — the best headline among legs whose own probe certifies an
    uncontended measurement. Per-leg clean ceilings differ because the
    clean spread was calibrated MID-SUITE (deep page cache + JIT
    warmth); a fresh-JVM steady probe sits ~0.06-0.09s above it even
    at load<1 (r11 record, SCALE.md), so the isolated leg gets that
    allowance. Returns (legs, best_clean) — best_clean is None when no
    leg's probe was clean, i.e. the record self-tags as contended."""
    in_suite_clean_hi = PROBE_CLEAN_SPREAD[1] * 1.25  # mid-suite legs
    fresh_jvm_clean_hi = PROBE_CLEAN_SPREAD[1] + 0.10  # fresh-JVM legs
    # a headline-only session's "main" leg IS a fresh JVM (no long
    # suite warmed the page cache / JIT before its probe) — hold it to
    # the fresh-JVM ceiling, not the mid-suite one (SCALE.md r11 note:
    # headline-only probes sit ~0.25-0.28s even at load<1)
    if fresh_jvm_main:
        in_suite_clean_hi = fresh_jvm_clean_hi
    legs: list[dict] = []
    head_probes = [
        p["probe_sec"] for p in probe_trace
        if p["at"] in ("after_warmup", f"suite:{PROBE_EVERY}")
    ]
    if head_probes:
        legs.append({
            "leg": "main", "value": total,
            "probe": max(head_probes),
            "clean": max(head_probes) <= in_suite_clean_hi,
        })
    if isolated is not None:
        iso_probe = ((isolated.get("calib") or {}).get("probe")
                     or [None, None])[1]
        legs.append({
            "leg": "isolated", "value": isolated["value"],
            "probe": iso_probe,
            "clean": (iso_probe is not None
                      and iso_probe <= fresh_jvm_clean_hi),
        })
    clean_vals = [l["value"] for l in legs if l["clean"]]
    return legs, (min(clean_vals) if clean_vals else None)


def _soak_order() -> list[str]:
    """Soak execution order: headline first (the round-over-round
    comparable, ~10s at sf1), then the suite NEWEST-FAMILY-FIRST — if
    the budget expires, the queries that lose their sf1 datum are the
    oldest, best-proven ones, never the newest (r6 skipped exactly its
    10 newest)."""
    rest = [q for q in EXTENDED + CORPUS + R5 + R6 + R6B + R6C + R7 + R7E + R8 + R9 + R11 + R12 if q in REGISTRY]
    return HEADLINE + list(reversed(rest))


def _sf1_walls_path() -> str:
    return os.environ.get("SPARK_GRAFT_WALLS_PATH") or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "SF1_WALLS.json"
    )


def _load_sf1_walls() -> dict:
    """Cumulative, COMMITTED record of per-query sf1 walls: every
    soak/rotation/bonus measurement merges here (newest wins), so
    'which registry queries have a shipped at-scale datum' is a file,
    not an archaeology exercise over per-round BENCH summaries. The
    r9 round shipped count-level rotation evidence only — 46 bonus
    queries were skipped over budget and nobody could say WHICH from
    the shipped artifacts; this file is the fix, and the bonus leg
    orders never-recorded queries first off the same record.

    Absent-on-first-run is the ONLY silent fallback; a corrupt /
    truncated file is backed up to <path>.corrupt and logged LOUDLY
    before falling back, so the next merge can never silently replace
    the committed cumulative record with one entry (recoverable via
    git either way, but silence was the bug — r10 ADVICE)."""
    path = _sf1_walls_path()
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return {}
    except (ValueError, OSError) as exc:
        backup = path + ".corrupt"
        try:
            os.replace(path, backup)
        except OSError:
            backup = "(backup failed)"
        print(
            f"WARNING: {os.path.basename(path)} unreadable "
            f"({type(exc).__name__}: {exc}) — moved to {backup}; "
            f"starting a fresh record. Restore the committed file from "
            f"git if this was the cumulative sf1 record.",
            file=sys.stderr,
        )
        return {}


def _merge_sf1_walls(new: dict[str, float], leg: str) -> None:
    """Merge walls into the cumulative committed record, stamping each
    entry with the host state it was measured under (see PROBE_QUERY
    block above): 1-min load average + latest calibration-probe wall.

    MERGE POLICY (r11): walls are UPPER BOUNDS, so automated legs
    (soak/rotation/bonus) keep the MINIMUM — a slower re-measurement
    under soak conditions is pressure/session-residue evidence, not a
    better datum, and newest-wins let r10's contended runs overwrite
    clean r9 walls (then this round's soak clobbered freshly-refreshed
    walls within the hour: q_kcore 14.9->39.7s at load 15.6). The
    probe can't arbitrate here — it under-detects contention for
    shuffle-heavy queries (q_lsh_recall_audit tripled while its probe
    sat at 0.17s). Only leg="refresh" (tools/refresh_walls.py:
    deliberate, probe-gated, quiet-window, min-of-reps) replaces in
    BOTH directions — that is the instrument for recording a true
    plan regression; per-round raw walls live in BENCH_DETAILS."""
    data = _load_sf1_walls()
    load = _load_avg()
    for q, w in new.items():
        old = data.get(q)
        if (
            leg != "refresh"
            and isinstance(old, dict)
            and isinstance(old.get("sec"), (int, float))
            and w > old["sec"]
        ):
            continue  # slower automated re-measurement: keep the bound
        entry: dict = {"sec": w, "leg": leg, "load": load}
        if _PROBE["sec"] is not None:
            entry["probe_sec"] = _PROBE["sec"]
        data[q] = entry
    tmp = _sf1_walls_path() + ".tmp"
    with open(tmp, "w") as f:
        json.dump(dict(sorted(data.items())), f, indent=1)
    os.replace(tmp, _sf1_walls_path())


def _rotation_cohort() -> tuple[int, list[str], list[str]]:
    """sf1 rotation over the COVERAGE-leg queries (registry minus the
    curated suite): a third per round, so every registry query gets an
    sf1 datum within 3 rounds instead of the curated-suite boundary
    leaving ~140 queries with no scale evidence at all. Cohort index =
    shipped-BENCH-file count mod 3 (deterministic, no state file).

    MEMBERSHIP is keyed on the stable name-sorted position (i % 3), so
    the three cohorts partition the leg identically in every run —
    keying on measured cost would churn membership as walls drift and
    break the every-query-within-3-rounds guarantee (the r8 shakedown
    run did exactly that). EXECUTION ORDER within the cohort is
    most-expensive-first by the last recorded sf0.1 coverage wall, so
    a budget expiry drops the cheapest, best-understood queries."""
    import glob as _glob

    here = os.path.dirname(os.path.abspath(__file__))
    round_ix = len(_glob.glob(os.path.join(here, "BENCH_r*.json"))) % 3
    suite = set(_soak_order())
    rest = sorted(set(REGISTRY) - suite)
    cohort = [q for i, q in enumerate(rest) if i % 3 == round_ix]
    try:
        with open(os.path.join(here, "BENCH_DETAILS.json")) as f:
            cov = json.load(f).get("coverage_queries", {})
    except Exception:  # noqa: BLE001 — ordering hint only
        cov = {}
    cohort.sort(key=lambda q: (-cov.get(q, 0.0), q))
    # BONUS leg: the OTHER two cohorts, run on whatever budget remains
    # after the primary cohort — when the soak is fast enough this
    # closes the whole registry's sf1 record in ONE round instead of
    # three. Next-round's cohort first (it has gone longest without a
    # datum), each most-expensive-first like the primary.
    bonus: list[str] = []
    for k in (1, 2):
        c = [q for i, q in enumerate(rest) if i % 3 == (round_ix + k) % 3]
        c.sort(key=lambda q: (-cov.get(q, 0.0), q))
        bonus.extend(c)
    # never-recorded-FIRST (stable partition, preserving the cohort +
    # most-expensive-first order within each half): a budget expiry
    # must cost re-measurements of queries that already have a shipped
    # sf1 wall in SF1_WALLS.json, never a query's first-ever at-scale
    # datum. In r9 the two output-bound audit twins (q_dedup_neardup
    # 43.9s + q_lsh_recall_audit 37.9s, both already recorded) ate 50%
    # of the bonus wall while 46 queries went unrecorded — this
    # ordering retires that failure mode without special-casing any
    # query.
    recorded = _load_sf1_walls()
    bonus = [q for q in bonus if q not in recorded] + [
        q for q in bonus if q in recorded
    ]
    return round_ix, cohort, bonus


def _run_soak(spark, sd: str, budget: float, sf01_dir: str | None = None):
    """Single-rep suite pass at the soak SF, followed by this round's
    rotation cohort of coverage-leg queries (see _rotation_cohort) on
    the budget's remainder. Returns a dict payload. Flushes progress
    into BENCH_DETAILS.json incrementally (merging with whatever is
    already there) so a driver-side timeout truncates stdout, not the
    evidence.

    PER-LEG BUDGET (r11): the suite leg may spend at most
    SPARK_GRAFT_SOAK_SUITE_FRAC (default 0.6) of the budget; the
    rotation + bonus legs always get the remainder. The r10 driver run
    lost its ENTIRE rotation (49/49 skipped_over_budget) because host
    pressure let the suite eat the whole budget — the suite queries are
    re-measurements of the best-proven set, so under pressure they are
    exactly the ones to shed first. Suite skips are logged as before.

    CALIBRATION: every PROBE_EVERY measured queries the fixed-cost
    probe runs at sf0.1 (when ``sf01_dir`` is given) so each merged
    SF1_WALLS entry carries a fresh-ish probe wall next to its load
    average — see the PROBE_QUERY block above.

    SESSION RECYCLING: the SparkSession is stopped and rebuilt (same
    JVM, fresh SparkContext — shuffle files, broadcasts, codegen
    caches, status store all released) every SPARK_GRAFT_SOAK_RECYCLE
    queries, default 40. Even with per-5-query GC, late-leg entries
    ran 2-10x their fresh-session walls (r8 record: q_kcore 28.5s
    in-leg vs 7.0s isolated; q_pmi_collocations 19.6x soak ratio vs
    2.0x isolated) — the recycle bounds residue to one chunk instead
    of the whole leg, for ~4 restarts x (~8s session + ~10s re-warm)
    inside the 800s budget."""
    details_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAILS.json"
    )

    def _warm(s):
        for t in WARMUP_TABLES:
            _materialize(read_table(s, sd, t))

    _warm(spark)
    if sf01_dir:
        # first probe in a fresh session pays plan codegen + first-
        # touch (~0.5s observed vs 0.19s steady) — burn one so the
        # recorded probes measure the host, not session warmup
        _calibration_probe(spark, sf01_dir)
        _calibration_probe(spark, sf01_dir)
    soak_detail: dict[str, float] = {}
    rot_detail: dict[str, float] = {}
    errors: dict[str, str] = {}
    t0 = time.perf_counter()
    skipped = 0
    rot_skipped = 0
    recycle_every = int(os.environ.get("SPARK_GRAFT_SOAK_RECYCLE", "40"))
    suite_frac = float(os.environ.get("SPARK_GRAFT_SOAK_SUITE_FRAC", "0.6"))
    cohort_ix, cohort, bonus = _rotation_cohort()
    bonus_detail: dict[str, float] = {}
    bonus_skipped = 0
    measured = 0
    suite_n = len(_soak_order())
    rot_n = suite_n + len(cohort)
    for i, name in enumerate(_soak_order() + cohort + bonus):
        in_bonus = i >= rot_n
        in_rotation = i >= suite_n and not in_bonus
        # the suite's sub-budget sheds re-measurements of the
        # best-proven set first; rotation/bonus keep the full window
        leg_budget = budget if (in_rotation or in_bonus) else budget * suite_frac
        if time.perf_counter() - t0 > leg_budget:
            if in_bonus:
                bonus_skipped += 1
            elif in_rotation:
                rot_skipped += 1
            else:
                skipped += 1
            continue
        if recycle_every > 0 and i > 0 and i % recycle_every == 0:
            spark.stop()
            spark = get_spark(
                f"bench-soak-{i}",
                extra_conf={"spark.cleaner.periodicGC.interval": "45s"},
            )
            spark.sparkContext.setLogLevel("ERROR")
            _warm(spark)
            if sf01_dir:
                # mirror the leg-start double-probe: the first probe in
                # a rebuilt session pays codegen/first-touch (~0.5s vs
                # 0.19s steady) and would otherwise stamp an inflated
                # probe_sec into walls merged over the next PROBE_EVERY
                # window; the second records the session's real steady
                # state into _PROBE (r11 ADVICE)
                _calibration_probe(spark, sf01_dir)
                _calibration_probe(spark, sf01_dir)
        fn, _ = REGISTRY[name]
        start = time.perf_counter()
        try:
            _materialize(fn(spark, sd))
            wall = round(time.perf_counter() - start, 3)
            dest = (
                bonus_detail if in_bonus
                else rot_detail if in_rotation
                else soak_detail
            )
            dest[name] = wall
            # cumulative at-scale record (committed file): merged per
            # query, not per leg, so a crash or budget expiry keeps
            # every wall measured so far
            _merge_sf1_walls(
                {name: wall},
                "bonus" if in_bonus else "rotation" if in_rotation
                else "soak",
            )
            measured += 1
            if sf01_dir and measured % PROBE_EVERY == 0:
                _calibration_probe(spark, sf01_dir)
        except Exception as exc:  # noqa: BLE001 — one bad query must
            # not cost the whole leg; the error is the datum
            leg = (
                "bonus" if in_bonus else "rotation" if in_rotation else "soak"
            )
            errors[f"{leg}:{name}"] = f"{type(exc).__name__}: {exc}"[:200]
        spark.catalog.clearCache()
        if i % 5 == 4:
            _jvm_gc(spark)  # keep shuffle/broadcast state drained
        try:
            with open(details_path) as f:
                existing = json.load(f)
        except Exception:  # noqa: BLE001
            existing = {}
        existing["soak_queries"] = soak_detail
        existing["soak_rotation"] = {
            "cohort": cohort_ix,
            "cohort_size": len(cohort),
            "queries": rot_detail,
            "bonus_queries": bonus_detail,
        }
        _flush_details(existing)
    # stop the ACTIVE session before returning: recycling rebinds only
    # this function's local, so a caller that later stops ITS reference
    # stops a long-dead session while the last recycled SparkContext
    # stays alive — exactly the two-heap OOM scenario the recheck-JVM
    # sequencing guards against. Idempotent for the caller's own stop.
    spark.stop()
    return {
        "soak_queries": soak_detail,
        "soak_errors": errors,
        "skipped": skipped,
        "rotation_cohort": cohort_ix,
        "rotation_cohort_size": len(cohort),
        "rotation_queries": rot_detail,
        "rotation_skipped": rot_skipped,
        "rotation_bonus_queries": bonus_detail,
        "rotation_bonus_skipped": bonus_skipped,
    }


def _isolated_soak(sf_dir: str, budget: float):
    """Run the soak leg in a fresh subprocess/JVM: the r7 measurements
    showed soak entries for string-shuffle-heavy queries running
    2-3x their fresh-session walls when the soak shared a JVM with the
    just-finished 3-rep sf0.1 suite (~330 executions of residue).
    Within-soak accumulation remains, but it is one rep of each query
    instead of the whole day's session."""
    import subprocess

    env = dict(os.environ)
    env["SPARK_GRAFT_SOAK_ONLY"] = "1"
    env["SPARK_GRAFT_ISOLATED"] = "0"
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    r = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        capture_output=True, text=True, env=env, timeout=budget + 420,
    )
    for ln in reversed(r.stdout.strip().splitlines()):
        if ln.startswith("{"):
            return json.loads(ln)
    raise RuntimeError("soak subprocess produced no JSON line")


def _recheck_outliers(sf_dir: str, worst: dict, budget: float = 300.0) -> dict:
    """Self-audit for the soak's worst scaling ratios: any entry >10x
    is re-measured in a fresh subprocess/JVM — the query ALONE, 2 reps
    at sf0.1 and at sf1, min wall — and the isolated ratio is recorded
    next to the soak ratio. Every round so far that recorded a >10x
    soak entry (r6: q_cms_frequencies 33.6x; r7 interim: q_doc_lm_score
    12x) found the isolated ratio to be 1-5x — within-leg session
    residue, not operator behavior. Automating the re-measure makes the
    shipped record self-consistent regardless of host pressure during
    the driver's run: SCALE.md describes the mechanism, the JSON
    carries the audit pair."""
    import subprocess

    out: dict[str, dict] = {}
    t0 = time.perf_counter()
    # worst-first over EVERY >10x entry (not just a top-N display cut:
    # r7 measured a 13.7x residue artifact crowded out of the top-3 by
    # three bigger artifacts), capped so the stdout line stays compact
    suspects = sorted(worst.items(), key=lambda kv: -kv[1])[:5]
    for q, x in suspects:
        if x <= 10.0:
            continue
        remaining = budget - (time.perf_counter() - t0)
        if remaining < 60:
            break
        env = dict(os.environ)
        env["SPARK_GRAFT_RECHECK_QUERY"] = q
        env["SPARK_GRAFT_SF_DIR"] = sf_dir
        try:
            r = subprocess.run(
                [sys.executable, os.path.abspath(__file__)],
                capture_output=True, text=True, env=env,
                timeout=max(remaining, 60),
            )
            for ln in reversed(r.stdout.strip().splitlines()):
                if ln.startswith("{"):
                    p = json.loads(ln)
                    if "sf01" in p and "sf1" in p:
                        out[q] = {
                            "soak_x": x,
                            "isolated_x": round(p["sf1"] / max(p["sf01"], 1e-9), 1),
                            "sf01_s": p["sf01"],
                            "sf1_s": p["sf1"],
                        }
                    break
        except Exception:  # noqa: BLE001 — audit leg, never fatal
            continue
    return out


# compute-bound multi-second sf0.1 queries for the scaling-evidence
# leg: their walls actually track core count, unlike the sub-second
# headline 10 whose fixed per-query job overhead (~the probe floor)
# makes any low/high-core ratio ~1 at this SF by arithmetic
SCALING_EVIDENCE_QUERIES = ["q_neardup_buckets_minhash", "q_simhash_md5"]


def _mem_bytes(size: str) -> int:
    """Bytes in a JVM memory size such as ``12g``, ``512m`` or
    ``1048576`` (k, m, g and t suffixes, either case)."""
    size = size.strip().lower()
    scale = {"k": 1, "m": 2, "g": 3, "t": 4}.get(size[-1:], 0)
    return int(size[:-1] if scale else size) * 1024**scale


def _scaling_evidence(sf_dir: str, budget: float = 300.0) -> dict | None:
    """Self-measured demonstration that the bench honors
    $SPARK_GRAFT_CPUS (r12 verdict #3: the ground-truth record kept
    flagging `suspect_cpus_ignored` because its probe only samples the
    sub-second headline queries, whose ratio is ~1 at sf0.1 regardless
    of cores). Times two compute-bound queries in fresh subprocess
    JVMs (tools/time_iso.py — same noop-sink methodology) at the main
    core count and at a reduced one, with ONLY the env var changed
    between the two children. Evidence leg only: never feeds the
    headline metric, never alters existing `queries` entries, and any
    failure degrades to omission."""
    import subprocess

    hi = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    lo = 8 if hi >= 16 else max(2, hi // 2)
    if lo >= hi:
        return None
    tool = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "tools", "time_iso.py")
    walls: dict[str, dict] = {}
    # sf0.1 compute queries need nothing like the suite's 24g; a child
    # heap of at most 12g, and never more than the caller's, keeps peak
    # host memory bounded while the parent JVM is still alive
    heap = os.environ.get("SPARK_DRIVER_MEMORY", "12g")
    if _mem_bytes(heap) > _mem_bytes("12g"):
        heap = "12g"
    deadline = time.monotonic() + budget
    for tag, cpus in (("hi", hi), ("lo", lo)):
        env = dict(os.environ)
        env["SPARK_GRAFT_CPUS"] = str(cpus)
        env["SPARK_DRIVER_MEMORY"] = heap
        # both children share the one budget: the second gets what the
        # first left
        left = deadline - time.monotonic()
        if left <= 0:
            return None
        r = subprocess.run(
            [sys.executable, tool, *SCALING_EVIDENCE_QUERIES,
             "--reps", "2", "--sf-dir", sf_dir],
            capture_output=True, text=True, env=env, timeout=left,
        )
        for ln in reversed(r.stdout.strip().splitlines()):
            if ln.startswith("{"):
                walls[tag] = json.loads(ln)
                break
        if tag not in walls:
            return None
    out = {"cpus": {"hi": hi, "lo": lo}, "queries": {}}
    for q in SCALING_EVIDENCE_QUERIES:
        try:
            h = walls["hi"][q]["min"]
            l = walls["lo"][q]["min"]
        except KeyError:
            continue
        out["queries"][q] = {
            "hi_s": h, "lo_s": l, "x": round(l / max(h, 1e-9), 2),
            "probe": [walls["hi"][q].get("probe"),
                      walls["lo"][q].get("probe")],
        }
    return out if out["queries"] else None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    headline_only = os.environ.get("SPARK_GRAFT_HEADLINE_ONLY", "0") == "1"

    rq = os.environ.get("SPARK_GRAFT_RECHECK_QUERY")
    if rq:  # subprocess mode for _recheck_outliers: one query, both SFs
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
        spark = get_spark(
            "bench-recheck",
            extra_conf={"spark.cleaner.periodicGC.interval": "45s"},
        )
        spark.sparkContext.setLogLevel("ERROR")
        fn, _ = REGISTRY[rq]
        out: dict[str, float] = {}
        sd = _soak_dir()
        for label, d in (("sf01", sf_dir), ("sf1", sd)):
            if d is None:
                continue
            for t in WARMUP_TABLES:
                _materialize(read_table(spark, d, t))
            runs = []
            for _ in range(2):
                t0 = time.perf_counter()
                _materialize(fn(spark, d))
                runs.append(time.perf_counter() - t0)
                spark.catalog.clearCache()
            out[label] = round(min(runs), 3)
        print(json.dumps({"recheck": rq, **out}, separators=(",", ":")))
        return

    if os.environ.get("SPARK_GRAFT_SOAK_ONLY", "0") == "1":
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
        spark = get_spark(
            "bench-soak", extra_conf={"spark.cleaner.periodicGC.interval": "45s"}
        )
        spark.sparkContext.setLogLevel("ERROR")
        sd = _soak_dir()
        budget = float(os.environ.get("SPARK_GRAFT_SOAK_BUDGET_S", "800"))
        payload = (
            _run_soak(spark, sd, budget, sf01_dir=sf_dir)
            if sd
            else {"soak_queries": {}, "soak_errors": {}, "skipped": 0}
        )
        print(json.dumps(payload, separators=(",", ":")))
        return

    # the isolated leg runs FIRST (before this process's JVM exists,
    # so the machine state it sees is as clean as the driver left it)
    isolated = None
    if not headline_only and os.environ.get("SPARK_GRAFT_ISOLATED", "1") == "1":
        try:
            isolated = _isolated_headline(sf_dir)
        except Exception:  # noqa: BLE001 — evidence leg, never fatal
            isolated = None

    # local[32] runs ALL executor threads inside the driver JVM, so the
    # 8g default heap is 0.25g per core — at sf1 the execution+storage
    # region (~40% of heap) thrashes once the session has broadcast/
    # codegen/status-store residue, inflating late-suite measurements
    # 3-4x (r7 finding: corpus-family queries at soak position ~70 ran
    # 4x their fresh-session time). Size the heap like a real 32-core
    # executor instead; SPARK_DRIVER_MEMORY still overrides.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    # periodic JVM GC keeps the ContextCleaner draining shuffle files
    # and broadcast blocks throughout the run (see _jvm_gc)
    spark = get_spark("bench", extra_conf={"spark.cleaner.periodicGC.interval": "45s"})
    spark.sparkContext.setLogLevel("ERROR")
    _warmup(spark, sf_dir)

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    # calibration trace (r11): fixed-cost probe + load average sampled
    # through the run so every leg of the shipped record carries the
    # host state it was measured under (see PROBE_QUERY block above)
    probe_trace: list[dict] = []

    def _probe_point(tag: str) -> None:
        probe_trace.append({
            "at": tag,
            "probe_sec": _calibration_probe(spark, sf_dir),
            "load": _load_avg(),
        })

    _calibration_probe(spark, sf_dir)  # burn codegen/first-touch
    _probe_point("after_warmup")
    suite = HEADLINE if headline_only else (
        HEADLINE + [q for q in EXTENDED + CORPUS + R5 + R6 + R6B + R6C + R7 + R7E + R8 + R9 + R11 + R12 if q in REGISTRY]
    )
    for qn, name in enumerate(suite):
        if qn and qn % PROBE_EVERY == 0:
            _probe_point(f"suite:{qn}")
        fn, _ = REGISTRY[name]
        runs = []
        warm_reps = (1 if name in JIT_WARM else 0)
        for rep in range(-warm_reps, reps):
            start = time.perf_counter()
            try:
                _materialize(fn(spark, sf_dir))
            except Exception as exc:  # noqa: BLE001
                errors[name] = f"{type(exc).__name__}: {exc}"[:200]
                break
            if rep >= 0:  # rep -1 is the untimed JIT_WARM warmup
                runs.append(time.perf_counter() - start)
            # LSH/signature queries persist() intermediates; without
            # an inter-rep clear those caches accumulate across the
            # whole suite and the resulting GC pressure inflates
            # LATER queries' numbers (measured: q_corr_stats 1.0s
            # isolated vs 4.5s late-suite). Clearing keeps every
            # measurement independent; the persist still benefits the
            # multi-consumer reuse WITHIN the query it belongs to.
            spark.catalog.clearCache()
        if not runs:
            continue
        runs.sort()
        timings[name] = round(runs[len(runs) // 2], 3)
        spread[name] = [round(runs[0], 3), round(runs[-1], 3)]
        if not headline_only:  # the subprocess leg must not clobber
            _flush_details({"queries": timings, "spread": spread,
                            "partial": True})

    # coverage leg: ONE rep of every registry query the curated suite
    # does not time (139 of 264 at r7c) so the shipped record carries
    # a datum for the WHOLE registry, not just the representative
    # families. Budget-guarded like the soak — skips are logged, never
    # silent — and runs before the soak so the newest evidence
    # (family medians) is already flushed if the budget dies here.
    coverage: dict[str, float] = {}
    cov_skipped = 0
    if not headline_only and os.environ.get("SPARK_GRAFT_COVERAGE", "1") == "1":
        cov_budget = float(os.environ.get("SPARK_GRAFT_COVERAGE_BUDGET_S", "300"))
        cov_t0 = time.perf_counter()
        rest = sorted(set(REGISTRY) - set(suite))
        for i, name in enumerate(rest):
            if time.perf_counter() - cov_t0 > cov_budget:
                cov_skipped += 1
                continue
            if i and i % PROBE_EVERY == 0:
                _probe_point(f"coverage:{i}")
            fn, _ = REGISTRY[name]
            start = time.perf_counter()
            try:
                _materialize(fn(spark, sf_dir))
                coverage[name] = round(time.perf_counter() - start, 3)
            except Exception as exc:  # noqa: BLE001 — one bad query
                # must not cost the leg; the error is the datum
                errors[f"coverage:{name}"] = f"{type(exc).__name__}: {exc}"[:200]
            spark.catalog.clearCache()
            if i % 5 == 4:
                _jvm_gc(spark)
        _flush_details({"queries": timings, "spread": spread,
                        "coverage_queries": coverage,
                        "probe_trace": probe_trace, "partial": True})

    total = round(sum(timings.get(q, 0.0) for q in HEADLINE), 3)
    ext_total = round(sum(timings[q] for q in EXTENDED if q in timings), 3)
    corpus_total = round(sum(timings[q] for q in CORPUS if q in timings), 3)
    r5_total = round(sum(timings[q] for q in R5 if q in timings), 3)
    r6_total = round(sum(timings[q] for q in R6 if q in timings), 3)
    r6b_total = round(sum(timings[q] for q in R6B if q in timings), 3)
    r6c_total = round(sum(timings[q] for q in R6C if q in timings), 3)
    r7_total = round(sum(timings[q] for q in R7 if q in timings), 3)
    r8_total = round(sum(timings[q] for q in R8 if q in timings), 3)
    r9_total = round(sum(timings[q] for q in R9 if q in timings), 3)
    r11_total = round(sum(timings[q] for q in R11 if q in timings), 3)
    r12_total = round(sum(timings[q] for q in R12 if q in timings), 3)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    payload = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "reps": reps,
        "extended_total": ext_total,
        "corpus_total": corpus_total,
        "r5_total": r5_total,
        "r6_total": r6_total,
        "r6b_total": r6b_total,
        "r6c_total": r6c_total,
        "r7_total": r7_total,
        "r8_total": r8_total,
        "r9_total": r9_total,
        "r11_total": r11_total,
        "r12_total": r12_total,
        "sf": float(sf) if sf else None,
        # direct proof the session is sized from $SPARK_GRAFT_CPUS
        # (master local[N] -> defaultParallelism == N): r12 verdict #3
        "parallelism": spark.sparkContext.defaultParallelism,
    }
    if probe_trace:
        payload["calib"] = _calib_summary(probe_trace)
    if coverage or cov_skipped:
        payload["coverage"] = {
            "covered": len(coverage),
            "total_wall": round(sum(coverage.values()), 3),
        }
        if cov_skipped:
            payload["coverage"]["skipped_over_budget"] = cov_skipped
    if isolated is not None:
        payload["headline_isolated"] = isolated["value"]
    # scaling-evidence leg (fresh subprocess JVMs, two core counts;
    # see _scaling_evidence). Before the soak so the evidence lands
    # even if the soak budget dies; failure degrades to omission.
    if not headline_only and os.environ.get("SPARK_GRAFT_SCALING", "1") == "1":
        try:
            sc_ev = _scaling_evidence(
                sf_dir,
                budget=float(os.environ.get("SPARK_GRAFT_SCALING_BUDGET_S",
                                            "300")),
            )
        except Exception:  # noqa: BLE001 — evidence leg, never fatal
            sc_ev = None
        if sc_ev:
            payload["scaling"] = sc_ev
    _legs, _best_clean = _headline_legs(total, probe_trace, isolated,
                                        fresh_jvm_main=headline_only)
    if _legs:
        payload["headline_legs"] = _legs
        payload["headline_best_clean"] = _best_clean
    # 10x soak leg: same suite, one rep, at sf1, in a FRESH
    # subprocess/JVM (see _isolated_soak — sharing the suite's JVM
    # inflated string-shuffle-heavy soak entries 2-3x). Compact
    # evidence on stdout (totals + worst per-query scaling ratios vs
    # this run's sf0.1 medians); full per-query soak timings go to
    # BENCH_DETAILS.
    soak = None
    soak_detail: dict[str, float] = {}
    soak_payload: dict = {}
    soak_recheck: dict[str, dict] = {}
    sd = _soak_dir() if abs((float(sf) if sf else 0) - 0.1) < 1e-9 else None
    if sd:
        soak_budget = float(os.environ.get("SPARK_GRAFT_SOAK_BUDGET_S", "800"))
        skipped = 0
        fresh_jvm = True
        soak_t0 = time.perf_counter()
        # the suite is done with its session — stop it BEFORE spawning
        # the soak JVM so peak memory is ~one 24g heap, not two (a host
        # sized for one bench JVM would otherwise OOM-kill the soak
        # subprocess and silently fall back to the contaminated leg)
        spark.stop()
        try:
            soak_payload = _isolated_soak(sf_dir, soak_budget)
        except Exception:  # noqa: BLE001 — fall back to an in-process
            # leg rather than lose the round's scale evidence; the
            # replacement session is at least fresh (suite session is
            # stopped), even though the JVM is shared
            fresh_jvm = False
            spark = get_spark(
                "bench-soak-fallback",
                extra_conf={"spark.cleaner.periodicGC.interval": "45s"},
            )
            spark.sparkContext.setLogLevel("ERROR")
            soak_payload = _run_soak(spark, sd, soak_budget, sf01_dir=sf_dir)
        soak_detail = soak_payload.get("soak_queries", {})
        skipped = soak_payload.get("skipped", 0)
        rotation = {
            "cohort": soak_payload.get("rotation_cohort"),
            "cohort_size": soak_payload.get("rotation_cohort_size", 0),
            "covered": len(soak_payload.get("rotation_queries", {})),
            "total_wall": round(
                sum(soak_payload.get("rotation_queries", {}).values()), 3
            ),
        }
        if soak_payload.get("rotation_skipped"):
            rotation["skipped_over_budget"] = soak_payload["rotation_skipped"]
        # bonus leg (the other two cohorts on leftover budget): covered
        # count + wall ride the compact line; per-query walls land in
        # BENCH_DETAILS like the primary's
        if soak_payload.get("rotation_bonus_queries"):
            rotation["bonus_covered"] = len(
                soak_payload["rotation_bonus_queries"]
            )
            rotation["bonus_total_wall"] = round(
                sum(soak_payload["rotation_bonus_queries"].values()), 3
            )
        if soak_payload.get("rotation_bonus_skipped"):
            rotation["bonus_skipped_over_budget"] = soak_payload[
                "rotation_bonus_skipped"
            ]
        errors.update(soak_payload.get("soak_errors", {}))
        ratios = {
            q: round(soak_detail[q] / max(timings.get(q, 0.0), 1e-9), 1)
            for q in soak_detail
            if q in timings  # a query that errored all sf0.1 reps has
            # no denominator; its soak wall still lands in soak_queries
        }
        # rotation queries scale-check against their sf0.1 coverage
        # wall (single rep vs single rep) and feed the same >10x
        # self-audit as the suite — a coverage-leg query that goes
        # superlinear at sf1 deserves the identical adjudication
        for q, w in {
            **soak_payload.get("rotation_queries", {}),
            **soak_payload.get("rotation_bonus_queries", {}),
        }.items():
            if q in coverage:
                ratios[q] = round(w / max(coverage[q], 1e-9), 1)
        worst = dict(sorted(ratios.items(), key=lambda kv: -kv[1])[:3])
        soak = {
            "sf": 1.0,
            "copies_of_sf0.1": 10,
            "headline_total": round(
                sum(soak_detail[q] for q in HEADLINE if q in soak_detail), 3
            ),
            "suite_total": round(sum(soak_detail.values()), 3),
            "covered": len(soak_detail),
            "fresh_jvm": fresh_jvm,
            "worst_scaling_x": worst,
            "rotation": rotation,
            # cumulative committed sf1 record (SF1_WALLS.json): how
            # many registry queries have at least one shipped wall
            "sf1_record_total": len(_load_sf1_walls()),
        }
        if skipped:
            soak["skipped_over_budget"] = skipped
        if not fresh_jvm:
            # _run_soak stops its own (possibly recycled) session; this
            # stop of OUR original reference is a belt-and-braces no-op
            spark.stop()
        # self-audit: isolate-and-re-measure any >10x soak ratio so the
        # shipped record carries its own contamination check (full
        # pairs land in BENCH_DETAILS; the compact line gets the ratio).
        # The recheck spends only the soak budget's UNUSED remainder so
        # total bench wall never exceeds the pre-recheck envelope — a
        # driver-side timeout must not cost the round its stdout line
        # (the r3/r4 failure mode). Evidence so far is flushed first.
        _flush_details({**payload, "soak": soak, "spread": spread,
                        "soak_queries": soak_detail, "partial": True})
        # at least ~100s per >10x entry so EVERY outlier gets its audit
        # pair (the r7 run where the soak spent its whole budget left 2
        # of 3 outliers unadjudicated on the 150s floor; one recheck ≈
        # 60-100s: JVM + two-dir warmup + 2x2 reps); still bounded —
        # never more than 5 audits — so overrun beyond the soak
        # envelope stays capped, never unbounded
        n_out = sum(1 for x in ratios.values() if x > 10.0)
        recheck_budget = max(
            soak_budget - (time.perf_counter() - soak_t0),
            100.0 * min(n_out, 5),
        )
        soak_recheck = _recheck_outliers(sf_dir, ratios, budget=recheck_budget)
        if soak_recheck:
            soak["recheck_x"] = {
                q: v["isolated_x"] for q, v in soak_recheck.items()
            }
        payload["soak"] = soak
    # full detail (per-query [min,max] spread) goes to a side file; the
    # stdout line must stay small enough to survive tail-capture intact
    if errors:
        payload["errors"] = errors
    if not headline_only:
        _flush_details({**payload, "spread": spread, "soak_queries": soak_detail,
                        "soak_recheck": soak_recheck,
                        "probe_trace": probe_trace,
                        "coverage_queries": coverage,
                        # per-query rotation walls must survive the
                        # final flush (the r8 shakedown run lost them
                        # to this very overwrite)
                        "soak_rotation": {
                            "cohort": soak_payload.get("rotation_cohort"),
                            "cohort_size":
                                soak_payload.get("rotation_cohort_size", 0),
                            "queries":
                                soak_payload.get("rotation_queries", {}),
                            "bonus_queries":
                                soak_payload.get(
                                    "rotation_bonus_queries", {}
                                ),
                        },
                        "headline_isolated_queries":
                            (isolated or {}).get("queries", {})})
    line = json.dumps(payload, separators=(",", ":"))
    if len(line) > 1800:
        # drop the slowest-changing detail first rather than emit an
        # unparseable line: keep only the headline per-query timings
        payload["queries"] = {q: timings[q] for q in HEADLINE if q in timings}
        payload["queries_truncated_see"] = "BENCH_DETAILS.json"
        line = json.dumps(payload, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
