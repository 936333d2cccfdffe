"""Physical-plan regression tests: the scale properties the engine
claims (broadcasts, pushdown, top-k without global sort, no cartesian
products) are asserted against the ACTUAL executed plans, so a future
edit that silently degrades a plan fails here — not at 100 TB.
"""

from __future__ import annotations

import os

import pytest

from breweries_data_pipeline_spark.queries import REGISTRY


def _plan(spark, sf_dir, name: str) -> str:
    df = REGISTRY[name][0](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_broadcast_join_plan_broadcasts_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_join_broadcast")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_topk_global_avoids_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_topk_global")
    assert "TakeOrderedAndProject" in plan


def test_pricing_summary_pushes_filter_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_disjunctive_pred_pushes_per_side_conjuncts(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_disjunctive_pred")
    # the OR-bracket must reach BOTH scans as data filters, not sit
    # above the join as a residual-only filter
    assert plan.count("l_quantity") >= 2
    assert "PushedFilters" in plan


def test_exists_decorrelates_to_semi_join(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_exists_orders")
    assert "LeftSemi" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_groupby_count_2key")
    # grouping two lineitem columns must not read the rest of the wide
    # table; the scan's ReadSchema shows the pruned projection
    assert "l_extendedprice" not in plan
    assert "l_returnflag" in plan


def test_asof_forward_uses_window_not_cogroup(spark, sf_dir):
    # the forward as-of must stay on the union + carry-forward-window
    # plan: one AQE-splittable exchange, no per-key pandas task
    plan = _plan(spark, sf_dir, "q_asof_next")
    assert "InPandas" not in plan
    assert "Window" in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    ["q_similarity_ann", "q_similarity_topk", "q_dedup_embedding", "q_tfidf"],
)
def test_no_cartesian_products_anywhere(spark, sf_dir, name):
    plan = _plan(spark, sf_dir, name)
    assert "CartesianProduct" not in plan


def test_decontaminate_broadcasts_benchmark_shingles(spark, sf_dir):
    # the benchmark shingle set and the contaminated-id set are both
    # broadcast — the corpus never shuffles its text
    plan = _plan(spark, sf_dir, "q_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_shuffle_shards_sorts_per_shard_not_globally(spark, sf_dir):
    # the permutation materializes via hashpartitioning(shard) + a
    # per-shard sort; a global (rangepartitioning) sort would bottleneck
    plan = _plan(spark, sf_dir, "q_shuffle_shards")
    assert "hashpartitioning(shard" in plan
    assert "rangepartitioning" not in plan


def test_waiting_suppliers_decorrelates_both_subqueries(spark, sf_dir):
    # EXISTS -> LeftSemi, NOT EXISTS -> LeftAnti, no nested-loop blowup
    plan = _plan(spark, sf_dir, "q_waiting_suppliers")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_volume_shipping_broadcasts_both_nation_sides(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_volume_shipping")
    assert plan.count("BroadcastHashJoin") >= 3  # supplier + 2 nations
    assert "CartesianProduct" not in plan


def test_whole_stage_codegen_covers_flagship(spark, sf_dir):
    # codegen spans only materialize in the FINAL adaptive plan, so
    # execute first, then read the same query execution back
    df = REGISTRY["q_pricing_summary"][0](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # codegen spans print as "*(n) Operator" in the final plan
    assert "*(1)" in plan and "HashAggregate" in plan


def test_market_share_broadcasts_all_dims(spark, sf_dir):
    # TPC-H Q8 shape: every dimension (part, supplier, both nation
    # roles, region) must broadcast; no cartesian anywhere
    plan = _plan(spark, sf_dir, "q_market_share")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_substring_dedup_is_equijoin_only(spark, sf_dir):
    # the dup-set flag join must be an equi-join on the gram
    # fingerprint — never a cartesian pairing of windows
    for name in ("q_repeated_ngrams", "q_substring_dedup_stats"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan


def test_gopher_quality_is_narrow_map(spark, sf_dir):
    # the heuristic bundle is per-row arithmetic: zero exchanges —
    # at 100 TB it streams over the scan with no shuffle at all
    plan = _plan(spark, sf_dir, "q_gopher_quality")
    assert "Exchange" not in plan


def test_funnel_single_shuffle(spark, sf_dir):
    # three chained windows + the closing aggregate all share the
    # user_id partitioning: exactly one shuffle exchange
    plan = _plan(spark, sf_dir, "q_funnel_steps")
    import re

    shuffles = len(re.findall(r"Exchange hashpartitioning", plan))
    assert shuffles == 1, f"expected 1 shuffle, got {shuffles}"


def test_scd2_single_shuffle(spark, sf_dir):
    # both windows share partitioning AND sort order: one exchange,
    # and the second window must not re-sort
    plan = _plan(spark, sf_dir, "q_scd2_intervals")
    import re

    shuffles = len(re.findall(r"Exchange hashpartitioning", plan))
    assert shuffles == 1, f"expected 1 shuffle, got {shuffles}"


def test_pagerank_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q_pagerank_nations")
    assert "CartesianProduct" not in plan


# queries that deliberately cross-join a BROADCAST 1-row / tiny-dim
# side (scalar-aggregate attach, small grids) — the safe pattern;
# anything else going cartesian is a regression
_CROSS_JOIN_OK = {
    "q_volume_shipping",   # 25x25 nation grid, broadcast
    "q_gapfill",           # 24 x k hour/type grid, broadcast
    "q_sales_opportunity", # 1-row avg-balance attach, broadcast
    "q_important_parts",   # 1-row threshold attach, broadcast
    "q_priority_share",    # 1-row total attach, broadcast
    "q_minmax_scale",      # 1-row stats attach, broadcast
    "q_zorder_key",        # 1-row bounds attach, broadcast
}


def test_whole_registry_plan_hygiene(spark, sf_dir):
    """Global scale-hygiene sweep: EVERY registry query's physical
    plan must be free of (a) cartesian products — except whitelisted
    broadcast-tiny attaches, which must still show as
    BroadcastNestedLoopJoin, never CartesianProduct — and (b)
    row-at-a-time Python UDFs (BatchEvalPython); Python is allowed
    only Arrow-vectorized (ArrowEvalPython / mapInPandas /
    cogroup).

    Every registry entry must yield a buildable batch plan; entries
    that legitimately cannot (none today — the streaming queries all
    build their availableNow drain plans fine) go in the explicit
    allowlist below. A bare skip-on-exception would let a genuinely
    broken query silently escape both sweeps."""
    _BUILD_EXEMPT: set[str] = set()  # names allowed to throw at plan build
    failures = []
    for name, (fn, _) in sorted(REGISTRY.items()):
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        except Exception as e:
            if name in _BUILD_EXEMPT:
                continue
            failures.append(f"{name}: plan build raised {type(e).__name__}: {e}")
            continue
        if "CartesianProduct" in plan and name not in _CROSS_JOIN_OK:
            failures.append(f"{name}: CartesianProduct")
        if "BatchEvalPython" in plan:
            failures.append(f"{name}: row-at-a-time Python UDF")
    assert not failures, failures


def test_substring_dedup_counts_aggregate_partially(spark, sf_dir):
    # the skew-immunity claim: gram counts must partial-aggregate
    # map-side (HashAggregate[partial_count] BELOW the exchange), so a
    # Zipfian top gram collapses to one row per map task instead of
    # co-locating every occurrence on one reducer
    plan = _plan(spark, sf_dir, "q_substring_dedup_stats")
    assert "partial_count" in plan
    assert "Window" not in plan


def test_aqe_splits_skewed_join(spark):
    """Executed proof of the engine's skew posture: under AQE, a
    95%-one-key join is runtime-replanned as SortMergeJoin(skew=true)
    — the hot partition is split instead of serializing onto one
    task. This is the mitigation the flag-joins in the dedup family
    rely on (SCALE.md, Dedup section). Thresholds are shrunk so the
    tiny test corpus trips the same replan a real skewed shuffle
    would — and restored afterwards, since the session is shared."""
    from pyspark.sql import functions as F

    overrides = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        left = spark.range(0, 400_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.col("id").alias("payload"),
        )
        right = spark.range(0, 10_000).select(
            F.col("id").alias("k"), F.lit("x").alias("v")
        )
        j = left.join(right, "k")
        assert len(j.collect()) > 0
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_persist_goes_through_tracked_helper():
    """Every persist of an intermediate that OUTLIVES its function (it
    feeds branches of the returned lazy plan) must route through
    cache.track_persist so release_caches() can drop the accumulated
    caches in long library sessions (r6 advice: 13 persists, 1
    unpersist = leak for any non-bench caller; r7 advice: the heaviest
    caches are OPERATOR-level — signature/shingle/band tables — so the
    tracker scans the whole package, not just queries.py). A bare
    .persist() is allowed only when the same function unpersists it
    (self-managed frontier loops) — enforced per-function below."""
    import ast
    import inspect

    import breweries_data_pipeline_spark as pkg

    root = os.path.dirname(inspect.getfile(pkg))
    offenders = []
    for dirpath, _, files in os.walk(root):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            with open(path) as f:
                tree = ast.parse(f.read(), filename=path)
            for fn in ast.walk(tree):
                if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                calls = [
                    n for n in ast.walk(fn)
                    if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
                ]
                n_persist = sum(1 for c in calls if c.func.attr == "persist")
                n_unpersist = sum(1 for c in calls if c.func.attr == "unpersist")
                if n_persist and fn.name != "track_persist" and n_unpersist < n_persist:
                    offenders.append(
                        f"{os.path.relpath(path, root)}:{fn.lineno} {fn.name} "
                        f"({n_persist} persist, {n_unpersist} unpersist)"
                    )
    assert offenders == [], (
        "bare .persist() without matching in-function unpersist (route "
        f"through cache.track_persist instead): {offenders}"
    )


def test_release_caches_drops_all_cached_rdds(spark, sf_dir):
    """Functional check: run a persist-heavy query, materialize it,
    then release_caches() must leave zero cached RDD blocks behind."""
    from breweries_data_pipeline_spark.queries import REGISTRY, release_caches

    def rdd_ids():
        return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}

    release_caches()  # drop anything earlier tests left tracked
    before = rdd_ids()
    df = REGISTRY["q_cms_frequencies"][0](spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    assert release_caches() >= 1
    leaked = rdd_ids() - before
    assert leaked == set(), leaked


def test_bucketed_rank_offsets_join_is_broadcast(spark, sf_dir):
    """The bucket-offset ranking's scale contract: the offsets table
    (groups x buckets rows) joins back BROADCAST — a shuffled join
    here would reintroduce a corpus-sized exchange and defeat the
    scheme. Checked on a rewritten query that uses it end-to-end."""
    plan = _plan(spark, sf_dir, "q_quantile_normalize")
    assert "BroadcastHashJoin" in plan
    # and the heavy sort runs within (group, bucket), never per group
    # alone: the local window's partition key includes the bucket
    assert "__bk" in plan


def test_panel_head_shape():
    """The driver's CORRECTNESS gate oracles exactly the first 50
    entries of __spark_entry__.queries(). The panel head (10 pinned
    flagships + 40 rotating slots) must therefore be: exactly 50
    unique names, every one registered, every one carrying a FULL
    DuckDB oracle (no rows-only in the head), actually emitted first
    by queries()/oracle_sql(), with every pinned flagship present and
    every rotating slot drawn from queries with no green row in any
    shipped CORRECTNESS file (until that pool dries up)."""
    from __spark_entry__ import (
        PANEL_PINNED,
        PANEL_PRIORITY,
        _certified_green,
        _panel_head,
        oracle_sql,
        queries,
    )

    head = list(_panel_head())

    assert len(head) == 50
    assert len(set(head)) == 50
    assert all(n in REGISTRY for n in head)
    # full oracle for every head entry — the panel must be 50/50 oracled
    assert all(REGISTRY[n][1] is not None for n in head)
    q = list(queries())
    assert q[:50] == head
    # nothing lost or duplicated by the reorder
    assert len(q) == len(REGISTRY) and set(q) == set(REGISTRY)
    # oracle_sql preserves the same relative order (driver zips by key)
    o = list(oracle_sql())
    assert o == [n for n in q if REGISTRY[n][1] is not None]
    # the pinned flagships lead the panel, in order
    assert head[: len(PANEL_PINNED)] == PANEL_PINNED
    flagships = {
        "q_dedup_text", "q_minhash_lsh", "q_similarity_topk",
        "q_png_decode", "q_corpus_funnel_buckets",
        "q_streaming_late_drop",
    }
    assert flagships <= set(PANEL_PINNED)
    # the r10 pinned shrink (30 -> 10) must never drop a flagship that
    # lacks a shipped green row: every demoted name stays certified
    demoted = {
        "q_scan_corrupt", "q_dedup_by_key", "q_dropna_required",
        "q_normalize_strings", "q_quality_not_null",
        "q_agg_declarative", "q_rollup", "q_topk_per_group",
        "q_text_stats", "q_dedup_lsh_buckets", "q_dedup_neardup",
        "q_sentence_dedup", "q_similarity_join_exact",
        "q_semantic_dedup", "q_dedup_embedding", "q_kmeans_lloyd2",
        "q_bpe_learn", "q_bpe_encode", "q_decontaminate",
        "q_pii_redact",
    }
    assert demoted <= _certified_green(), sorted(
        demoted - _certified_green()
    )
    # rotating slots: the r12 priority lane (fresh late-registered
    # names jumping the alphabetical queue) first, then
    # never-green-certified in name order
    certified = _certified_green()
    rotating = head[len(PANEL_PINNED):]
    priority = [
        n for n in PANEL_PRIORITY
        if n in REGISTRY and REGISTRY[n][1] is not None
        and n not in set(PANEL_PINNED) and n not in certified
    ]
    assert rotating[: len(priority)] == priority
    rotating = rotating[len(priority):]
    pool = sorted(
        n for n in REGISTRY
        if REGISTRY[n][1] is not None
        and n not in set(PANEL_PINNED)
        and n not in certified
        and n not in set(priority)
    )
    expect = pool[: len(rotating)]
    if len(expect) == len(rotating):  # pool not yet dry
        assert rotating == expect
    else:  # dry pool: refill comes from the certified remainder
        assert rotating[: len(expect)] == expect


def test_winnow_dedup_candidates_are_equi_join(spark, sf_dir):
    """q_winnow_dedup's candidate generation must be an equi-join on
    the 8-byte fingerprint key — the df-capped blocking contract:
    never a CartesianProduct / non-equi join, whatever the corpus."""
    plan = _plan(spark, sf_dir, "q_winnow_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # ONE Arrow kernel pass: size(fps) + explode(fps) folded into a
    # single generator expression — a two-consumer spelling duplicates
    # the UDF into two stacked ArrowEvalPython stages, visible as TWO
    # distinct pythonUDF result slots. (Raw substring counts double-
    # count: the persisted lineage prints under both self-join sides.)
    import re

    assert len(set(re.findall(r"pythonUDF\d+#\d+", plan))) == 1


def test_lsh_recall_audit_sampled_pushes_sample_to_scan(spark, sf_dir):
    """The 1/3 md5-bucket sample must reach BOTH sides (truth + LSH)
    as a filter below everything expensive — one sampled scan lineage,
    no full-corpus shingle work anywhere in the plan."""
    plan = _plan(spark, sf_dir, "q_lsh_recall_audit_sampled")
    assert "CartesianProduct" not in plan
    # the deterministic md5-bucket predicate appears as a real Filter
    assert plan.count("md5") >= 1 and "Filter" in plan


def test_lang_segments_single_doc_exchange(spark, sf_dir):
    """q_lang_segments: the lag window, running-sum window, and final
    aggregate all key on doc_id — ONE exchange serves the whole
    pipeline (Spark reuses the hashpartitioning(doc_id) across the
    windows and the partial-aggregated groupBy)."""
    plan = _plan(spark, sf_dir, "q_lang_segments")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan


def test_cdc_containment_single_kernel_and_equi_join(spark, sf_dir):
    """q_cdc_containment: the fingerprint arrays persist once and feed
    both sides of the consecutive-pair join — one distinct Arrow UDF
    slot, and the join is an equi-join on doc_id."""
    import re

    plan = _plan(spark, sf_dir, "q_cdc_containment")
    assert len(set(re.findall(r"pythonUDF\d+#\d+", plan))) == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kcore_peel_is_zero_writeback_broadcast_probes(spark, sf_dir):
    """The k-core scale contract: every per-round node filter is a
    BROADCAST left-semi probe (a >10 MB keep set must never flip the
    filter to a full-edge-list SortMergeJoin — the r7 sf10 cliff), and
    the returned plan hangs off checkpointed inputs with NO cartesian
    and no shuffled join anywhere."""
    plan = _plan(spark, sf_dir, "q_kcore")
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bfs_broadcasts_frontier_and_settled_set(spark, sf_dir):
    """BFS joins are node-sided broadcasts: the frontier-edge probe and
    the settled-set anti-join must both be BroadcastHashJoins — past
    the auto-threshold a silent SortMergeJoin would shuffle the full
    edge list every hop."""
    from breweries_data_pipeline_spark.operators.graph import bfs_distances
    from breweries_data_pipeline_spark.sources import read_table
    from pyspark.sql import functions as F

    li = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select("l_orderkey", F.col("l_partkey").alias("src"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("dst"))
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    probes: list = []
    out = bfs_distances(edges, 1, max_hops=2, canonical=True, plan_probe=probes)
    # the RETURNED plan is a union of checkpointed hops (no joins left
    # in it — asserting absence there is vacuous); the contract lives
    # in the per-hop pre-checkpoint plans the probe captured
    union_plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in union_plan  # hops really are checkpointed
    assert probes, "plan probe captured no hop plans"
    for plan in probes:
        # positive shape, not just absence: a BroadcastNestedLoopJoin
        # (or any other shape) must not satisfy the broadcast contract
        assert "BroadcastHashJoin" in plan
        assert "LeftAnti" in plan  # the settled-set exclusion probe
        assert "SortMergeJoin" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan


def _formatted_plan(df) -> str:
    jq = df._jdf.queryExecution()
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return jq.explainString(mode)


def test_sentence_dedup_fp_rank_exchange_carries_no_text(spark, sf_dir):
    """The fingerprint-before-exchange contract, asserted on the
    physical plan: q_sentence_dedup_fp's rank shuffle (the exchange
    hash-partitioned on the sentence fingerprint) must carry ONLY
    (fp, doc_id, pos) — if a future edit lets the sentence string (or
    the document text) ride through, the 100 TB shuffle quietly grows
    ~10x and nothing else fails. Formatted explain lists each node's
    Input columns, so the assertion reads the exchange's actual
    payload, not the query's intent. Also locks WindowGroupLimit:
    Spark's rank-limit pushdown keeps only rn=1 candidates per
    partition BEFORE the full window materializes — losing it would
    buffer every duplicate sentence group in the sort."""
    from breweries_data_pipeline_spark.queries import REGISTRY

    df = REGISTRY["q_sentence_dedup_fp"][0](spark, sf_dir)
    fmt = _formatted_plan(df)
    # node blocks are separated by blank lines; find every Exchange
    blocks = [
        b
        for b in fmt.split("\n\n")
        if any(") Exchange" in ln for ln in b.splitlines()[:1])
    ]
    rank_ex = [b for b in blocks if "hashpartitioning(__fp" in b]
    assert rank_ex, f"no fingerprint-keyed exchange found:\n{fmt[:2000]}"
    for b in rank_ex:
        inp = next(ln for ln in b.splitlines() if ln.startswith("Input"))
        assert "sent" not in inp and "text" not in inp, (
            "sentence/text bytes crossing the rank exchange:\n" + b
        )
    assert "WindowGroupLimit" in fmt


def test_fingerprint_index_prefix_moves_longs_not_strings(spark, sf_dir):
    """The prefix-filter family's one shingle form is the xxhash64
    fingerprint: every table build_shingle_index returns (prefix,
    sets, freq) and every table prefix_filtered_similarity_join
    persists (its sets and prefix) must carry the shingle as an 8-byte
    LONG — the step that halved sf3 spill. Schema-asserted so a
    regression to raw strings fails here, not in a 100 TB shuffle
    bill."""
    from pyspark.sql import types as T

    from breweries_data_pipeline_spark import cache
    from breweries_data_pipeline_spark.operators.dedup import (
        build_shingle_index,
        prefix_filtered_similarity_join,
    )
    from breweries_data_pipeline_spark.sources import read_table

    docs = read_table(spark, sf_dir, "documents").limit(200)
    idx = build_shingle_index(docs, threshold=0.5)
    assert isinstance(idx.prefix.schema["shingle"].dataType, T.LongType)
    assert isinstance(idx.freq.schema["shingle"].dataType, T.LongType)
    assert isinstance(idx.sets.schema["shingles"].dataType.elementType, T.LongType)

    n_before = len(cache._TRACKED_CACHES)
    prefix_filtered_similarity_join(docs, threshold=0.5)
    persisted = [df.schema for df in cache._TRACKED_CACHES[n_before:]]
    sets = [s for s in persisted if "shingles" in s.fieldNames()]
    prefix = [s for s in persisted if "shingle" in s.fieldNames()]
    assert len(sets) == 1 and len(prefix) == 1, persisted
    assert isinstance(sets[0]["shingles"].dataType.elementType, T.LongType)
    assert isinstance(prefix[0]["shingle"].dataType, T.LongType)
    cache.release_caches()


def test_bitext_mine_reuses_persisted_candidates(spark, sf_dir):
    """q_bitext_mine's scale contract: the candidate/cosine table is
    computed ONCE and read by its three consumers (both neighborhood
    windows and the margin join) — the executed plan must show the
    in-memory relation at all three read sites, and candidate
    generation must stay an equi-join (no cartesian, no
    nested-loop)."""
    plan = _plan(spark, sf_dir, "q_bitext_mine")
    assert plan.count("InMemoryTableScan") >= 3, plan[:1500]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# Plan budget of the LSH dedup compositions at sf0.001: node counts
# over every SQL execution a query triggers, with the cached subplans
# counted at each read site. Planned with AQE off so the counts are the
# static plan shape; AQE's runtime replanning depends on which stages
# finish first. The two keep-min queries run two executions: connected
# components' edge probe, which labels these small graphs on the
# driver, and the anti-join against the local drop table.
_LSH_PLAN_BUDGET = {
    "q_neardup_buckets_minhash": {
        "Exchange": 4, "BroadcastExchange": 2, "BroadcastHashJoin": 2,
        "SortMergeJoin": 0, "ArrowEvalPython": 2, "InMemoryTableScan": 3,
    },
    "q_dedup_lsh_buckets": {
        "Exchange": 5, "BroadcastExchange": 4, "BroadcastHashJoin": 4,
        "SortMergeJoin": 0, "ArrowEvalPython": 0, "InMemoryTableScan": 3,
    },
    "q_minhash_lsh": {
        "Exchange": 7, "BroadcastExchange": 4, "BroadcastHashJoin": 5,
        "SortMergeJoin": 0, "ArrowEvalPython": 0, "InMemoryTableScan": 7,
    },
}

# The same budget for the users of the nearest-centroid step
# (operators/similarity.py), counted the same way. The k-means E-steps
# run the exact-fold lane, a per-row map with no Exchange:
# q_kmeans_assign's 3 are the seed sort, the cluster aggregate and the
# final sort; q_kmeans_lloyd2's 6 are the seed sort, the M-step's two
# aggregates and centroid sort, and the final aggregate and sort.
# q_similarity_join_exact (the self-join) and q_neardup_incremental (a
# batch against an in-memory index) add the prefix-filter step
# (operators/dedup.py _verified_prefix_pairs).
_SIMILARITY_PLAN_BUDGET = {
    "q_kmeans_assign": {
        "Exchange": 3, "BroadcastExchange": 0, "BroadcastHashJoin": 0,
        "SortMergeJoin": 0, "ArrowEvalPython": 0, "InMemoryTableScan": 0,
    },
    "q_kmeans_lloyd2": {
        "Exchange": 6, "BroadcastExchange": 0, "BroadcastHashJoin": 0,
        "SortMergeJoin": 0, "ArrowEvalPython": 0, "InMemoryTableScan": 0,
    },
    "q_semantic_dedup": {
        "Exchange": 7, "BroadcastExchange": 3, "BroadcastHashJoin": 4,
        "SortMergeJoin": 1, "ArrowEvalPython": 4, "InMemoryTableScan": 0,
    },
    "q_similarity_ivf": {
        "Exchange": 3, "BroadcastExchange": 1, "BroadcastHashJoin": 1,
        "SortMergeJoin": 0, "ArrowEvalPython": 5, "InMemoryTableScan": 0,
    },
    "q_similarity_pq": {
        "Exchange": 10, "BroadcastExchange": 2, "BroadcastHashJoin": 2,
        "SortMergeJoin": 0, "ArrowEvalPython": 10, "InMemoryTableScan": 15,
    },
    "q_bitext_mine": {
        "Exchange": 7, "BroadcastExchange": 3, "BroadcastHashJoin": 3,
        "SortMergeJoin": 2, "ArrowEvalPython": 3, "InMemoryTableScan": 3,
    },
    "q_similarity_join_exact": {
        "Exchange": 4, "BroadcastExchange": 4, "BroadcastHashJoin": 5,
        "SortMergeJoin": 0, "ArrowEvalPython": 0, "InMemoryTableScan": 7,
    },
    "q_neardup_incremental": {
        "Exchange": 8, "BroadcastExchange": 3, "BroadcastHashJoin": 4,
        "SortMergeJoin": 2, "ArrowEvalPython": 0, "InMemoryTableScan": 7,
    },
}


# The same budget for the exact-duplicate collapses, counted the same
# way. Every keep-the-smallest-id pass is one min-id hash aggregate
# (operators/clean.py min_id_groups): a partial and a final
# HashAggregate around one Exchange, never a row-number Window or a
# SortAggregate. The Windows left in q_neardup_index_fp are the index
# prefix cut and the best-match ranking, not collapses.
_EXACT_DEDUP_PLAN_BUDGET = {
    "q_corpus_funnel": {
        "Exchange": 19, "BroadcastExchange": 11, "BroadcastHashJoin": 12,
        "SortMergeJoin": 1, "Window": 0, "SortAggregate": 0, "HashAggregate": 32,
    },
    "q_dedup_embedding": {
        "Exchange": 10, "BroadcastExchange": 9, "BroadcastHashJoin": 9,
        "SortMergeJoin": 1, "Window": 0, "SortAggregate": 0, "HashAggregate": 18,
    },
    "q_dedup_incremental": {
        "Exchange": 2, "BroadcastExchange": 2, "BroadcastHashJoin": 2,
        "SortMergeJoin": 0, "Window": 0, "SortAggregate": 0, "HashAggregate": 4,
    },
    "q_dedup_neardup": {
        "Exchange": 8, "BroadcastExchange": 7, "BroadcastHashJoin": 8,
        "SortMergeJoin": 0, "Window": 0, "SortAggregate": 0, "HashAggregate": 10,
    },
    "q_dedup_salted": {
        "Exchange": 1, "BroadcastExchange": 0, "BroadcastHashJoin": 0,
        "SortMergeJoin": 0, "Window": 0, "SortAggregate": 0, "HashAggregate": 2,
    },
    "q_dedup_text": {
        "Exchange": 1, "BroadcastExchange": 0, "BroadcastHashJoin": 0,
        "SortMergeJoin": 0, "Window": 0, "SortAggregate": 0, "HashAggregate": 2,
    },
    "q_neardup_index_fp": {
        "Exchange": 16, "BroadcastExchange": 7, "BroadcastHashJoin": 7,
        "SortMergeJoin": 1, "Window": 4, "SortAggregate": 0, "HashAggregate": 22,
    },
}


def _plan_node_counts(spark, sf_dir, name, nodes):
    """Count the named plan nodes over every SQL execution that running
    the registry query ``name`` triggers, planned with AQE off."""
    from breweries_data_pipeline_spark.queries import release_caches

    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def execution_ids():
        bus.waitUntilEmpty()
        lst = store.executionsList()
        return {lst.apply(i).executionId() for i in range(lst.size())}

    release_caches()
    spark.catalog.clearCache()
    before = execution_ids()
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        REGISTRY[name][0](spark, sf_dir).write.format("noop").mode("overwrite").save()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    counts = dict.fromkeys(nodes, 0)
    for eid in sorted(execution_ids() - before):
        graph_nodes = store.planGraph(eid).allNodes()
        for i in range(graph_nodes.size()):
            node = graph_nodes.apply(i).name()
            if node in counts:
                counts[node] += 1
    release_caches()
    return counts


@pytest.mark.parametrize("name", sorted(_LSH_PLAN_BUDGET))
def test_lsh_dedup_plan_budget(spark, sf_dir, name):
    budget = _LSH_PLAN_BUDGET[name]
    assert _plan_node_counts(spark, sf_dir, name, budget) == budget


@pytest.mark.parametrize("name", sorted(_SIMILARITY_PLAN_BUDGET))
def test_similarity_plan_budget(spark, sf_dir, name):
    budget = _SIMILARITY_PLAN_BUDGET[name]
    assert _plan_node_counts(spark, sf_dir, name, budget) == budget


@pytest.mark.parametrize("name", sorted(_EXACT_DEDUP_PLAN_BUDGET))
def test_exact_dedup_plan_budget(spark, sf_dir, name):
    budget = _EXACT_DEDUP_PLAN_BUDGET[name]
    assert _plan_node_counts(spark, sf_dir, name, budget) == budget


def _plan_nodes(df) -> "Counter[str]":
    """Node names of ``df``'s executed plan, one count per node."""
    import re
    from collections import Counter

    plan = df._jdf.queryExecution().executedPlan().toString()
    return Counter(re.findall(r"^[\s+\-:|]*(?:\*\(\d+\) )?(\w+)", plan, re.M))


def test_gold_views_plan_one_scan_and_listing_stays_on_driver(spark, tmp_path):
    """Gold over a silver table partitioned into 40 state directories
    (more than the 32 at which partition discovery turns into a Spark
    job): every declared view comes from one parquet scan, one Expand
    and one Exchange, and a local session lists the directories on the
    driver, with no listing job."""
    from pyspark.sql import functions as F

    from breweries_data_pipeline_spark.operators.aggregate import aggregate_views

    silver = str(tmp_path / "silver")
    spark.range(400).select(
        F.format_string("s%02d", F.col("id") % 40).alias("state"),
        F.when(F.col("id") % 3 == 0, None).otherwise(F.lit("micro")).alias("brewery_type"),
        F.lit("us").alias("country"),
    ).write.partitionBy("state", "country").parquet(silver)

    sc = spark.sparkContext
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    local_threshold = spark.conf.get(key)
    schema = spark.read.parquet(silver).schema

    def listing_jobs(threshold: str) -> int:
        group = f"silver-listing-{threshold}"
        spark.conf.set(key, threshold)
        sc.setJobGroup(group, "partition discovery")
        try:
            # an explicit schema leaves listing as the read's only job
            spark.read.schema(schema).parquet(silver)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            spark.conf.set(key, local_threshold)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert listing_jobs("32") >= 1
    assert listing_jobs(local_threshold) == 0

    count = [{"name": "brewery_count", "expr": "count(*)"}]
    specs = [
        {"name": "by_state", "group_by": ["state"], "metrics": count},
        {"name": "by_type", "group_by": ["brewery_type"], "metrics": count},
        {"name": "by_country_type", "group_by": ["country", "brewery_type"],
         "metrics": count},
    ]
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        gold = aggregate_views(spark.read.parquet(silver), specs, stamp_value="2025-01-01")
        nodes = _plan_nodes(gold)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert (nodes["FileScan"], nodes["Expand"], nodes["Exchange"]) == (1, 1, 1)
    assert gold.count() == 40 + 2 + 2
