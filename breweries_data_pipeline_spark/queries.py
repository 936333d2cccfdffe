"""Query registry: every operator from SURVEY.md §2, exercised on the
driver testdata, each paired with a DuckDB oracle SQL string.

Registry shape: ``REGISTRY[name] = (spark_fn, oracle_sql_or_None)``
where ``spark_fn(spark, sf_dir) -> DataFrame``. ``__spark_entry__``
orders it into the ``queries()`` / ``oracle_sql()`` entry points.

Cross-engine determinism rules used throughout (FIXTURES.md):
- every computed column aliased identically in Spark and SQL
- floating-point SUMs accumulate in DECIMAL (exact, order-independent)
  then cast to double, so both engines produce bit-identical doubles
- AVGs are written as exact-sum / count, never engine-native avg
- explicit tie-break columns on every ranking/limit
- timestamps leave the engine as formatted strings
- literal stamps are injected constants, never now()/today()
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from breweries_data_pipeline_spark.operators import (
    add_literal,
    aggregate_views,
    cast_columns,
    deduplicate,
    declarative_aggregate,
    drop_null_required,
    grouped_count,
    min_id_groups,
    normalize_strings,
    rules_dataframe,
)
from breweries_data_pipeline_spark.functions.text import (
    STOPWORDS_EN,
    ngram_jaccard,
    shingles,
    tokens,
)
from breweries_data_pipeline_spark.operators.dedup import (
    _ensure_parallelism,
    exact_dedup,
    jaccard_pairs,
    keep_component_min,
    lsh_band_keys,
    lsh_bucket_star_edges,
    lsh_bucket_stars,
    lsh_candidate_pairs,
    md5_minhash_signatures,
    near_dedup_incremental,
    near_dedup_lsh_buckets,
    near_dedup_minhash,
    simhash_near_dup_pairs,
    simhash_pairs,
    verified_near_dup_pairs,
)
from breweries_data_pipeline_spark.operators.joins import anti_join, dim_join, semi_join
from breweries_data_pipeline_spark.operators.similarity import ann_topk, cosine_topk
from breweries_data_pipeline_spark.operators.text import (
    language_profile,
    with_fingerprint,
    with_lang_id,
    with_quality_score,
)
from breweries_data_pipeline_spark.operators.windows import (
    event_time_window_agg,
    topk_global,
    topk_per_group,
)
from breweries_data_pipeline_spark.sources import (
    json_fixture_from_events,
    read_json,
    read_table,
)

QueryFn = Callable[[SparkSession, str], DataFrame]
REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}

# injected stamp value (reference uses date.today(); we pin for replay)
STAMP_DATE = "2025-01-01"


def register(name: str, oracle: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        # a duplicate registration would silently shadow the earlier
        # query (and its oracle) — fail loudly at import time instead
        if name in REGISTRY:
            raise ValueError(f"duplicate registry name: {name}")
        REGISTRY[name] = (fn, oracle)
        return fn

    return deco


# Intra-query reuse caches: every persist() of an intermediate that
# feeds multiple branches of a RETURNED (lazy) plan goes through the
# package-wide tracker in breweries_data_pipeline_spark.cache — shared
# with the operator modules (dedup/similarity/graph), whose signature
# and shingle tables are the heaviest caches — so one release_caches()
# call drops everything a long library session accumulated; scratch
# catalog tables that a returned plan reads register the same way.
from breweries_data_pipeline_spark.cache import (  # noqa: E402,F401
    release_caches,
    track_persist as _persist,
    track_table as _track_table,
)


def _session_table_prefix(spark: SparkSession, base: str) -> str:
    """``base`` suffixed with the session's applicationId (every
    character outside ``[0-9A-Za-z_]`` mapped to ``_``), so two
    processes that run the same table-writing query from one checkout
    write distinct catalog tables instead of overwriting each other's."""
    import re

    return f"{base}_{re.sub(r'[^0-9A-Za-z_]', '_', spark.sparkContext.applicationId)}"


# drain-scratch hygiene: streaming queries drop their checkpoint dirs
# once the memory sink holds the result (a stream-stream join leaves
# ~200 MB of state-store files per drain otherwise — see
# streaming.windows.drop_scratch)
from breweries_data_pipeline_spark.streaming.windows import (  # noqa: E402
    drop_scratch as _drop_scratch,
)


# ---------------------------------------------------------------------------
# §2.1 scans
# ---------------------------------------------------------------------------


@register(
    "q_scan_parquet",
    """
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem WHERE l_quantity < 10
    """,
)
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 parquet scan with projection+filter that reach the reader
    (PushedFilters / 3-column ReadSchema)."""
    return (
        read_table(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity") < 10)
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


@register(
    "q_scan_json_infer",
    "SELECT event_id, event_type, user_id FROM events WHERE event_id < 1000",
)
def q_scan_json_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 JSON scan with schema inference (reference Bronze read,
    breweries_fetch_bronze_notebook.py:96-98): a deterministic JSONL
    fixture derived from events, read back with inferred schema. The
    oracle runs the same selection on the parquet events view —
    inference must land on (bigint, string, bigint) for values to
    hash-match."""
    path = json_fixture_from_events(spark, sf_dir)
    return read_json(spark, path).select("event_id", "event_type", "user_id")


@register(
    "q_scan_csv_infer",
    "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey < 1000",
)
def q_scan_csv_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV scan with header + schema inference: a deterministic CSV
    fixture derived from orders, read back inferred. Doubles survive
    the text round-trip exactly (Spark writes shortest-round-trip
    decimal), so the oracle — the same selection on the parquet view —
    hash-matches. CSV is an ingest-boundary format only; the engine
    rewrites to parquet at the first layer."""
    from breweries_data_pipeline_spark.sources import csv_fixture_from_orders, read_csv

    path = csv_fixture_from_orders(spark, sf_dir)
    return read_csv(spark, path).select("o_orderkey", "o_orderstatus", "o_totalprice")


@register(
    "q_scan_xml",
    "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey < 1000",
)
def q_scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML scan (Spark 4 native source) with schema inference over a
    deterministic fixture; doubles survive the text round-trip
    exactly, so the oracle — the same selection on the parquet view —
    hash-matches. Completes the format family: parquet, JSON, CSV,
    XML."""
    from breweries_data_pipeline_spark.sources import (
        read_xml,
        xml_fixture_from_orders,
    )

    path = xml_fixture_from_orders(spark, sf_dir)
    return read_xml(spark, path, row_tag="order").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


@register(
    "q_scan_corrupt",
    """
    SELECT count(*) FILTER (WHERE event_id % 10 <> 0) AS n_good,
           count(*) FILTER (WHERE event_id % 10 = 0) AS n_corrupt,
           max(event_id) FILTER (WHERE event_id % 10 <> 0) AS max_good_id
    FROM events WHERE event_id < 1000
    """,
)
def q_scan_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode scan over a feed with malformed lines: bad rows
    land in _corrupt_record (schema columns null) instead of failing
    the job, and the query accounts for both populations in one pass.
    The fixture corrupts exactly the event_id%10==0 lines, so the
    oracle recomputes both counts from the clean table. (A data column
    must appear alongside _corrupt_record — Spark rejects queries that
    reference only the internal corrupt column.)"""
    from breweries_data_pipeline_spark.sources.readers import corrupt_json_fixture

    path = corrupt_json_fixture(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    return df.agg(
        F.count_if(F.col("_corrupt_record").isNull()).alias("n_good"),
        F.count_if(F.col("_corrupt_record").isNotNull()).alias("n_corrupt"),
        F.max("event_id").alias("max_good_id"),
    )


@register(
    "q_scan_evolved",
    """
    SELECT o_orderkey, o_orderstatus, CAST(NULL AS DOUBLE) AS o_totalprice
    FROM orders WHERE o_orderkey < 500
    UNION ALL
    SELECT o_orderkey, CAST(NULL AS VARCHAR), o_totalprice
    FROM orders WHERE o_orderkey >= 500 AND o_orderkey < 1000
    """,
)
def q_scan_evolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution scan: two parquet generations with different
    column sets (one adds o_totalprice, drops o_orderstatus), merged
    by mergeSchema into one superset-schema table with nulls where a
    generation lacks the column."""
    from breweries_data_pipeline_spark.sources import (
        evolving_parquet_fixture,
        read_parquet_evolved,
    )

    v1, v2 = evolving_parquet_fixture(spark, sf_dir)
    return read_parquet_evolved(spark, v1, v2).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


@register("q_count_rows", "SELECT count(*) AS n_rows FROM lineitem")
def q_count_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 full-table count (parquet metadata-only at best)."""
    return read_table(spark, sf_dir, "lineitem").agg(F.count("*").alias("n_rows"))


# ---------------------------------------------------------------------------
# §2.2 projections / scalar functions
# ---------------------------------------------------------------------------


@register(
    "q_add_literal",
    f"""
    SELECT o_orderkey, o_orderstatus, '{STAMP_DATE}' AS ingestion_date
    FROM orders
    """,
)
def q_add_literal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P3 literal stamp column (injected, replayable)."""
    df = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    return add_literal(df, "ingestion_date", STAMP_DATE)


@register(
    "q_cast_types",
    """
    SELECT p_partkey,
           CAST(p_partkey AS VARCHAR) AS p_partkey_str,
           CAST(p_size AS BIGINT)     AS p_size_long,
           CAST(floor(p_retailprice) AS BIGINT) AS p_retail_floor
    FROM part
    """,
)
def q_cast_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 metadata-driven casts (int->string, int->long, double->long
    via floor — double->int directly is avoided: engines disagree on
    round-vs-truncate)."""
    df = read_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_partkey").alias("p_partkey_str"),
        F.col("p_size").alias("p_size_long"),
        F.floor("p_retailprice").alias("p_retail_floor"),
    )
    return cast_columns(
        df, {"p_partkey_str": "string", "p_size_long": "long", "p_retail_floor": "long"}
    )


@register(
    "q_normalize_strings",
    """
    SELECT c_custkey, trim(lower(c_name)) AS c_name,
           trim(lower(c_mktsegment)) AS c_mktsegment
    FROM customer
    """,
)
def q_normalize_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 trim+lower normalization (reference Silver cleaning)."""
    df = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    return normalize_strings(df, ["c_name", "c_mktsegment"])


# ---------------------------------------------------------------------------
# §2.3 cleaning / quality
# ---------------------------------------------------------------------------


@register(
    "q_dedup_by_key",
    """
    SELECT event_id, user_id, event_type
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) = 1
    """,
)
def q_dedup_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 deduplicate-by-key, deterministic variant (keep min event_id;
    the reference's dropDuplicates keeps an arbitrary row)."""
    df = read_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    return deduplicate(df, ["user_id", "event_type"], order_by=["event_id"])


@register(
    "q_dedup_salted",
    """
    SELECT event_id, user_id, event_type
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) = 1
    """,
)
def q_dedup_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 skew-resistant dedup: the group table of ``min_id_groups``
    on (user_id, event_type) read directly, no join. min(event_id)
    combines map-side, so a hot key shrinks to one row per map task
    before the exchange, where the window of q_dedup_by_key sends all
    its rows to one partition. Same oracle as q_dedup_by_key:
    event_id is unique, so the min-id row IS the window's first row."""
    df = read_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    return min_id_groups(df, ["user_id", "event_type"], "event_id").select(
        "event_id", "user_id", "event_type"
    )


@register(
    "q_dropna_required",
    """
    WITH e AS (
      SELECT event_id, user_id,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value_n,
             CASE WHEN event_id % 11 = 0 THEN NULL ELSE props END AS props_n
      FROM events)
    SELECT event_id, user_id, value_n, props_n FROM e
    WHERE value_n IS NOT NULL AND props_n IS NOT NULL
    """,
)
def q_dropna_required(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 drop-null-required (testdata has no physical nulls, so nulls
    are synthesized deterministically from event_id)."""
    e = read_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(F.col("value")).alias("value_n"),
        F.when(F.col("event_id") % 11 == 0, F.lit(None)).otherwise(F.col("props")).alias("props_n"),
    )
    return drop_null_required(e, ["value_n", "props_n"])


@register(
    "q_quality_not_null",
    """
    WITH e AS (SELECT CASE WHEN event_id % 11 = 0 THEN NULL ELSE props END AS props_n
               FROM events),
    c AS (SELECT CAST(sum(CASE WHEN props_n IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ic FROM e)
    SELECT 'not_null' AS rule, 'props_n' AS "column", ic AS invalid_count, ic = 0 AS passed
    FROM c
    """,
)
def q_quality_not_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 not_null quality rule -> (rule, column, invalid_count, passed),
    single-pass agg (reference runs one job per rule)."""
    e = read_table(spark, sf_dir, "events").select(
        F.when(F.col("event_id") % 11 == 0, F.lit(None)).otherwise(F.col("props")).alias("props_n")
    )
    return rules_dataframe(e, [{"rule": "not_null", "column": "props_n"}])


@register(
    "q_quality_gt_zero",
    """
    WITH o AS (SELECT CASE WHEN o_orderkey % 5 = 0 THEN -1.0 ELSE o_totalprice END AS price_adj
               FROM orders),
    c AS (SELECT CAST(sum(CASE WHEN price_adj <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS ic FROM o)
    SELECT 'greater_than_zero' AS rule, 'price_adj' AS "column", ic AS invalid_count, ic = 0 AS passed
    FROM c
    """,
)
def q_quality_gt_zero(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 greater_than_zero quality rule (violations synthesized —
    every o_totalprice in testdata is positive)."""
    o = read_table(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(-1.0))
        .otherwise(F.col("o_totalprice"))
        .alias("price_adj")
    )
    return rules_dataframe(o, [{"rule": "greater_than_zero", "column": "price_adj"}])


# ---------------------------------------------------------------------------
# §2.4 aggregations + §2.5 union (the Gold block)
# ---------------------------------------------------------------------------


@register(
    "q_quality_report",
    """
    SELECT 'not_null' AS rule, 'o_custkey' AS column,
           count(*) FILTER (WHERE o_custkey IS NULL) AS invalid_count,
           count(*) FILTER (WHERE o_custkey IS NULL) = 0 AS passed
    FROM orders
    UNION ALL
    SELECT 'greater_than_zero', 'o_totalprice',
           count(*) FILTER (WHERE o_totalprice <= 0),
           count(*) FILTER (WHERE o_totalprice <= 0) = 0
    FROM orders
    UNION ALL
    SELECT 'in_set', 'o_orderstatus',
           count(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P')
                            OR o_orderstatus IS NULL),
           count(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P')
                            OR o_orderstatus IS NULL) = 0
    FROM orders
    UNION ALL
    SELECT 'between', 'o_totalprice',
           count(*) FILTER (WHERE o_totalprice NOT BETWEEN 0 AND 1000000
                            OR o_totalprice IS NULL),
           count(*) FILTER (WHERE o_totalprice NOT BETWEEN 0 AND 1000000
                            OR o_totalprice IS NULL) = 0
    FROM orders
    UNION ALL
    SELECT 'matches_regex', 'o_orderpriority',
           count(*) FILTER (WHERE NOT regexp_matches(o_orderpriority, '^[1-5]-')
                            OR o_orderpriority IS NULL),
           count(*) FILTER (WHERE NOT regexp_matches(o_orderpriority, '^[1-5]-')
                            OR o_orderpriority IS NULL) = 0
    FROM orders
    UNION ALL
    SELECT 'unique', 'o_orderkey',
           count(o_orderkey) - count(DISTINCT o_orderkey),
           count(o_orderkey) - count(DISTINCT o_orderkey) = 0
    FROM orders
    """,
)
def q_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3-F5 full rule surface: six rule types (not_null,
    greater_than_zero, in_set, between, matches_regex, unique)
    compiled to ONE single-pass aggregate + inline pivot — the scan
    appears once in the plan regardless of rule count, vs the
    reference's job-per-rule. The oracle spells each rule as its own
    filtered aggregate; row order is irrelevant to the hash check."""
    from breweries_data_pipeline_spark.operators.quality import rules_dataframe

    o = read_table(spark, sf_dir, "orders")
    rules = [
        {"rule": "not_null", "column": "o_custkey"},
        {"rule": "greater_than_zero", "column": "o_totalprice"},
        {"rule": "in_set", "column": "o_orderstatus", "values": ["O", "F", "P"]},
        {"rule": "between", "column": "o_totalprice", "min": 0, "max": 1000000},
        {"rule": "matches_regex", "column": "o_orderpriority", "pattern": "^[1-5]-"},
        {"rule": "unique", "column": "o_orderkey"},
    ]
    return rules_dataframe(o, rules)


@register(
    "q_groupby_count_2key",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS total_count
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def q_groupby_count_2key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 group-by count, 2 keys (reference Gold view shape)."""
    return grouped_count(read_table(spark, sf_dir, "lineitem"), ["l_returnflag", "l_linestatus"])


@register(
    "q_groupby_count_3key",
    """
    SELECT l_returnflag, l_linestatus, l_linenumber, count(*) AS total_count
    FROM lineitem GROUP BY l_returnflag, l_linestatus, l_linenumber
    """,
)
def q_groupby_count_3key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A3 group-by count, 3 keys."""
    return grouped_count(
        read_table(spark, sf_dir, "lineitem"), ["l_returnflag", "l_linestatus", "l_linenumber"]
    )


@register(
    "q_gold_union",
    f"""
    SELECT o_orderstatus, CAST(NULL AS VARCHAR) AS o_orderpriority,
           count(*) AS total_count, 'by_status' AS aggregation,
           '{STAMP_DATE}' AS transformation_date
    FROM orders GROUP BY o_orderstatus
    UNION ALL
    SELECT CAST(NULL AS VARCHAR), o_orderpriority, count(*), 'by_priority', '{STAMP_DATE}'
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_gold_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1+P2+P3: the reference's distinctive Gold contract — stacked
    heterogeneous aggregate views, discriminator tag, missing columns
    as nulls (breweries_aggregate_gold_notebook.py:37-60) — both views
    from one grouping-sets aggregate over one scan of ``orders``."""
    count = [{"name": "total_count", "expr": "count(*)"}]
    return aggregate_views(
        read_table(spark, sf_dir, "orders"),
        [
            {"name": "by_status", "group_by": ["o_orderstatus"], "metrics": count},
            {"name": "by_priority", "group_by": ["o_orderpriority"], "metrics": count},
        ],
        stamp_value=STAMP_DATE,
    )


@register(
    "q_agg_declarative",
    """
    SELECT l_returnflag,
           count(*) AS n_rows,
           CAST((sum(CAST(round((l_quantity) * 100.0) AS BIGINT)) / 100.0) AS DOUBLE) AS sum_qty,
           CAST((sum(CAST(round((l_extendedprice) * 100.0) AS BIGINT)) / 100.0) AS DOUBLE) AS sum_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_declarative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: the reference's *declared* YAML aggregation contract
    (group_by + named metric exprs) compiled via F.expr."""
    return declarative_aggregate(
        read_table(spark, sf_dir, "lineitem"),
        group_by=["l_returnflag"],
        metrics=[
            {"name": "n_rows", "expr": "count(*)"},
            {
                "name": "sum_qty",
                "expr": "cast(sum(cast(round(l_quantity * 100.0) as bigint)) as double) / 100.0",
            },
            {
                "name": "sum_price",
                "expr": "cast(sum(cast(round(l_extendedprice * 100.0) as bigint)) as double) / 100.0",
            },
        ],
    )


@register(
    "q_count_distinct",
    """
    SELECT count(DISTINCT l_partkey) AS n_parts, count(*) AS n_rows FROM lineitem
    """,
)
def q_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 exact distinct aggregate (approx variant: q_approx_count_distinct,
    rows-only)."""
    return read_table(spark, sf_dir, "lineitem").agg(
        F.count_distinct(F.col("l_partkey")).alias("n_parts"),
        F.count("*").alias("n_rows"),
    )


@register("q_approx_count_distinct", None)
def q_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 approx_count_distinct (HLL++): the 100 TB-scale path — no
    exact distinct hash, constant memory. No SQL oracle (estimator is
    engine-specific); driver does a rows-only check."""
    return read_table(spark, sf_dir, "lineitem").agg(
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("n_parts_approx")
    )


@register(
    "q_rollup",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS total_count
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 rollup — the principled form of the reference's hand-rolled
    union-of-groupbys (one pass, grouping-sets expansion)."""
    return (
        read_table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("total_count"))
    )


# ---------------------------------------------------------------------------
# §2.6 joins (X1/X2)
# ---------------------------------------------------------------------------


@register(
    "q_cube",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
           CAST((sum(CAST(round((o_totalprice) * 100.0) AS BIGINT)) / 100.0) AS DOUBLE) AS sum_price
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 cube: all 2^k grouping sets in one pass (Expand + single
    hash aggregate — k× the shuffle rows of a plain groupBy, but one
    scan instead of 2^k)."""
    return (
        read_table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            (F.sum(F.round(F.col("o_totalprice") * 100.0).cast("long")).cast("double") / 100.0).alias("sum_price"),
        )
    )


_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


@register(
    "q_pivot",
    """
    SELECT o_orderstatus,
           """
    + ", ".join(
        # NULLIF: Spark's pivot yields NULL (not 0) for absent combos
        f"NULLIF(count(*) FILTER (WHERE o_orderpriority = '{p}'), 0) AS \"{p}\""
        for p in _PRIORITIES
    )
    + """
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide): explicit value list so the output schema
    is static (no extra distinct-values job) — the form that scales;
    compiles to conditional aggregation, same as the oracle spelling."""
    return (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)))
    )


@register(
    "q_percentiles",
    """
    SELECT o_orderstatus,
           percentile_cont(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS p25,
           percentile_cont(0.5)  WITHIN GROUP (ORDER BY o_totalprice) AS p50,
           percentile_cont(0.75) WITHIN GROUP (ORDER BY o_totalprice) AS p75
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` ==
    SQL percentile_cont semantics: rank (n-1)*p, linear interpolation).
    At extreme cardinality switch to approx_percentile and drop the
    oracle — exact percentile holds all group values sorted."""
    return (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.percentile("o_totalprice", F.lit(0.25)).alias("p25"),
            F.percentile("o_totalprice", F.lit(0.5)).alias("p50"),
            F.percentile("o_totalprice", F.lit(0.75)).alias("p75"),
        )
    )


@register(
    "q_join_broadcast",
    """
    SELECT r.r_name, count(*) AS n_customers,
           CAST((sum(CAST(round((c.c_acctbal) * 100.0) AS BIGINT)) / 100.0) AS DOUBLE) AS sum_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 dim join: customer ⋈ nation ⋈ region with broadcast dims —
    zero shuffle of the fact side; the groupBy is the only exchange."""
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    joined = dim_join(
        dim_join(customer, nation, customer.c_nationkey == nation.n_nationkey),
        region,
        F.col("n_regionkey") == region.r_regionkey,
    )
    return joined.groupBy("r_name").agg(
        F.count("*").alias("n_customers"),
        (F.sum(F.round(F.col("c_acctbal") * 100.0).cast("long")).cast("double") / 100.0).alias("sum_acctbal"),
    )


@register(
    "q_join_shuffle",
    """
    SELECT o.o_orderstatus,
           count(*) AS n_items,
           CAST((sum(CAST(round((l.l_extendedprice * (1 - l.l_discount)) * 10000.0) AS BIGINT)) / 10000.0) AS DOUBLE)
             AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderstatus
    """,
)
def q_join_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 fact-fact join on the shuffle path (orders ⋈ lineitem).
    At 100 TB: sort-merge on l_orderkey with AQE skew splitting;
    bucketing both tables on orderkey would eliminate the exchange."""
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    joined = orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
    rev = F.round(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000.0
    ).cast("long")
    return joined.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_items"),
        (F.sum(rev).cast("double") / 10000.0).alias("revenue"),
    )


@register(
    "q_join_multi",
    """
    SELECT n.n_name,
           count(*) AS n_items,
           CAST((sum(CAST(round((l.l_extendedprice * (1 - l.l_discount)) * 10000.0) AS BIGINT)) / 10000.0)
                AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q_join_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 multi-join (TPC-H Q5 shape): two fact-fact shuffle joins
    (customer⋈orders⋈lineitem) + broadcast dims (nation, region) with
    the region filter pushed through the broadcast side — at scale the
    dim filter prunes before any fact shuffle."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    joined = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.groupBy("n_name").agg(
        F.count("*").alias("n_items"),
        (
            F.sum(
                F.round(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000.0
                ).cast("long")
            ).cast("double")
            / 10000.0
        ).alias("revenue"),
    )


@register(
    "q_join_semi",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 left-semi: customers having orders (only the key column of
    the right side moves)."""
    customer = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = read_table(spark, sf_dir, "orders")
    return semi_join(customer, orders, customer.c_custkey == orders.o_custkey)


@register(
    "q_join_anti",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 left-anti: customers with no orders."""
    customer = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = read_table(spark, sf_dir, "orders")
    return anti_join(customer, orders, customer.c_custkey == orders.o_custkey)


# ---------------------------------------------------------------------------
# §2.6 windows / sorts (X3/X4)
# ---------------------------------------------------------------------------


@register(
    "q_shipping_priority",
    """
    SELECT l.l_orderkey,
           CAST((sum(CAST(round((l.l_extendedprice * (1 - l.l_discount)) * 10000.0) AS BIGINT)) / 10000.0)
                AS DOUBLE) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND l.l_shipdate > o.o_orderdate
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment filter pushed to the customer scan,
    two shuffle joins, decimal-exact revenue, TakeOrderedAndProject
    top-10 (per-partition heap, no global sort)."""
    c = read_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    j = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate"))
    )
    agg = j.groupBy("l_orderkey", "o_orderdate").agg(
        (
            F.sum(
                F.round(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000.0
                ).cast("long")
            ).cast("double")
            / 10000.0
        ).alias("revenue")
    )
    return agg.select(
        "l_orderkey",
        "revenue",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
    ).orderBy(F.col("revenue").desc(), F.col("l_orderkey")).limit(10)


@register(
    "q_returned_items",
    """
    SELECT c.c_custkey, c.c_name,
           CAST((sum(CAST(round((l.l_extendedprice * (1 - l.l_discount)) * 10000.0) AS BIGINT)) / 10000.0)
                AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer; the
    returnflag filter reaches the lineitem scan as a pushed predicate."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    agg = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            (
                F.sum(
                    F.round(
                        (F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000.0
                    ).cast("long")
                ).cast("double")
                / 10000.0
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )
    return agg.orderBy(F.col("revenue").desc(), F.col("c_custkey")).limit(20)


@register(
    "q_running_total",
    """
    SELECT user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
           CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
           ) AS DOUBLE) AS running_value
    FROM events WHERE user_id < 50
    """,
)
def q_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative window: per-user running sum in event order.
    Decimal accumulation makes the prefix sums exact, so the doubles
    match the oracle bit-for-bit regardless of add order."""
    e = read_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double").alias("running_value"),
    )


@register(
    "q_lag_lead",
    """
    SELECT user_id, event_id,
           lag(event_id) OVER w AS prev_event,
           lead(event_id) OVER w AS next_event,
           CAST(epoch_us(ts) - epoch_us(lag(ts) OVER w) AS BIGINT) AS gap_us
    FROM events WHERE user_id < 50
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window navigation (lag/lead) + inter-event gaps in µs —
    integer timestamp arithmetic, no float drift."""
    e = read_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros(F.col("ts"))
    return e.select(
        "user_id",
        "event_id",
        F.lag("event_id").over(w).alias("prev_event"),
        F.lead("event_id").over(w).alias("next_event"),
        (ts_us - F.lag(ts_us).over(w)).alias("gap_us"),
    )


@register(
    "q_moving_avg",
    """
    SELECT user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
           CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
             / CAST(count(*) OVER w AS DOUBLE) AS moving_avg
    FROM events WHERE user_id < 50
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
)
def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-row moving average per user — exact decimal window sum /
    exact count, divided in double (bit-stable cross-engine)."""
    e = read_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    return e.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        (
            F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double")
            / F.count("*").over(w).cast("double")
        ).alias("moving_avg"),
    )


_PROFILE_COLS = ["l_orderkey", "l_quantity", "l_returnflag", "l_shipdate"]


@register(
    "q_table_profile",
    "\nUNION ALL\n".join(
        f"""
        SELECT '{c}' AS "column", count(*) AS n_rows,
               CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
               CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(min({c}) AS VARCHAR) AS min_value,
               CAST(max({c}) AS VARCHAR) AS max_value
        FROM lineitem
        """
        for c in _PROFILE_COLS
    ),
)
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile: count / nulls / exact distinct /
    min / max for every column in ONE single-pass aggregate (the
    oracle's UNION ALL spelling scans once per column; ours scans
    once, total)."""
    from breweries_data_pipeline_spark.operators.profile import profile_table

    li = read_table(spark, sf_dir, "lineitem")
    return profile_table(li, _PROFILE_COLS)


@register(
    "q_above_avg",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders) * 1.5
    """,
)
def q_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery shape: rows above 1.5x the table mean. Spark
    plans the subquery as an independent stage whose single-row result
    feeds the filter — no driver round-trip in the engine code.
    float threshold comparison is safe here: avg differs from the
    oracle's only if summation order diverges, and both engines reduce
    the same partial sums; values are well away from the boundary."""
    o = read_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__orders_aa")
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice
        FROM __orders_aa
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM __orders_aa) * 1.5
        """
    )


@register(
    "q_cdc_merge",
    """
    SELECT user_id, event_id AS last_event_id, event_type, value
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY event_id DESC
        ) AS rn FROM events
    ) t WHERE rn = 1 AND event_type <> 'error'
    """,
)
def q_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge/upsert: a base snapshot (even event ids) merged with
    a changelog (odd event ids); latest event per user wins, and users
    whose final state is an 'error' marker are deleted. One shuffle on
    the merge key."""
    from breweries_data_pipeline_spark.operators.merge import merge_upsert

    e = read_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value"
    )
    base = e.filter(F.col("event_id") % 2 == 0)
    changes = e.filter(F.col("event_id") % 2 == 1)
    merged = merge_upsert(
        base,
        changes,
        ["user_id"],
        [F.col("event_id").desc()],
        delete_predicate=F.col("event_type") == "error",
    )
    return merged.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        "event_type",
        "value",
    )


@register(
    "q_asof_join",
    """
    WITH r AS (
        SELECT user_id, ts, max(event_id) AS last_event_id
        FROM events GROUP BY user_id, ts
    ),
    m AS (
        SELECT DISTINCT user_id,
               date_trunc('hour', ts) + INTERVAL 30 MINUTE AS m_ts
        FROM events
    )
    SELECT m.user_id,
           strftime(m.m_ts, '%Y-%m-%d %H:%M:%S') AS mark_ts,
           r.last_event_id AS last_event_id_asof
    FROM m ASOF LEFT JOIN r
      ON m.user_id = r.user_id AND m.m_ts >= r.ts
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward, inclusive): latest event at or before
    each half-hour mark, per user — the union + carry-forward-window
    composition (one shuffle on the key), oracle-checked against
    DuckDB's native ASOF JOIN."""
    from breweries_data_pipeline_spark.operators.temporal import as_of_join

    events = read_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    right = events.groupBy("user_id", "ts").agg(
        F.max("event_id").alias("last_event_id")
    )
    marks = events.select(
        "user_id",
        (F.date_trunc("hour", F.col("ts")) + F.expr("INTERVAL 30 MINUTES")).alias("m_ts"),
    ).distinct()
    out = as_of_join(marks, right, "user_id", "m_ts", "ts", ["last_event_id"])
    return out.select(
        "user_id",
        F.date_format("m_ts", "yyyy-MM-dd HH:mm:ss").alias("mark_ts"),
        "last_event_id_asof",
    )


@register(
    "q_asof_next",
    """
    SELECT c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           strftime((SELECT min(p.ts) FROM events p
                     WHERE p.event_type = 'purchase'
                       AND p.user_id = c.user_id
                       AND p.ts >= c.ts),
                    '%Y-%m-%d %H:%M:%S') AS next_purchase_ts
    FROM events c WHERE c.event_type = 'click'
    """,
)
def q_asof_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of via the union + carry-forward window (reverse of
    the backward form: first purchase at/after each click per user,
    carried back with first(ignorenulls) over the forward frame). ONE
    AQE-splittable shuffle on the key — no applyInPandas, no hot-key
    single-task serialization (tests/test_plans.py pins the window
    plan). Oracle: the correlated scalar-min subquery."""
    from breweries_data_pipeline_spark.operators.temporal import as_of_join_forward

    ev = read_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts").distinct()
    out = as_of_join_forward(clicks, buys, "user_id", "ts", "ts", suffix="_next")
    return out.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format("ts_next", "yyyy-MM-dd HH:mm:ss").alias("next_purchase_ts"),
    )


@register(
    "q_mode_udaf",
    """
    SELECT user_id, event_type AS mode_event FROM (
      SELECT user_id, event_type,
             row_number() OVER (
               PARTITION BY user_id ORDER BY count(*) DESC, event_type
             ) AS rn
      FROM events GROUP BY user_id, event_type
    ) t WHERE rn = 1
    """,
)
def q_mode_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom-aggregation surface, scale form: deterministic MODE
    (most frequent event_type, lexicographic tie-break) per user via
    JVM partial count + one vectorized mapInPandas finalize —
    hash-verified against the SQL count+row_number composition. The
    literal grouped-agg pandas UDF path is parity-tested separately
    (``q_mode_grouped_udaf``); it pays ~0.7 ms of Arrow round-trip
    PER GROUP, which this form avoids entirely."""
    from breweries_data_pipeline_spark.operators.aggregate import mode_agg

    ev = read_table(spark, sf_dir, "events").select("user_id", "event_type")
    return mode_agg(ev, ["user_id"], "event_type", out="mode_event")


@register(
    "q_mode_grouped_udaf",
    """
    SELECT user_id, event_type AS mode_event FROM (
      SELECT user_id, event_type,
             row_number() OVER (
               PARTITION BY user_id ORDER BY count(*) DESC, event_type
             ) AS rn
      FROM events GROUP BY user_id, event_type
    ) t WHERE rn = 1
    """,
)
def q_mode_grouped_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The literal grouped-agg pandas UDF (AggregateInPandasExec)
    surface: same deterministic MODE, same oracle as ``q_mode_udaf``.
    Kept as its own entry so the per-group-round-trip executor path
    stays correctness-covered while the bench carries the scale form."""
    from breweries_data_pipeline_spark.operators.aggregate import mode_agg_grouped

    ev = read_table(spark, sf_dir, "events").select("user_id", "event_type")
    return mode_agg_grouped(ev, ["user_id"], "event_type", out="mode_event")


@register(
    "q_range_join",
    """
    WITH m AS (
        SELECT DISTINCT user_id,
               date_trunc('hour', ts) + INTERVAL 30 MINUTE AS m_ts
        FROM events
    )
    SELECT m.user_id,
           strftime(m.m_ts, '%Y-%m-%d %H:%M:%S') AS mark_ts,
           count(*) AS n_events
    FROM m JOIN events e
      ON m.user_id = e.user_id
     AND e.ts >= m.m_ts - INTERVAL 30 MINUTE
     AND e.ts <= m.m_ts
    GROUP BY m.user_id, m.m_ts
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: events within the half-hour band before each mark,
    per user — via the BUCKETED form: the join key is (user, coarse
    half-hour bucket) with marks duplicated into the 2 buckets their
    band touches, so a user's marks meet ~1 hour of that user's
    events instead of the whole timeline (2x faster at sf0.1, and the
    gap grows with timeline length). The plain key-equality form
    (``range_join``) remains for ad-hoc bands; both are
    result-identical (executed equivalence test in tests/test_units)."""
    from breweries_data_pipeline_spark.operators.temporal import range_join_bucketed

    events = read_table(spark, sf_dir, "events").select("user_id", "ts")
    marks = events.select(
        "user_id",
        (F.date_trunc("hour", F.col("ts")) + F.expr("INTERVAL 30 MINUTES")).alias("m_ts"),
    ).distinct()
    joined = range_join_bucketed(
        marks, events, "user_id", "m_ts", "ts", band="30 MINUTES"
    )
    return joined.groupBy("user_id", "m_ts").agg(
        F.count("*").alias("n_events")
    ).select(
        "user_id",
        F.date_format("m_ts", "yyyy-MM-dd HH:mm:ss").alias("mark_ts"),
        "n_events",
    )


@register(
    "q_topk_per_group",
    """
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM orders
    QUALIFY rn <= 3
    """,
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 top-k per group: one hash exchange on the group key, local
    rank — never a global sort. Tie-broken on o_orderkey."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    return topk_per_group(
        orders,
        ["o_custkey"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        k=3,
    )


@register(
    "q_topk_global",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def q_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 global top-k: planned as TakeOrderedAndProject (per-partition
    heap + driver merge) — no full sort at any scale."""
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return topk_global(orders, [F.col("o_totalprice").desc(), F.col("o_orderkey")], k=10)


# ---------------------------------------------------------------------------
# §2.6 X9 text analysis (documents table)
# ---------------------------------------------------------------------------

# DuckDB spellings of the engine's text expressions (functions/text.py):
# identical token split, identical stopword lists, identical arithmetic
# association order so doubles are bit-equal across engines.
_SQL_TOKENS = r"regexp_split_to_array(trim(text), '\s+')"
_SQL_STOP_EN = (
    f"len(list_filter({_SQL_TOKENS}, t -> list_contains("
    "['the','a','of','and','to','in','is','that','it','for'], t)))"
)
_SQL_STOP_ES = (
    f"len(list_filter({_SQL_TOKENS}, t -> list_contains("
    "['el','la','de','los','las','que','y','en','un','una'], t)))"
)


@register(
    "q_text_stats",
    f"""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS sum_chars,
           CAST(sum(length(text)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_chars,
           CAST(sum(len({_SQL_TOKENS})) AS BIGINT) AS sum_tokens
    FROM documents GROUP BY lang
    """,
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9 corpus-level per-language profile: doc counts, exact char/
    token sums, exact-ratio average length. Narrow map + one hash agg
    on a low-cardinality key — scan-bound at any scale."""
    return language_profile(read_table(spark, sf_dir, "documents"))


@register(
    "q_lang_id",
    f"""
    SELECT doc_id, lang,
           CASE WHEN {_SQL_STOP_EN} > {_SQL_STOP_ES} THEN 'en'
                WHEN {_SQL_STOP_ES} > {_SQL_STOP_EN} THEN 'es'
                ELSE 'und' END AS lang_pred
    FROM documents
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9 heuristic language ID (stopword-profile method) — pure
    JVM-side column expressions, zero shuffle."""
    df = read_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return with_lang_id(df).drop("text")


@register(
    "q_quality_score",
    f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_m,
           CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tokens,
           CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
             / CAST(greatest(length(text), 1) AS DOUBLE) AS alpha_ratio,
           CAST({_SQL_STOP_EN} AS DOUBLE)
             / CAST(greatest(len({_SQL_TOKENS}), 1) AS DOUBLE) AS stop_ratio,
           (CASE WHEN length(text) BETWEEN 50 AND 10000 THEN 0.4 ELSE 0.0 END
            + (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
               / CAST(greatest(length(text), 1) AS DOUBLE)) * 0.3)
            + least((CAST({_SQL_STOP_EN} AS DOUBLE)
                     / CAST(greatest(len({_SQL_TOKENS}), 1) AS DOUBLE)) * 3, 1.0) * 0.3
             AS quality_score
    FROM documents
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9 document quality scoring: length band + alpha ratio +
    stopword ratio -> composite score. Integer-ratio arithmetic with
    pinned association order, so doubles are bit-equal vs the oracle."""
    df = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return with_quality_score(df).drop("text")


# ---------------------------------------------------------------------------
# §2.6 X7 text dedup (exact, MinHash-LSH, SimHash, n-gram Jaccard)
# ---------------------------------------------------------------------------

_SQL_FINGERPRINT = r"md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))"


def _long_div(num: Column, den: Column) -> Column:
    """Integer floor-division of two non-negative long Columns,
    matching DuckDB's ``//`` on BIGINT exactly. ``num - num % den``
    makes the numerator exactly divisible, and the division is done in
    decimal(38,0) — exact over the ENTIRE long range, unlike a double
    division, which silently rounds any numerator above 2^53 (e.g.
    epoch-microsecond products) even when the quotient is small. The
    quotient is an exact integer, so the decimal result's scale
    rounding is vacuous and the cast back to long is lossless."""
    exact = (num - (num % den)).cast("decimal(38,0)")
    return (exact / den.cast("decimal(38,0)")).cast("long")


def _sql_shingles(n: int) -> str:
    """DuckDB spelling of ``functions.text.shingles(text, n)``: all
    space-joined token n-grams, with sub-``n``-token docs collapsing
    to one whole-document shingle (same convention as the Spark side,
    so oracle parity holds for every doc length). range() is
    end-exclusive, so range(1, len - n + 2) yields the start positions
    1..len-n+1 — the same count as Spark's sequence(0, size - n)."""
    toks = r"regexp_split_to_array(trim(text), '\s+')"
    return (
        rf"CASE WHEN len({toks}) >= {n} "
        rf"THEN list_transform(range(1, len({toks}) - {n - 2}), "
        rf"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' ')) "
        rf"ELSE [array_to_string({toks}, ' ')] END"
    )


_SQL_SHINGLES = _sql_shingles(3)


@register(
    "q_dedup_text",
    f"""
    SELECT doc_id, fingerprint FROM (
        SELECT doc_id,
               {_SQL_FINGERPRINT} AS fingerprint,
               row_number() OVER (
                   PARTITION BY {_SQL_FINGERPRINT} ORDER BY doc_id
               ) AS rn
        FROM documents
    ) t WHERE rn = 1
    """,
)
def q_dedup_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 exact text dedup: md5 of whitespace-normalized text, keep the
    smallest doc_id per fingerprint. The output is exactly the group
    table of ``min_id_groups`` on the fingerprint, read directly: one
    map-side-combined aggregate, one exchange, and no join back to the
    rows (``exact_dedup`` adds that join for callers that need the
    text). A boilerplate page repeated millions of times is one hot
    fingerprint group, and the partial aggregate shrinks it to one
    row per map task before the exchange."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return min_id_groups(with_fingerprint(docs), ["fingerprint"], "doc_id").select(
        "doc_id", "fingerprint"
    )


@register(
    "q_ngram_jaccard",
    f"""
    WITH sh AS (SELECT doc_id, {_SQL_SHINGLES} AS s FROM documents)
    SELECT a.doc_id AS id_a, a.doc_id + 1 AS id_b,
           CAST(len(list_intersect(list_distinct(a.s), list_distinct(b.s))) AS DOUBLE)
           / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) AS jaccard
    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
    """,
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 exact n-gram Jaccard similarity between consecutive doc
    pairs — the oracle-checked verification kernel that the
    MinHash-LSH pipeline uses on its candidate pairs. Equi-join on
    doc_id, set-semantics intersect/union, integer-ratio double."""
    docs = read_table(spark, sf_dir, "documents")
    sh = docs.select("doc_id", shingles("text", 3).alias("s"))
    nxt = sh.select((F.col("doc_id") - 1).alias("doc_id"), F.col("s").alias("s_b"))
    return sh.join(nxt, "doc_id").select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 1).alias("id_b"),
        ngram_jaccard(F.col("s"), F.col("s_b")).alias("jaccard"),
    )


@register(
    "q_containment",
    f"""
    WITH sh AS (SELECT doc_id, list_distinct({_SQL_SHINGLES}) AS s FROM documents)
    SELECT a.doc_id AS id_a, a.doc_id + 1 AS id_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / CAST(greatest(len(a.s), 1) AS DOUBLE) AS containment
    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
    """,
)
def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 shingle CONTAINMENT (|A∩B| / |A|) between consecutive docs —
    the asymmetric near-dup signal (detects A-inside-B where Jaccard
    dilutes); integer-ratio double, hash-exact."""
    docs = read_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", F.array_distinct(shingles("text", 3)).alias("s")
    )
    nxt = sh.select((F.col("doc_id") - 1).alias("doc_id"), F.col("s").alias("s_b"))
    return sh.join(nxt, "doc_id").select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 1).alias("id_b"),
        (
            F.size(F.array_intersect("s", "s_b")).cast("double")
            / F.greatest(F.size("s"), F.lit(1)).cast("double")
        ).alias("containment"),
    )


@register(
    "q_repetition",
    r"""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
           CAST(len(list_distinct(toks)) AS DOUBLE)
             / CAST(greatest(len(toks), 1) AS DOUBLE) AS distinct_ratio
    FROM t
    """,
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9 repetitiveness signal: distinct-token ratio per doc (low =
    boilerplate/spam; the entropy-style filter without transcendental
    functions, so it stays hash-exact cross-engine). Pure narrow map —
    zero shuffle at any scale."""
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        (
            F.size(F.array_distinct(toks)).cast("double")
            / F.greatest(F.size(toks), F.lit(1)).cast("double")
        ).alias("distinct_ratio"),
    )


@register("q_neardup_pairs_minhash", None)
def q_neardup_pairs_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 MinHash-LSH near-dup candidate pairs, verified with exact
    n-gram Jaccard. Candidate generation is a self equi-join on
    (band, band_hash) — bucketed, never a crossJoin (plan-asserted in
    tests/test_dedup.py). No SQL oracle: the seeded-xxhash64 MinHash
    family is not reproducible in DuckDB."""
    docs = read_table(spark, sf_dir, "documents")
    return verified_near_dup_pairs(docs, threshold=0.5)


@register(
    "q_dedup_neardup",
    f"""
    WITH RECURSIVE
    sh AS (SELECT doc_id, list_distinct({_SQL_SHINGLES}) AS s FROM documents),
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
    ),
    e AS (
      SELECT id_a, id_b FROM (
        SELECT id_a, id_b,
               CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
                 / CAST(len(list_distinct(list_concat(x.s, y.s))) AS DOUBLE)
                 AS j
        FROM cand
        JOIN sh x ON x.doc_id = cand.id_a
        JOIN sh y ON y.doc_id = cand.id_b
      ) WHERE j >= 0.7
    ),
    sym AS (
      SELECT id_a AS u, id_b AS v FROM e
      UNION ALL
      SELECT id_b AS u, id_a AS v FROM e
    ),
    reach(u, v) AS (
      SELECT u, v FROM sym
      UNION
      SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
    ),
    minlab AS (
      SELECT u AS doc_id, least(u, min(v)) AS cluster_id
      FROM reach GROUP BY u
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d LEFT JOIN minlab m USING (doc_id)
    WHERE m.cluster_id IS NULL OR m.cluster_id = d.doc_id
    """,
)
def q_dedup_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 near-dup dedup end-to-end, CHAIN-SAFE (r5 advice: promoted
    from a rows-only single-pass check to a full transitive-closure
    oracle): MinHash-LSH candidates, exact-Jaccard verification at
    0.7, connected components over the pair graph, keep each
    component's minimum id. Multi-hop chains (A~B~C with A and C
    never pairing directly) collapse to ONE survivor — a single
    anti-join pass (drop every larger id of a pair) would let C
    survive whenever it is never the larger id of a pair.

    Oracle: exhaustive shared-shingle blocking regenerates every pair
    above threshold (same argument as q_neardup_edit_gate — the 32x2
    banding's miss rate at 0.7 is ~5e-10, so the LSH stream is
    hash-identical), then a recursive CTE computes reachability and
    each doc's component min. The hash check therefore proves the
    distributed min-label-propagation + pointer-jumping CC against an
    independent fixpoint closure, on REAL pair structure."""
    docs = read_table(spark, sf_dir, "documents")
    return near_dedup_minhash(docs, threshold=0.7, bands=32).select(
        "doc_id", "lang", "source"
    )


@register(
    "q_dedup_clusters",
    f"""
    WITH sh AS (SELECT doc_id, {_SQL_SHINGLES} AS s FROM documents),
    e AS (
      SELECT a.doc_id AS src
      FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
      WHERE CAST(len(list_intersect(list_distinct(a.s), list_distinct(b.s))) AS DOUBLE)
            / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.5
    ),
    d AS (
      SELECT doc_id,
             CASE WHEN EXISTS (SELECT 1 FROM e WHERE e.src = doc_id - 1)
                  THEN NULL ELSE doc_id END AS start_id
      FROM documents
    )
    SELECT doc_id,
           max(start_id) OVER (ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) AS cluster_id
    FROM d
    """,
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assignment: connected components (iterative
    min-label propagation + pointer jumping, operators/graph.py) over
    a deterministic edge set — consecutive-doc pairs with 3-gram
    Jaccard >= 0.5. The Spark side runs the GENERAL CC algorithm (on
    the driver for an edge list this small, distributed above
    graph._DRIVER_EDGES); the oracle exploits the chain structure of
    this edge set to compute the same labels with a gaps-and-islands
    window (component min-id = last edge-less doc at or before it).
    Both sides share the exact integer-ratio Jaccard, so the edge sets
    are identical and the hash check proves transitive closure, not
    just pairing."""
    from breweries_data_pipeline_spark.operators.graph import connected_components

    docs = read_table(spark, sf_dir, "documents")
    sh = docs.select("doc_id", shingles("text", 3).alias("s"))
    nxt = sh.select((F.col("doc_id") - 1).alias("doc_id"), F.col("s").alias("s_b"))
    edges = (
        sh.join(nxt, "doc_id")
        .select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + 1).alias("id_b"),
            ngram_jaccard(F.col("s"), F.col("s_b")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )
    return connected_components(
        edges, docs.select("doc_id"), id_col="doc_id", label_col="cluster_id"
    )


@register(
    "q_cluster_best",
    f"""
    WITH sh AS (SELECT doc_id, {_SQL_SHINGLES} AS s FROM documents),
    e AS (
      SELECT a.doc_id AS src
      FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
      WHERE CAST(len(list_intersect(list_distinct(a.s), list_distinct(b.s))) AS DOUBLE)
            / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.5
    ),
    d AS (
      SELECT doc_id,
             CASE WHEN EXISTS (SELECT 1 FROM e WHERE e.src = doc_id - 1)
                  THEN NULL ELSE doc_id END AS start_id
      FROM documents
    ),
    clusters AS (
      SELECT doc_id,
             max(start_id) OVER (ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cluster_id
      FROM d
    ),
    scored AS (
      SELECT doc_id,
             (CASE WHEN length(text) BETWEEN 50 AND 10000 THEN 0.4 ELSE 0.0 END
              + (CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                 / CAST(greatest(length(text), 1) AS DOUBLE)) * 0.3)
              + least((CAST({{_stop}} AS DOUBLE)
                       / CAST(greatest(len({{_toks}}), 1) AS DOUBLE)) * 3, 1.0) * 0.3
               AS quality_score
      FROM documents
    )
    SELECT c.cluster_id, s.doc_id, s.quality_score
    FROM clusters c JOIN scored s USING (doc_id)
    QUALIFY row_number() OVER (
      PARTITION BY c.cluster_id ORDER BY s.quality_score DESC, s.doc_id
    ) = 1
    """.replace("{_stop}", _SQL_STOP_EN).replace("{_toks}", _SQL_TOKENS),
)
def q_cluster_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup dedup POLICY: cluster (connected components
    over deterministic Jaccard chain edges) then keep each cluster's
    best-quality doc (quality desc, doc_id tie-break) — the standard
    training-data collapse, composed from two independently
    oracle-proven kernels (q_dedup_clusters + q_quality_score). One
    extra shuffle on cluster_id for the per-cluster top-1."""
    from breweries_data_pipeline_spark.operators.graph import connected_components

    docs = read_table(spark, sf_dir, "documents")
    sh = docs.select("doc_id", shingles("text", 3).alias("s"))
    nxt = sh.select((F.col("doc_id") - 1).alias("doc_id"), F.col("s").alias("s_b"))
    edges = (
        sh.join(nxt, "doc_id")
        .select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + 1).alias("id_b"),
            ngram_jaccard(F.col("s"), F.col("s_b")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )
    clusters = connected_components(
        edges, docs.select("doc_id"), id_col="doc_id", label_col="cluster_id"
    )
    scored = with_quality_score(docs.select("doc_id", "text")).select(
        "doc_id", "quality_score"
    )
    joined = clusters.join(scored, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cluster_id", "doc_id", "quality_score")
    )


@register("q_simhash_pairs", None)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 SimHash near-dup pairs (hamming <= 3) via 4-block pigeonhole
    blocking — self equi-join per block, union, exact bit_count
    verify. No SQL oracle (xxhash64 family)."""
    docs = read_table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(docs)


# ---------------------------------------------------------------------------
# §2.6 X8 similarity search (embeddings table)
# ---------------------------------------------------------------------------

# DuckDB spelling of similarity.exact_cosine: pinned-order double
# arithmetic (left-fold sum over element products; denominator
# sqrt(a)*sqrt(b)). list_sum over a double list is bit-equal to the
# Arrow left-fold kernel (verified empirically on the testdata
# embeddings).
_SQL_DOT = (
    "list_sum(list_transform(range(1, len({a}) + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


@register(
    "q_similarity_topk",
    f"""
    WITH p AS (
        SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id < 5
    ),
    s AS (
        SELECT p.probe_id, c.vec_id,
               {_SQL_DOT.format(a="c.embedding", b="pe")}
               / (sqrt({_SQL_DOT.format(a="c.embedding", b="c.embedding")})
                  * sqrt({_SQL_DOT.format(a="pe", b="pe")})) AS cosine
        FROM embeddings c JOIN p ON c.vec_id <> p.probe_id
    )
    SELECT probe_id, vec_id, cosine, CAST(rn AS BIGINT) AS rank
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY probe_id ORDER BY cosine DESC, vec_id
        ) AS rn FROM s
    ) t WHERE rn <= 5
    """,
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8 exact brute-force cosine top-k for a 5-probe set: broadcast
    probes x one corpus scan (never corpus x corpus), rank per probe
    with one hash exchange on probe_id. Deterministic (cosine desc,
    vec_id) tie-break."""
    emb = read_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5)
    return cosine_topk(emb, probes, k=5)


@register(
    "q_embedding_dim_stats",
    """
    WITH ex AS (
      SELECT CAST(t.i AS INTEGER) - 1 AS dim,
             CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS x
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
    )
    SELECT dim,
           CAST(sum(CAST(round(x * 1000000.0) AS BIGINT)) AS BIGINT)
             AS sum_x_micro,
           min(x) AS min_x,
           max(x) AS max_x,
           count(*) AS n
    FROM ex GROUP BY dim
    """,
)
def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension corpus statistics over the embedding column (the
    normalization-stats pass an ANN index build needs): posexplode ->
    one partial+final hash aggregate keyed by dimension — 64 groups,
    so the final exchange is trivial; the heavy work is the map-side
    partial agg, which scales linearly with corpus size. The sum is
    fixed-point (micro-units, integer accumulation) — decimal-cast of
    float32-promoted doubles rounds differently per engine at the last
    digit, while round()-to-integer is the same IEEE double op and
    away-from-zero rule in both."""
    emb = read_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        F.posexplode("embedding").alias("dim", "x")
    ).select("dim", F.col("x").cast("double").alias("x"))
    return exploded.groupBy("dim").agg(
        F.sum(F.round(F.col("x") * 1000000.0).cast("long")).alias("sum_x_micro"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.count("*").alias("n"),
    )


@register(
    "q_fingerprint_rolling",
    """
    SELECT doc_id,
           list_reduce(
               list_prepend(
                   CAST(7 AS BIGINT),
                   list_transform(regexp_split_to_array(text, ''),
                                  c -> CAST(ascii(c) AS BIGINT))),
               (acc, x) -> (acc * 31 + x) % 2147483647
           ) AS fp
    FROM documents WHERE length(text) > 0
    """,
)
def q_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7/X9 rolling-hash document fingerprint (Rabin-Karp polynomial
    fold over character codes) — oracle-checked bit-for-bit against
    DuckDB's list_reduce."""
    from breweries_data_pipeline_spark.functions.text import rolling_fingerprint

    docs = read_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    return docs.select("doc_id", rolling_fingerprint("text").alias("fp"))


@register(
    "q_dedup_embedding",
    f"""
    WITH aug AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding,
             label
      FROM embeddings
      UNION ALL
      SELECT vec_id + 100000,
             list_transform(range(1, len(embedding) + 1),
                            i -> CAST(embedding[i] AS DOUBLE)
                                 * (1.0 + CAST((vec_id + i - 1) % 7 AS DOUBLE)
                                          * 0.0001)) AS embedding,
             label
      FROM embeddings
    ),
    dups AS (
      SELECT DISTINCT b.vec_id
      FROM aug a JOIN aug b ON a.vec_id < b.vec_id
      WHERE {_SQL_DOT.format(a='a.embedding', b='b.embedding')}
            / (sqrt({_SQL_DOT.format(a='a.embedding', b='a.embedding')})
               * sqrt({_SQL_DOT.format(a='b.embedding', b='b.embedding')}))
            >= 0.9
    )
    SELECT vec_id, label FROM aug
    WHERE vec_id NOT IN (SELECT vec_id FROM dups)
    """,
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7/X8 embedding-cosine near-dup dedup: LSH-banded corpus
    self-join (bucketed, no crossJoin) + exact cosine >= 0.9, drop the
    larger id of each pair. The synthetic embeddings are random (no
    true pairs at 0.9), so the query PLANTS one near-duplicate per
    vector — a deterministically perturbed copy at vec_id + 100000,
    elementwise x * (1 + ((vec_id + dim) % 7) * 1e-4), identical
    arithmetic in both engines — and dedups the augmented corpus.
    Full oracle: DuckDB recomputes exact all-pairs cosine, so a single
    LSH-missed pair or a flipped threshold test breaks the hash (the
    pair kernel is the exact left-fold dot, bit-equal to DuckDB's
    list fold; planted cosines sit near 1, random ones below 0.52, so
    the 0.9 test is decided by >0.38 margins)."""
    from breweries_data_pipeline_spark.operators.similarity import dedup_embeddings

    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        "label",
    )
    pert = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x.cast("double")
            * (F.lit(1.0) + ((F.col("vec_id") + i) % 7).cast("double") * F.lit(0.0001)),
        ).alias("embedding"),
        "label",
    )
    # persisted: the augmented corpus (an INTERPRETED HOF transform —
    # CodegenFallback — over every vector) feeds the exact-collapse
    # keying, the adaptive-banding count, the LSH base, the star-edge
    # map AND the final anti-join — unpersisted it re-evaluates ~5x
    # across the DAG (r12 measured: sf1 wall 9.1 -> 3.8s with the
    # persist; 20 MB at sf1, tracked for bulk release)
    aug = _persist(base.unionByName(pert))
    return dedup_embeddings(aug, threshold=0.9).select("vec_id", "label")


@register("q_similarity_ivf", None)
def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8 IVF ANN: inverted lists by nearest centroid, n_probe-list
    search + exact rerank. Rows-only (recall < 1 by design); recall
    floor asserted in tests/test_similarity.py."""
    from breweries_data_pipeline_spark.operators.similarity import ivf_topk

    emb = read_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5)
    return ivf_topk(emb, probes, k=5)


@register("q_similarity_ann", None)
def q_similarity_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8 ANN scale path: random-hyperplane LSH banded candidates
    (equi-join on band values — bucketed, no all-pairs fan-out) +
    exact cosine rank of candidates. Rows-only: recall < 1 by design,
    so no SQL oracle; recall vs the exact query is asserted in
    tests/test_similarity.py."""
    emb = read_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5)
    return ann_topk(emb, probes, k=5)


# ---------------------------------------------------------------------------
# multimodal binary columns (BASELINE extension; fake codec, real plumbing)
# ---------------------------------------------------------------------------


@register(
    "q_multimodal_decode",
    """
    SELECT doc_id AS media_id,
           CAST(16 + doc_id % 17 AS BIGINT) AS width,
           CAST(16 + doc_id % 13 AS BIGINT) AS height,
           CAST(1 + doc_id % 3 AS BIGINT) AS channels,
           CAST(17 + (16 + doc_id % 17) * (16 + doc_id % 13) * (1 + doc_id % 3)
                AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal: binary blobs born executor-side (mapInPandas),
    decoded back to typed metadata (mapInPandas). The oracle recomputes
    the fake codec's id->dimensions arithmetic in SQL, so the full
    Arrow round-trip (encode -> binary column -> decode) is
    hash-checked."""
    from breweries_data_pipeline_spark.operators.multimodal import (
        decode_dimensions,
        media_from_ids,
    )

    docs = read_table(spark, sf_dir, "documents")
    return decode_dimensions(media_from_ids(docs))


@register(
    "q_frame_sample",
    """
    SELECT doc_id AS media_id,
           CAST(1000 + (doc_id % 10) * 700 AS BIGINT) AS duration_ms,
           CAST((1000 + (doc_id % 10) * 700) // 1000 + 1 AS BIGINT) AS n_frames,
           CAST(((1000 + (doc_id % 10) * 700) // 1000) * 1000 AS BIGINT)
             AS last_offset_ms
    FROM documents
    """,
)
def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal video-style frame sampling: per-clip sample-offset
    sequence (every 1000 ms over the clip duration) as a pure JVM-side
    column expression — no UDF, no explode shuffle; the downstream
    frame-decode step would map each offset through the env-gated
    codec. Oracle recomputes the sequence arithmetic."""
    from breweries_data_pipeline_spark.operators.multimodal import (
        frame_sample_offsets,
    )

    docs = read_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        (F.lit(1000) + (F.col("doc_id") % 10) * 700).cast("long").alias("duration_ms"),
    )
    with_offsets = docs.withColumn("offsets", frame_sample_offsets("duration_ms", 1000))
    return with_offsets.select(
        "media_id",
        "duration_ms",
        F.size("offsets").cast("long").alias("n_frames"),
        F.element_at("offsets", -1).alias("last_offset_ms"),
    )


@register(
    "q_multimodal_features",
    """
    WITH m AS (
      SELECT doc_id AS media_id,
             (16 + doc_id % 17) * (16 + doc_id % 13) * (1 + doc_id % 3) AS n,
             (doc_id * 2654435761) % 4294967296 AS seed
      FROM documents
    ),
    b AS (
      SELECT media_id, n, CAST(t.i AS BIGINT) AS i,
             ((seed + CAST(t.i AS BIGINT) * 40503) >> 3) & 255 AS v
      FROM m, unnest(generate_series(0, n - 1)) AS t(i)
    ),
    s AS (
      SELECT media_id,
             CASE WHEN i < (n % 8) * (n // 8 + 1)
                  THEN i // (n // 8 + 1)
                  ELSE (n % 8) + (i - (n % 8) * (n // 8 + 1)) // (n // 8)
             END AS stripe,
             v
      FROM b
    )
    SELECT media_id,
           CAST(stripe AS BIGINT) AS stripe,
           CAST(CAST(CAST(sum(v) AS DOUBLE) / count(*) / 255.0 AS REAL) AS DOUBLE)
             AS feature
    FROM s GROUP BY media_id, stripe
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction: blob -> array<float> via
    Arrow-batched mapInPandas (the embedding-model-forward-pass shape),
    exploded to (media_id, stripe, feature) scalars. Full oracle: the
    FAKEIMG1 payload is pure id-derived arithmetic, so DuckDB
    regenerates every byte, replays numpy's array_split stripe bounds,
    and recomputes each stripe mean with the same two IEEE double
    divisions + one float32 rounding — bit-exact through the whole
    encode -> Arrow -> decode -> feature path."""
    from breweries_data_pipeline_spark.operators.multimodal import (
        image_features,
        media_from_ids,
    )

    docs = read_table(spark, sf_dir, "documents")
    feats = image_features(media_from_ids(docs))
    return feats.select(
        "media_id", F.posexplode("features").alias("stripe", "feature")
    ).select(
        "media_id",
        F.col("stripe").cast("long").alias("stripe"),
        F.col("feature").cast("double").alias("feature"),
    )


# ---------------------------------------------------------------------------
# X10 event-time windows (batch form; streaming in streaming/)
# ---------------------------------------------------------------------------


@register(
    "q_event_window",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_event_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10 tumbling 1-hour event-time window aggregation (batch analog
    of the streaming query; same F.window expression)."""
    events = read_table(spark, sf_dir, "events")
    agg = event_time_window_agg(
        events,
        "ts",
        "1 hour",
        ["event_type"],
        [
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        ],
    )
    return agg.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


@register(
    "q_event_window_sliding",
    """
    WITH buckets AS (
        SELECT to_timestamp((epoch_us(ts) // 1800000000) * 1800) AS ws, event_type
        FROM events
        UNION ALL
        SELECT to_timestamp((epoch_us(ts) // 1800000000) * 1800 - 1800), event_type
        FROM events
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, count(*) AS n_events
    FROM buckets GROUP BY 1, 2
    """,
)
def q_event_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10 sliding window (1h window, 30m slide): every event lands in
    exactly two windows. The oracle materializes the two bucket starts
    per event explicitly — same row multiset as Spark's Expand-based
    sliding window."""
    events = read_table(spark, sf_dir, "events")
    agg = event_time_window_agg(
        events,
        "ts",
        "1 hour",
        ["event_type"],
        [F.count("*").alias("n_events")],
        slide_duration="30 minutes",
    )
    return agg.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
    )


@register(
    "q_session_window",
    """
    WITH marks AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    grouped AS (
        SELECT user_id, ts,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM marks
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events
    FROM grouped GROUP BY user_id, sid
    """,
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10 session windows (10-minute inactivity gap) per user —
    Spark's session_window merges events with gap < 10 min; the oracle
    is the classic gaps-and-islands spelling with the same
    end-exclusive boundary (diff >= gap starts a new session)."""
    events = read_table(spark, sf_dir, "events")
    agg = events.groupBy(
        F.session_window("ts", "10 minutes").alias("w"), "user_id"
    ).agg(F.count("*").alias("n_events"))
    return agg.select(
        "user_id",
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        "n_events",
    )


@register(
    "q_session_window_stream",
    """
    WITH marks AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    grouped AS (
        SELECT user_id, ts,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM marks
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events
    FROM grouped GROUP BY user_id, sid
    """,
)
def q_session_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10 streaming session windows: the SAME session_window
    expression as the batch q_session_window over a watermarked
    stream, drained with availableNow. Session state merges adjacent
    windows as events arrive and finalizes past the watermark. FULL
    oracle — the drain finalizes every session, so the gaps-and-
    islands SQL of the batch twin applies verbatim."""
    import tempfile

    from breweries_data_pipeline_spark.streaming import read_events_stream

    sdf = read_events_stream(spark, sf_dir)
    agg = (
        sdf.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
        )
    )
    __ck = tempfile.mkdtemp(prefix="bdp_sess_")
    from breweries_data_pipeline_spark.streaming import state_partitions
    # small-state drain: cost is per-partition checkpoint I/O,
    # not data (see state_partitions)
    with state_partitions(spark, 8):
        q = (
            agg.writeStream.format("memory")
            .queryName("q_session_window_stream")
            .outputMode("complete")
            .option("checkpointLocation", __ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        _drop_scratch(__ck)
    return spark.table("q_session_window_stream")


@register("q_streaming_dedup", None)
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10 streaming dedup (dropDuplicatesWithinWatermark): state
    evicted at the watermark, so memory is bounded by key-arrival rate
    x horizon. Rows-only; batch parity asserted in
    tests/test_streaming_stateful.py."""
    import tempfile

    from breweries_data_pipeline_spark.streaming import (
        read_events_stream,
        streaming_dedup,
    )

    sdf = read_events_stream(spark, sf_dir)
    out = streaming_dedup(sdf, ["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    __ck = tempfile.mkdtemp(prefix="bdp_sdedup_")
    from breweries_data_pipeline_spark.streaming import state_partitions
    # small-state drain: cost is per-partition checkpoint I/O,
    # not data (see state_partitions)
    with state_partitions(spark, 8):
        q = (
            out.writeStream.format("memory")
            .queryName("q_streaming_dedup")
            .outputMode("append")
            .option("checkpointLocation", __ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        _drop_scratch(__ck)
    return spark.table("q_streaming_dedup")


@register(
    "q_stateful_counts",
    """
    SELECT user_id, count(*) AS n_events,
           CAST(sum(CAST(round(value * 1000000.0) AS BIGINT)) AS DOUBLE)
             / 1000000.0 AS sum_value
    FROM events GROUP BY user_id
    """,
)
def q_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10 custom stateful operator (applyInPandasWithState): running
    per-user (count, sum) in explicit group state. FULL oracle: the
    state accumulates fixed-point micro-units (rounded JVM-side with
    the proven-parity F.round), so the drained totals are exact,
    arrival-order-free, and equal the one-shot SQL aggregate."""
    import tempfile

    from breweries_data_pipeline_spark.streaming import (
        read_events_stream,
        stateful_user_counts,
    )

    sdf = read_events_stream(spark, sf_dir)
    __ck = tempfile.mkdtemp(prefix="bdp_sstate_")
    from breweries_data_pipeline_spark.streaming import state_partitions
    # small-state drain: cost is per-partition checkpoint I/O,
    # not data (see state_partitions)
    with state_partitions(spark, 8):
        q = (
            stateful_user_counts(sdf)
            .writeStream.format("memory")
            .queryName("q_stateful_counts")
            .outputMode("update")
            .option("checkpointLocation", __ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        _drop_scratch(__ck)
    return spark.table("q_stateful_counts")


@register(
    "q_stream_stream_join",
    """
    SELECT c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           p.value AS purchase_value
    FROM events c JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10 stream-stream interval join: per-user clicks joined to
    purchases within 1 hour, both sides watermarked so join state is
    evicted past watermark + interval. Drained with availableNow.
    FULL oracle — the drained inner interval join emits exactly the
    batch inequality-join rows (purchase values pass through
    unarithmeticked, so the hash is safe).

    State sized via state_partitions(8): a stream-stream join keeps
    TWO state stores, and per-micro-batch cost is store x partition
    file I/O regardless of row volume — at the bench SFs the default
    32 partitions spent 3x the query's wall on checkpoint traffic."""
    import tempfile

    from breweries_data_pipeline_spark.streaming import (
        interval_join,
        read_events_stream,
        state_partitions,
    )

    with state_partitions(spark, 8):
        sdf = read_events_stream(spark, sf_dir)
        clicks = sdf.filter(F.col("event_type") == "click").select(
            "user_id", "ts"
        )
        buys = sdf.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts", "value"
        )
        j = interval_join(clicks, buys, "user_id").select(
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
            F.date_format("ts_r", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
            F.col("value_r").alias("purchase_value"),
        )
        __ck = tempfile.mkdtemp(prefix="bdp_ssj_")
        q = (
            j.writeStream.format("memory")
            .queryName("q_stream_stream_join")
            .outputMode("append")
            .option("checkpointLocation", __ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        _drop_scratch(__ck)
    return spark.table("q_stream_stream_join")


@register(
    "q_stream_static_join",
    """
    SELECT e.event_id,
           e.user_id,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           e.value AS purchase_value,
           c.c_mktsegment AS segment,
           c.c_name AS cust_name
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.event_type = 'purchase'
    """,
)
def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10 stream-static enrichment join: the purchase stream
    decorated with the static customer dim (broadcast, stateless —
    no state store, no watermark; see streaming.joins.static_enrich).
    Drained with availableNow. FULL oracle — the drained row set is
    exactly the batch join (values pass through unarithmeticked), and
    arrival order cannot matter because every input row emits exactly
    one output row."""
    import tempfile

    from breweries_data_pipeline_spark.streaming import (
        read_events_stream,
        static_enrich,
    )

    buys = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "value")
    )
    dim = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_name"
    )
    enriched = static_enrich(
        buys, dim, buys["user_id"] == dim["c_custkey"]
    ).select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_name").alias("cust_name"),
    )
    __ck = tempfile.mkdtemp(prefix="bdp_ssd_")
    from breweries_data_pipeline_spark.streaming import state_partitions
    # small-state drain: cost is per-partition checkpoint I/O,
    # not data (see state_partitions)
    with state_partitions(spark, 8):
        q = (
            enriched.writeStream.format("memory")
            .queryName("q_stream_static_join")
            .outputMode("append")
            .option("checkpointLocation", __ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        _drop_scratch(__ck)
    return spark.table("q_stream_static_join")


@register(
    "q_streaming_corpus_ingest",
    f"""
    SELECT doc_id, fingerprint FROM (
        SELECT doc_id,
               {_SQL_FINGERPRINT} AS fingerprint,
               row_number() OVER (
                   PARTITION BY {_SQL_FINGERPRINT} ORDER BY doc_id
               ) AS rn
        FROM documents
    ) t WHERE rn = 1
    """,
)
def q_streaming_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7/X10 streaming corpus ingestion: documents stream through
    foreachBatch, each micro-batch fingerprint-anti-joined against the
    accepted store and published as a committed (manifest) version.
    FULL oracle — rare for streaming: with the availableNow drain over
    one parquet source the accepted corpus equals batch exact dedup
    (smallest doc_id per fingerprint), which SQL recomputes; replay
    idempotency is separately tested in tests/test_streaming.py."""
    import tempfile

    from breweries_data_pipeline_spark.streaming import (
        read_corpus,
        read_documents_stream,
        streaming_corpus_ingest,
    )

    store = tempfile.mkdtemp(prefix="bdp_corpus_store_")
    ckpt = tempfile.mkdtemp(prefix="bdp_corpus_ckpt_")
    sdf = read_documents_stream(spark, sf_dir)
    streaming_corpus_ingest(sdf, store, checkpoint_dir=ckpt)
    # checkpoint droppable once the drain finishes; store is NOT —
    # the returned DataFrame reads it
    _drop_scratch(ckpt)
    return read_corpus(spark, store).select("doc_id", "fingerprint")


@register(
    "q_streaming_upsert",
    """
    SELECT user_id, event_type, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
           value
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY user_id, event_type
               ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
    ) t WHERE rn = 1
    """,
)
def q_streaming_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10 streaming CDC upsert: foreachBatch merges each micro-batch
    into a versioned parquet snapshot (latest event per (user_id,
    event_type), ts then event_id wins). Idempotent per batch-id, so
    checkpoint-replay-safe. FULL oracle — latest-record-wins merging
    is associative across micro-batches, so the drained snapshot
    equals the one-shot SQL row_number pick regardless of how the
    stream was batched."""
    import tempfile

    from breweries_data_pipeline_spark.streaming import (
        read_events_stream,
        read_snapshot,
        streaming_upsert,
    )

    snap = tempfile.mkdtemp(prefix="bdp_upsert_snap_")
    ckpt = tempfile.mkdtemp(prefix="bdp_upsert_ckpt_")
    sdf = read_events_stream(spark, sf_dir).select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    streaming_upsert(
        sdf,
        snap,
        ["user_id", "event_type"],
        ["ts", "event_id"],
        checkpoint_dir=ckpt,
    )
    # checkpoint droppable once the drain finishes; snap is NOT —
    # the returned DataFrame reads the published snapshot
    _drop_scratch(ckpt)
    out = read_snapshot(spark, snap)
    return out.select(
        "user_id",
        "event_type",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        "value",
    )


@register(
    "q_event_window_stream",
    """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_event_window_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10 streaming form: the SAME window expression as q_event_window
    over a file-source stream, drained with an availableNow trigger.
    FULL oracle — the complete-mode drain finalizes every window, so
    the result equals the batch aggregate, which SQL recomputes
    (decimal value sums are reduction-order-independent, so streaming
    vs batch accumulation order cannot flip the hash)."""
    from breweries_data_pipeline_spark.streaming import (
        read_events_stream,
        run_available_now,
        streaming_event_window_agg,
    )

    sdf = read_events_stream(spark, sf_dir)
    agg = streaming_event_window_agg(
        sdf,
        "ts",
        "1 hour",
        ["event_type"],
        [
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        ],
    )
    shaped = agg.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )
    from breweries_data_pipeline_spark.streaming import state_partitions

    with state_partitions(spark, 8):
        return run_available_now(shaped, "q_event_window_stream")


# ---------------------------------------------------------------------------
# set operations (round 2: INTERSECT / EXCEPT surface)
# ---------------------------------------------------------------------------


@register(
    "q_intersect",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (set semantics): nations that have both customers and
    suppliers. Plans as a left-semi join over distinct keys — only the
    key column shuffles, never payloads."""
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp = read_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return cust.intersect(supp)


@register(
    "q_except",
    """
    SELECT DISTINCT o_custkey AS custkey FROM orders
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set semantics): customers who placed orders but never a
    fulfilled ('F') one. Plans as a left-anti join over distinct keys."""
    orders = read_table(spark, sf_dir, "orders")
    all_c = orders.select(F.col("o_custkey").alias("custkey"))
    f_c = orders.where(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return all_c.subtract(f_c)


@register(
    "q_full_outer",
    """
    SELECT nationkey,
           COALESCE(c.n_cust, 0) AS n_cust,
           COALESCE(s.n_supp, 0) AS n_supp
    FROM (SELECT c_nationkey AS nationkey, count(*) AS n_cust
          FROM customer GROUP BY 1) c
    FULL OUTER JOIN (SELECT s_nationkey AS nationkey, count(*) AS n_supp
                     FROM supplier GROUP BY 1) s USING (nationkey)
    """,
)
def q_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join of two pre-aggregated sides (customer vs supplier
    counts per nation), null-coalesced. Aggregating BEFORE the join keeps
    the outer join over ~25 nation rows instead of raw fact rows."""
    c = (
        read_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        read_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count("*").alias("n_supp"))
    )
    return c.join(s, "nationkey", "full_outer").select(
        "nationkey",
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


# ---------------------------------------------------------------------------
# round-2 aggregation surface: grouping sets, arg-min/max, filtered aggs
# ---------------------------------------------------------------------------


@register(
    "q_grouping_sets",
    """
    SELECT COALESCE(l_returnflag, 'ALL') AS rf,
           COALESCE(l_linestatus, 'ALL') AS ls,
           count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form of rollup/cube — X6):
    per-flag totals, per-status totals, and the grand total in ONE
    Expand+HashAggregate pass instead of three scans unioned."""
    li = read_table(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus")
    g = li.groupingSets(
        [["l_returnflag"], ["l_linestatus"], []], "l_returnflag", "l_linestatus"
    ).agg(F.count("*").alias("n"))
    return g.select(
        F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
        F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
        "n",
    )


@register(
    "q_minmax_by",
    """
    WITH ranked AS (
        SELECT c_nationkey, c_name,
               row_number() OVER (PARTITION BY c_nationkey
                                  ORDER BY c_acctbal DESC, c_name DESC) AS rmax,
               row_number() OVER (PARTITION BY c_nationkey
                                  ORDER BY c_acctbal ASC, c_name ASC) AS rmin
        FROM customer)
    SELECT c_nationkey AS nationkey,
           max(CASE WHEN rmax = 1 THEN c_name END) AS richest,
           min(CASE WHEN rmin = 1 THEN c_name END) AS poorest
    FROM ranked GROUP BY 1
    """,
)
def q_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-max/arg-min as single-pass aggregates: richest and poorest
    customer name per nation via max_by/min_by over a (acctbal, name)
    struct (the struct gives a total order, so ties are deterministic).
    One hash aggregate — no window sort, no self-join; at 100 TB this
    beats the row_number() formulation by an entire shuffle+sort."""
    cust = read_table(spark, sf_dir, "customer")
    return cust.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.expr("max_by(c_name, struct(c_acctbal, c_name))").alias("richest"),
        F.expr("min_by(c_name, struct(c_acctbal, c_name))").alias("poorest"),
    )


@register(
    "q_filtered_agg",
    """
    SELECT l_returnflag,
           count(*) FILTER (WHERE l_quantity > 25) AS n_high,
           CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT))
                FILTER (WHERE l_quantity <= 25) AS DOUBLE) / 100.0 AS sum_low_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional (filtered) aggregation: different predicates per
    aggregate in one pass — count_if + sum(when) instead of two scans.
    Fixed-point (cent) accumulation keeps the double sum
    order-independent."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("count_if(l_quantity > 25)").alias("n_high"),
        (
            F.sum(
                F.when(
                    F.col("l_quantity") <= 25,
                    F.round(F.col("l_extendedprice") * 100.0).cast("long"),
                )
            ).cast("double")
            / 100.0
        ).alias("sum_low_price"),
    )


# ---------------------------------------------------------------------------
# round-2 sampling + lateral/array surface
# ---------------------------------------------------------------------------


@register(
    "q_hash_sample",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) <= '0c'
    """,
)
def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sampling (~5% = 13/256 md5-prefix buckets).
    Unlike TABLESAMPLE/rand(), the sample is a pure function of the key:
    reproducible across runs, engines, and partitionings — the property
    a training-data pipeline needs for stable held-out splits. The
    predicate is a narrow map: no shuffle, and the same expression works
    as a partition-level filter at any scale."""
    o = read_table(spark, sf_dir, "orders")
    return o.where(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2) <= "0c"
    ).select("o_orderkey", "o_custkey", "o_totalprice")


@register(
    "q_explode_tokens",
    """
    SELECT token, count(*) AS n
    FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token
          FROM documents) t
    WHERE token <> ''
    GROUP BY token
    ORDER BY n DESC, token ASC
    LIMIT 20
    """,
)
def q_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral explode: top-20 whitespace tokens across the corpus.
    Generate (explode) → partial map-side count → final count → top-k via
    TakeOrderedAndProject; the exploded rows never hit a wide shuffle
    because partial aggregation collapses them per-partition first."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token")
    ).where(F.col("token") != "")
    return (
        toks.groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


@register(
    "q_minmax_scale",
    """
    SELECT user_id, event_id, value,
           CASE WHEN max(value) OVER w = min(value) OVER w THEN 0.5
                ELSE (value - min(value) OVER w)
                     / (max(value) OVER w - min(value) OVER w)
           END AS value_scaled
    FROM events
    WINDOW w AS (PARTITION BY user_id)
    """,
)
def q_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity min-max feature scaling (ML prep): value mapped to
    [0,1] within each user's range, constant groups pinned to 0.5.
    One hash exchange on the entity key; the arithmetic is two stored
    doubles and one IEEE division — hash-exact cross-engine."""
    ev = read_table(spark, sf_dir, "events").select("user_id", "event_id", "value")
    w = Window.partitionBy("user_id")
    mn, mx = F.min("value").over(w), F.max("value").over(w)
    return ev.select(
        "user_id",
        "event_id",
        "value",
        F.when(mx == mn, F.lit(0.5))
        .otherwise((F.col("value") - mn) / (mx - mn))
        .alias("value_scaled"),
    )


@register(
    "q_zscore",
    """
    WITH s AS (
      SELECT user_id, event_id, value,
             CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sum_v,
             CAST(sum(CAST(value * value AS DECIMAL(28,8))) OVER w AS DOUBLE)
               AS sum_sq,
             CAST(count(*) OVER w AS DOUBLE) AS n
      FROM events
      WINDOW w AS (PARTITION BY user_id)
    )
    SELECT user_id, event_id, value,
           (value - sum_v / n)
             / sqrt(sum_sq / n - (sum_v / n) * (sum_v / n)) AS zscore
    FROM s
    """,
)
def q_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity z-score standardization (ML prep). Mean and variance
    come from decimal-exact sum / sum-of-squares windows cast to
    double, then a pinned-order double expression — so the score is
    hash-exact without engine-native stddev (whose reduction order
    differs). One hash exchange on the entity key."""
    ev = read_table(spark, sf_dir, "events").select("user_id", "event_id", "value")
    w = Window.partitionBy("user_id")
    sum_v = F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double")
    sum_sq = (
        F.sum((F.col("value") * F.col("value")).cast("decimal(28,8)"))
        .over(w)
        .cast("double")
    )
    n = F.count("*").over(w).cast("double")
    mean = sum_v / n
    return ev.select(
        "user_id",
        "event_id",
        "value",
        ((F.col("value") - mean) / F.sqrt(sum_sq / n - mean * mean)).alias("zscore"),
    )


@register(
    "q_fill_forward",
    """
    WITH nulled AS (
      SELECT user_id, event_id, ts,
             CASE WHEN event_type = 'error' THEN NULL ELSE value END AS value
      FROM events
    )
    SELECT user_id, event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
           last_value(value IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value_filled
    FROM nulled
    """,
)
def q_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill imputation (LOCF): per-user carry-forward of the
    last observed value over gaps (here: 'error' events nullified,
    then filled). One hash exchange on the entity key; the same
    carry-forward window the as-of join composes. Leading nulls stay
    null — LOCF never invents data."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.col("event_type") == "error", None)
        .otherwise(F.col("value"))
        .alias("value"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.last("value", ignorenulls=True).over(w).alias("value_filled"),
    )


@register(
    "q_pack_sequences",
    r"""
    WITH t AS (
      SELECT doc_id,
             doc_id % 8 AS shard,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
               AS n_tokens
      FROM documents
    )
    SELECT doc_id, shard, n_tokens,
           CAST(COALESCE(sum(n_tokens) OVER (
             PARTITION BY shard ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) // 2048 AS BIGINT) AS pack_id
    FROM t
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: assign docs to ~2048-token packs
    (streaming bin-fill: a pack may overflow by its last doc, the
    standard truncate-later discipline). Shard-parallel: docs hash into
    8 shards, the cumulative token window runs PER SHARD — at 100 TB
    raise the shard count with the cluster, never a single global
    ordered window."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % 8).alias("shard"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return docs.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.floor(F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / 2048).alias(
            "pack_id"
        ),
    )


@register(
    "q_stratified_sample",
    """
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    ) t WHERE rn <= 25
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: exactly 25 docs per language
    stratum, ordered by a key hash — a pure function of the data (same
    sample every run, any partitioning), unlike TABLESAMPLE/rand().
    The training-data use: per-language balanced subsets for
    eval/holdout carving. A handful of language strata over a
    web-scale corpus is the few-groups window collapse, so the rank
    is the salted two-phase topk_per_group — lang x 64 parallel
    prunes to 25 rows each, then a trivial re-rank."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return topk_per_group(
        docs.withColumn("__ok", F.md5(F.col("doc_id").cast("string"))),
        ["lang"],
        [F.col("__ok"), F.col("doc_id")],
        25,
        rank_name="rn",
        salt=F.xxhash64("doc_id"),
        salt_buckets=64,
    ).select("doc_id", "lang")


@register(
    "q_split_assign",
    """
    SELECT doc_id,
           CASE WHEN b < 90 THEN 'train'
                WHEN b < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8))::BIGINT
               % 100 AS b
      FROM documents
    )
    """,
)
def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (90/5/5) by md5 hash bucket
    of the doc id — leakage-safe: membership is a pure function of the
    id, so growing the corpus never moves an existing doc between
    splits. Narrow projection, zero shuffle; oracle recomputes the
    identical digest arithmetic."""
    from breweries_data_pipeline_spark.operators.corpus import split_assign

    docs = read_table(spark, sf_dir, "documents")
    return split_assign(docs).select("doc_id", "split")


@register(
    "q_shuffle_shards",
    """
    WITH h AS (
      SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR) || ':shuffle') AS d,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shuffle'), 1, 8))::BIGINT
               % 16 AS shard
      FROM documents
    )
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY d, doc_id)
                AS BIGINT) AS pos
    FROM h
    """,
)
def q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle materialized as (shard, pos):
    shard by hash bucket, position by full-digest rank within the
    shard — a reproducible pseudo-random permutation of the corpus
    with ONE hash exchange and per-shard sorts (never a global sort /
    single-partition window), so 1000 executors write shards in
    parallel."""
    from breweries_data_pipeline_spark.operators.corpus import shuffle_shards

    docs = read_table(spark, sf_dir, "documents")
    return shuffle_shards(docs).select("doc_id", "shard", "pos")


@register(
    "q_decontaminate",
    f"""
    WITH sh5 AS (
      SELECT doc_id, {_sql_shingles(5)} AS s FROM documents
    ),
    bench AS (
      SELECT DISTINCT unnest(s) AS sh FROM sh5 WHERE doc_id % 97 = 0
    ),
    bad AS (
      SELECT DISTINCT t.doc_id
      FROM (SELECT doc_id, unnest(s) AS sh FROM sh5 WHERE doc_id % 97 <> 0) t
      JOIN bench b ON t.sh = b.sh
    )
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id % 97 <> 0
      AND d.doc_id NOT IN (SELECT doc_id FROM bad)
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs whose id is a multiple of 97
    stand in for the eval set; every training doc sharing a token
    5-gram with them is dropped (the standard eval-leakage filter).
    Plan: benchmark shingles broadcast, one corpus scan + explode of
    (id, shingle) pairs, anti-join of contaminated ids. Oracle
    recomputes the same shingle sets and overlap in SQL."""
    from breweries_data_pipeline_spark.operators.corpus import decontaminate

    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    train = docs.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(train, bench, n=5).select(
        "doc_id", "lang", "source", "n_chars"
    )


_SQL_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_SQL_PHONE_RE = "\\+?[0-9]{1,2}-[0-9]{3}-[0-9]{3,4}-?[0-9]{0,4}"


@register(
    "q_pii_redact",
    """
    SELECT doc_id,
           md5(regexp_replace(regexp_replace(
                 text || ' contact: user' || CAST(doc_id AS VARCHAR)
                      || '@example.com or +1-555-'
                      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
                 '"""
    + _SQL_EMAIL_RE
    + """', '<EMAIL>', 'g'),
                 '"""
    + _SQL_PHONE_RE
    + """', '<PHONE>', 'g')) AS fp
    FROM documents
    """,
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: every doc gets a planted email + phone number
    (deterministic, id-derived — the corpus itself has none), then the
    redaction pass replaces both with typed tags. Output is the md5
    fingerprint of the redacted text, so the oracle proves BYTE
    equality of the full scrubbed corpus, not just counts. The
    patterns use only character classes + bounded quantifiers, which
    behave identically under Java regex and RE2 (no lookaround)."""
    from breweries_data_pipeline_spark.functions.text import pii_redact

    docs = read_table(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.lit(" contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    return docs.select(
        "doc_id", F.md5(pii_redact(planted)).alias("fp")
    )


@register(
    "q_dedup_incremental",
    f"""
    WITH hist AS (
      SELECT DISTINCT {_SQL_FINGERPRINT} AS fingerprint
      FROM documents WHERE doc_id % 10 <> 0
    ),
    fresh AS (
      SELECT doc_id, {_SQL_FINGERPRINT} AS fingerprint
      FROM documents WHERE doc_id % 10 = 0
    )
    SELECT doc_id, fingerprint FROM (
      SELECT f.doc_id, f.fingerprint,
             row_number() OVER (
               PARTITION BY f.fingerprint ORDER BY f.doc_id
             ) AS rn
      FROM fresh f
      WHERE f.fingerprint NOT IN (SELECT fingerprint FROM hist)
    ) t WHERE rn = 1
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 incremental exact dedup — the daily-crawl ingest shape: the
    new batch (doc_id multiple of 10 stands in for today's crawl) is
    anti-joined against the historical corpus's fingerprint set, then
    collapsed within-batch (keep smallest id). History contributes
    only its fingerprint column to the shuffle; at scale that column
    is stored precomputed and the anti-join is exchange-free under
    bucketing."""
    from breweries_data_pipeline_spark.operators.dedup import dedup_incremental

    docs = read_table(spark, sf_dir, "documents")
    new_batch = docs.filter(F.col("doc_id") % 10 == 0)
    history = docs.filter(F.col("doc_id") % 10 != 0)
    return dedup_incremental(new_batch, history).select("doc_id", "fingerprint")


@register(
    "q_quantize_embeddings",
    """
    WITH ex AS (
      SELECT vec_id, CAST(t.i AS INTEGER) - 1 AS dim,
             CAST(embedding[CAST(t.i AS INTEGER)] AS DOUBLE) AS x
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
    ),
    stats AS (SELECT dim, min(x) AS lo, max(x) AS hi FROM ex GROUP BY dim)
    SELECT e.vec_id, e.dim,
           CASE WHEN s.hi = s.lo THEN 0
                ELSE CAST(round((e.x - s.lo) * 255.0 / (s.hi - s.lo)) AS INTEGER)
           END AS q
    FROM ex e JOIN stats s USING (dim)
    """,
)
def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8 scalar int8 quantization of the embedding corpus (the
    storage half of an ANN index build): per-dimension min/max from
    one posexplode aggregate (64 groups, broadcast back), then a
    zero-shuffle recode pass. The code arithmetic is one fixed IEEE
    double op sequence + half-away-from-zero round in both engines,
    so codes hash-match bit-for-bit."""
    from breweries_data_pipeline_spark.operators.similarity import (
        quantize_embeddings,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    return quantize_embeddings(emb).select("vec_id", "dim", "q")


@register(
    "q_tfidf",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks
      WHERE term <> '' GROUP BY doc_id, term
    ), df AS (
      SELECT term, count(DISTINCT doc_id) AS df FROM toks
      WHERE term <> '' GROUP BY term
    ), n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, term,
           CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS score
    FROM tf JOIN df USING (term) CROSS JOIN n
    QUALIFY row_number() OVER (
      PARTITION BY doc_id ORDER BY score DESC, term
    ) <= 3
    """,
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TF-IDF, top-3 terms per doc. Linear-idf variant
    (tf * N / df): the score is one exact integer product and one IEEE
    double division in both engines, so it is hash-checkable — ln()
    is deliberately avoided because transcendental libm results are
    not guaranteed bit-equal cross-engine. Plan: ONE explode feeding
    the (doc, term) tf aggregate; document frequency derives from tf
    itself (rows per term == distinct docs per term), so the corpus is
    exploded once, not once per aggregate — at 100 TB the explode
    dominates and df runs over the much smaller tf table."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("term")
    ).where(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "score")
    )


@register("q_hll_rollup", None)
def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup (Datasketches HLL): one pass builds a
    per-status distinct-customer sketch; the global count then comes
    from UNIONING the sketches, not rescanning — the re-aggregation
    property exact distinct counts lack, and the reason sketches win
    at 100 TB (cube/rollup/incremental refresh all reuse the same
    partials). Rows-only (sketch estimates); the error bound vs exact
    distinct is asserted in tests/test_units.py."""
    o = read_table(spark, sf_dir, "orders").select("o_orderstatus", "o_custkey")
    per = o.groupBy("o_orderstatus").agg(
        F.hll_sketch_agg("o_custkey").alias("sk")
    )
    per_counts = per.select(
        "o_orderstatus",
        F.hll_sketch_estimate("sk").cast("long").alias("approx_customers"),
    )
    total = per.agg(F.hll_union_agg("sk").alias("sk")).select(
        F.lit("ALL").alias("o_orderstatus"),
        F.hll_sketch_estimate("sk").cast("long").alias("approx_customers"),
    )
    return per_counts.unionByName(total)


@register("q_freq_items", None)
def q_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via the Karp-Shenker-Papadimitriou single-pass
    sketch (df.stat.freqItems): every value with frequency > support
    is GUARANTEED present (possible false positives, no false
    negatives) — the 100 TB substitute for an exact groupBy-count-sort
    when only the hot keys matter. Rows-only (sketch contents depend
    on merge order); the superset guarantee is asserted in
    tests/test_units.py."""
    ev = read_table(spark, sf_dir, "events").select("event_type")
    return ev.stat.freqItems(["event_type"], support=0.1).select(
        F.explode("event_type_freqItems").alias("candidate_hot_value")
    )


@register("q_approx_percentile", None)
def q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles via the Greenwald-Khanna sketch
    (percentile_approx): mergeable partial sketches, one narrow pass +
    tiny final merge — the 100 TB path where the exact interpolated
    form (q_percentiles) would need a full sort. Rows-only: sketch
    merge order is partition-dependent; the rank-error bound
    (<= n/accuracy) is asserted in tests/test_units.py."""
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.percentile_approx("o_totalprice", [0.5, 0.9, 0.99], 10000).alias(
            "pcts"
        ),
        F.count("*").alias("n"),
    )


@register(
    "q_json_extract",
    """
    SELECT o_orderkey,
           json_extract_string(
             to_json(struct_pack(status := o_orderstatus, total := o_totalprice)),
             '$.status') AS status,
           CAST(json_extract(
             to_json(struct_pack(status := o_orderstatus, total := o_totalprice)),
             '$.total') AS DOUBLE) AS total
    FROM orders WHERE o_orderkey < 2000
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured round-trip: struct -> JSON string -> path
    extraction (to_json + get_json_object), all JVM-side. Doubles
    survive the JSON text round-trip exactly (shortest round-trip
    decimal in both engines). The training-data use: raw API payloads
    kept as JSON strings, fields pulled at query time."""
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    js = o.select(
        "o_orderkey",
        F.to_json(
            F.struct(
                F.col("o_orderstatus").alias("status"),
                F.col("o_totalprice").alias("total"),
            )
        ).alias("js"),
    )
    return js.select(
        "o_orderkey",
        F.get_json_object("js", "$.status").alias("status"),
        F.get_json_object("js", "$.total").cast("double").alias("total"),
    )


@register(
    "q_regexp_extract",
    r"""
    SELECT doc_id,
           regexp_extract(text, '([A-Za-z]{8,})', 1) AS long_word,
           len(regexp_extract_all(text, '[A-Za-z]{8,}')) AS n_long
    FROM documents
    WHERE regexp_matches(text, '[A-Za-z]{8,}')
    """,
)
def q_regexp_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex scalar surface: first 8+-letter word and the count of all
    of them per doc. Restricted to plain character-class syntax so
    Java and RE2 regex dialects agree; the regexp_like filter keeps
    no-match rows out (Spark returns '' where DuckDB returns NULL)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    pat = "([A-Za-z]{8,})"
    return docs.filter(F.col("text").rlike("[A-Za-z]{8,}")).select(
        "doc_id",
        F.regexp_extract("text", pat, 1).alias("long_word"),
        F.size(F.expr("regexp_extract_all(text, '([A-Za-z]{8,})', 1)")).cast(
            "long"
        ).alias("n_long"),
    )


@register(
    "q_ntile",
    """
    WITH t AS (
      SELECT o_orderkey, o_totalprice,
             ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
      FROM orders
    )
    SELECT quartile, count(*) AS n,
           CAST((sum(CAST(round((o_totalprice) * 100.0) AS BIGINT)) / 100.0) AS DOUBLE) AS sum_price
    FROM t GROUP BY quartile
    """,
)
def q_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile quartiles over a global order (single ordered exchange;
    at scale prefer range-partitioned approximation or percentile
    cutoffs — documented trade-off), with a deterministic o_orderkey
    tie-break so bucket boundaries are stable cross-engine."""
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    t = o.withColumn("quartile", F.ntile(4).over(w))
    return t.groupBy("quartile").agg(
        F.count("*").alias("n"),
        (F.sum(F.round(F.col("o_totalprice") * 100.0).cast("long")).cast("double")
         / 100.0).alias("sum_price"),
    )


@register(
    "q_higher_order",
    """
    SELECT vec_id,
           list_reduce(list_transform(embedding,
                                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                       (a, b) -> a + b) AS norm_sq,
           CAST(length(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos
    FROM embeddings
    """,
)
def q_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions entirely JVM-side (no UDF): squared
    L2 norm via transform+aggregate (left fold, bit-identical to the
    oracle's list_reduce since 0.0 + x == x) and positive-component
    count via filter+size. This is the hot-path shape for embedding
    math at scale — a narrow map over array columns."""
    emb = read_table(spark, sf_dir, "embeddings")
    sq = F.transform(
        F.col("embedding"), lambda x: x.cast("double") * x.cast("double")
    )
    return emb.select(
        "vec_id",
        F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x).alias("norm_sq"),
        F.size(F.filter(F.col("embedding"), lambda x: x > 0))
        .cast("long")
        .alias("n_pos"),
    )


# ---------------------------------------------------------------------------
# round-2 time series: gap-fill / resample
# ---------------------------------------------------------------------------


@register(
    "q_gapfill",
    """
    WITH b AS (SELECT date_trunc('hour', min(ts)) AS h0,
                      date_trunc('hour', max(ts)) AS h1 FROM events),
    hours AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
              FROM b),
    types AS (SELECT DISTINCT event_type FROM events),
    actual AS (SELECT date_trunc('hour', ts) AS hour, event_type,
                      count(*) AS n FROM events GROUP BY 1, 2)
    SELECT strftime(h.hour, '%Y-%m-%d %H:%M:%S') AS hour,
           t.event_type,
           COALESCE(a.n, 0) AS n_events
    FROM hours h
    CROSS JOIN types t
    LEFT JOIN actual a ON a.hour = h.hour AND a.event_type = t.event_type
    """,
)
def q_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill (resample to a dense hourly grid, zero-fill
    missing buckets). The dense axis is generated with sequence+explode
    from a 1-row bounds aggregate — never collected to the driver — and
    the (hours × types) grid side is tiny, so it broadcasts; the only
    shuffle is the per-bucket count's partial→final aggregation."""
    ev = read_table(spark, sf_dir, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    )
    bounds = ev.agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
    hours = bounds.select(
        F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("hour")
    )
    types = ev.select("event_type").distinct()
    grid = hours.crossJoin(types)
    actual = ev.groupBy("hour", "event_type").agg(F.count("*").alias("n_events"))
    return F.broadcast(grid).join(actual, ["hour", "event_type"], "left").select(
        F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# round-2 skew handling: salted join
# ---------------------------------------------------------------------------


@register(
    "q_join_salted",
    """
    SELECT o_orderpriority,
           count(*) AS n,
           CAST((sum(CAST(round((l_extendedprice) * 100.0) AS BIGINT)) / 100.0) AS DOUBLE) AS sum_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join (operators/joins.py salted_join): lineitem ⋈
    orders on orderkey with an 8-way deterministic salt — each hot key's
    rows land on 8 reducers instead of 1. The oracle is the PLAIN join:
    salting must be result-invariant."""
    from breweries_data_pipeline_spark.operators.joins import salted_join

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    j = salted_join(li, o, "l_orderkey", salt_from=["l_orderkey", "l_linenumber"])
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        (F.sum(F.round(F.col("l_extendedprice") * 100.0).cast("long")).cast("double")
         / 100.0).alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# round-2 subquery / decorrelation / predicate shapes (TPC-H Q2/Q4/Q12/
# Q14/Q17/Q18/Q19 analogs over the testdata schema)
# ---------------------------------------------------------------------------


@register(
    "q_forecast_revenue",
    """
    SELECT CAST((sum(CAST(round((l_extendedprice * l_discount) * 10000.0) AS BIGINT)) / 10000.0)
                AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '2001-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '2002-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + aggregate, zero joins — the query
    that measures scan + pushdown quality alone. All four predicates
    reach the parquet reader; at 100 TB this is bandwidth-bound and
    the plan has exactly one exchange (the 1-row final agg)."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("2001-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2002-01-01 00:00:00").cast("timestamp"))
        & F.col("l_discount").between(0.03, 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        (
            F.sum(
                F.round((F.col("l_extendedprice") * F.col("l_discount")) * 10000.0)
                .cast("long")
            ).cast("double")
            / 10000.0
        ).alias("revenue"),
        F.count("*").alias("n_items"),
    )


@register(
    "q_exists_orders",
    """
    SELECT o.o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o.o_orderpriority
    """,
)
def q_exists_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS. Spark-first form is the
    decorrelated plan directly — a left-semi join on orderkey with the
    ship-after-order condition folded into the join, then one hash
    aggregate. No per-row subquery ever executes; at scale this is one
    shuffle on orderkey (or zero with bucketed layout)."""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    matched = semi_join(
        o,
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
    )
    return matched.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


@register(
    "q_priority_share",
    """
    SELECT l.l_linestatus,
           count(*) FILTER (WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH'))
             AS high_count,
           count(*) FILTER (WHERE o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
             AS low_count
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate > o.o_orderdate
    GROUP BY l.l_linestatus
    """,
)
def q_priority_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + per-priority conditional counts in one
    aggregate pass (count_if), never two scans of the join."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_shipdate"
    )
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).filter(
        F.col("l_shipdate") > F.col("o_orderdate")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return j.groupBy("l_linestatus").agg(
        F.count_if(high).alias("high_count"),
        F.count_if(~high).alias("low_count"),
    )


@register(
    "q_promo_share",
    """
    WITH s AS (
      SELECT CAST(sum(CASE WHEN p.p_type = 'PROMO'
                           THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                                     AS DECIMAL(18,4))
                           ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
               AS promo_revenue,
             CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                           AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    )
    SELECT promo_revenue, total_revenue,
           100.0 * promo_revenue / total_revenue AS promo_pct
    FROM s
    """,
)
def q_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share. The part dim broadcasts
    (no fact shuffle); both sums accumulate in decimal so the doubles —
    and the final pct division — are bit-identical cross-engine."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    disc = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    zero = F.lit(0).cast("decimal(18,4)")
    s = j.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(zero))
        .cast("double")
        .alias("promo_revenue"),
        F.sum(disc).cast("double").alias("total_revenue"),
    )
    return s.select(
        "promo_revenue",
        "total_revenue",
        (F.lit(100.0) * F.col("promo_revenue") / F.col("total_revenue")).alias(
            "promo_pct"
        ),
    )


@register(
    "q_small_qty_revenue",
    """
    WITH t AS (
      SELECT l_partkey,
             CAST((sum(CAST(round((l_quantity) * 100.0) AS BIGINT)) / 100.0) AS DOUBLE) / count(*)
               AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST((sum(CAST(round((l.l_extendedprice) * 100.0) AS BIGINT)) / 100.0) AS DOUBLE)
             AS small_qty_revenue,
           count(*) AS n_small
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN t ON t.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1' AND l.l_quantity < 0.2 * t.avg_qty
    """,
)
def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated aggregate subquery (per-part mean
    quantity), decorrelated Spark-first into groupBy + self-join on
    l_partkey — the aggregate and the rejoin share one hash
    partitioning, so AQE plans a single co-located exchange. The brand
    filter broadcasts via the part dim. avg is exact-sum/count so the
    0.2*avg threshold is the same double in both engines; quantities
    are integral, away from the boundary."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    t = li.groupBy("l_partkey").agg(
        (
            F.sum(F.round(F.col("l_quantity") * 100.0).cast("long")).cast("double")
            / 100.0
            / F.count("*")
        ).alias("avg_qty")
    )
    p = read_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1").select(
        "p_partkey"
    )
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(t, "l_partkey")
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
    )
    return j.agg(
        (F.sum(F.round(F.col("l_extendedprice") * 100.0).cast("long")).cast("double")
         / 100.0).alias("small_qty_revenue"),
        F.count("*").alias("n_small"),
    )


@register(
    "q_large_orders",
    """
    SELECT c.c_name, o.o_orderkey,
           CAST((sum(CAST(round((l.l_quantity) * 100.0) AS BIGINT)) / 100.0) AS DOUBLE) AS total_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                           GROUP BY l_orderkey
                           HAVING (sum(CAST(round((l_quantity) * 100.0) AS BIGINT)) / 100.0) > 220)
    GROUP BY c.c_name, o.o_orderkey
    ORDER BY total_qty DESC, o.o_orderkey
    LIMIT 20
    """,
)
def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN over a HAVING subquery = aggregate + left-
    semi join in Spark terms. The big-orders set is aggregated once on
    l_orderkey and semi-joined back on the same key (shared
    partitioning); top-20 plans as TakeOrderedAndProject."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg((F.sum(F.round(F.col("l_quantity") * 100.0).cast("long")) / 100.0).alias("q"))
        .filter(F.col("q") > 220)
        .select("l_orderkey")
    )
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    o_big = semi_join(o, big, o.o_orderkey == big.l_orderkey)
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    j = c.join(o_big, c.c_custkey == o_big.o_custkey).join(
        li, F.col("o_orderkey") == li.l_orderkey
    )
    agg = j.groupBy("c_name", "o_orderkey").agg(
        (F.sum(F.round(F.col("l_quantity") * 100.0).cast("long")).cast("double")
         / 100.0).alias("total_qty")
    )
    return agg.orderBy(F.col("total_qty").desc(), F.col("o_orderkey")).limit(20)


@register(
    "q_disjunctive_pred",
    """
    SELECT CAST((sum(CAST(round((l.l_extendedprice * (1 - l.l_discount)) * 10000.0) AS BIGINT)) / 10000.0)
                AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 40)
    """,
)
def q_disjunctive_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs bracket predicates across both join
    sides. Catalyst extracts the common single-side conjuncts (brand/
    size on part, quantity bounds on lineitem) and pushes them below
    the join, so both scans prune before the broadcast join evaluates
    the residual disjunction."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    bracket = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 40)
        )
    )
    disc = F.round(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000.0
    ).cast("long")
    return j.filter(bracket).agg(
        (F.sum(disc).cast("double") / 10000.0).alias("revenue"),
        F.count("*").alias("n_items"),
    )


@register(
    "q_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(sum(CAST(round(volume * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0
             AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l.l_shipdate) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume by year between two
    nations. Two fact-fact shuffle joins (lineitem⋈orders⋈customer on
    their keys) + supplier and BOTH nation sides broadcast; the
    nation-pair disjunction applies after the cheap broadcast joins so
    the fact shuffles carry only matching rows. Fixed-point revenue."""
    s = read_table(spark, sf_dir, "supplier")
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    vol = F.round(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000.0
    ).cast("long")
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg((F.sum(vol).cast("double") / 10000.0).alias("revenue"))


@register(
    "q_waiting_suppliers",
    """
    WITH l1 AS (
      SELECT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R'
    )
    SELECT s.s_name, count(*) AS numwait
    FROM l1 JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 20
    """,
)
def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (returnflag standing in for the late-delivery
    predicate — the testdata carries no commit/receipt dates): per
    supplier, count returned lines on multi-supplier orders where it
    is the ONLY supplier with a return. The correlated EXISTS and NOT
    EXISTS decorrelate to a left-semi and a left-anti join on the
    order key with a supplier-inequality residual — two hash joins,
    no per-row subquery re-execution; top-20 via
    TakeOrderedAndProject."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    l1 = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", "l_suppkey")
    l2 = li.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    cand = l1.join(
        l2,
        (F.col("l_orderkey") == F.col("o2")) & (F.col("l_suppkey") != F.col("s2")),
        "left_semi",
    )
    sole = cand.join(
        l3,
        (F.col("l_orderkey") == F.col("o3")) & (F.col("l_suppkey") != F.col("s3")),
        "left_anti",
    )
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    agg = (
        sole.join(F.broadcast(s), sole.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )
    return agg.orderBy(F.col("numwait").desc(), F.col("s_name")).limit(20)


@register(
    "q_sales_opportunity",
    """
    WITH avg_bal AS (
      SELECT CAST(sum(CAST(round(c_acctbal * 100.0) AS BIGINT)) AS DOUBLE)
               / 100.0 / count(*) AS a
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT code, count(*) AS numcust,
           CAST(sum(CAST(round(c_acctbal * 100.0) AS BIGINT)) AS DOUBLE) / 100.0
             AS totacctbal
    FROM (
      SELECT c_custkey % 10 AS code, c_acctbal
      FROM customer
      WHERE c_acctbal > (SELECT a FROM avg_bal)
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c_custkey
                          AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
    ) t
    GROUP BY code
    """,
)
def q_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no
    RECENT orders (none since 2001), grouped by a derived code. The scalar average broadcasts
    (one-row crossJoin); the NOT EXISTS decorrelates to a left-anti
    join on the customer key. The average threshold is fixed-point
    cents / exact count — the same two IEEE divisions in both
    engines, so the boundary comparison can never flip."""
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.round(F.col("c_acctbal") * 100.0).cast("long")).cast("double")
            / 100.0
            / F.count("*")
        ).alias("__a")
    )
    o = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2001-01-01 00:00:00").cast("timestamp"))
        .select(F.col("o_custkey"))
    )
    rich = (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__a"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
    )
    return rich.groupBy((F.col("c_custkey") % 10).alias("code")).agg(
        F.count("*").alias("numcust"),
        (
            F.sum(F.round(F.col("c_acctbal") * 100.0).cast("long")).cast("double")
            / 100.0
        ).alias("totacctbal"),
    )


# one SQL text, two engines: executed verbatim by spark.sql() AND by
# the DuckDB oracle — the query restricts itself to the shared ANSI
# subset (joins, group by, round/cast arithmetic)
_SQL_API_TEXT = """
    SELECT n.n_name AS nation,
           count(*) AS n_items,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000.0)
                         AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
"""


@register("q_sql_api", _SQL_API_TEXT)
def q_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-API entry path: tables registered as temp views, the
    query text handed to ``spark.sql`` VERBATIM — and the oracle runs
    the IDENTICAL string on DuckDB, demonstrating that the engine's
    SQL surface (and the fixed-point money arithmetic) is
    engine-portable ANSI. Catalyst plans it exactly like the
    DataFrame spelling (same joins, same aggregate)."""
    for t in ("customer", "orders", "lineitem", "nation"):
        read_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SQL_API_TEXT)


@register(
    "q_sql_udf",
    """
    SELECT l_returnflag,
           CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount)
                                * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0
             AS revenue,
           count(*) AS n_items
    FROM lineitem WHERE l_quantity < 25.0 GROUP BY l_returnflag
    """,
)
def q_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL-defined UDF (CREATE OR REPLACE TEMPORARY FUNCTION
    ... RETURN expr): the user-abstraction mechanism with ZERO runtime
    penalty — unlike Python UDFs, SQL UDFs are inlined by Catalyst at
    analysis time, so the plan below contains no eval node at all
    (asserted: no Python/ScalaUDF in the executed plan; the filter
    still reaches the parquet scan THROUGH the function body). The
    oracle runs the same query with the expression inlined by hand —
    hash-identical because inlining is exactly what Catalyst does.
    Table-valued SQL UDFs (RETURNS TABLE ... RETURN SELECT) are
    exercised in tests/test_units.py. At 100 TB this is how shared
    business logic (price/discount/tax formulas) ships without
    leaving whole-stage codegen."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_price(p DOUBLE, d DOUBLE) "
        "RETURNS DOUBLE RETURN p * (1.0 - d)"
    )
    read_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "q_sql_udf_lineitem"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(sum(CAST(round(disc_price(l_extendedprice, l_discount)
                                    * 10000.0) AS BIGINT)) AS DOUBLE) / 10000.0
                 AS revenue,
               count(*) AS n_items
        FROM q_sql_udf_lineitem WHERE l_quantity < 25.0
        GROUP BY l_returnflag
        """
    )


@register(
    "q_min_price_per_type",
    """
    SELECT p.p_type, p.p_partkey, p.p_retailprice
    FROM part p
    WHERE p.p_retailprice = (SELECT min(p2.p_retailprice) FROM part p2
                             WHERE p2.p_type = p.p_type)
    """,
)
def q_min_price_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated scalar MIN subquery. Spark-first
    form is a window min over the correlation key + equality filter —
    one shuffle on p_type, no self-join, no subquery re-execution. The
    equality compares raw stored doubles (no arithmetic), so it is
    exact cross-engine."""
    p = read_table(spark, sf_dir, "part").select("p_type", "p_partkey", "p_retailprice")
    w = Window.partitionBy("p_type")
    return (
        p.withColumn("__min_price", F.min("p_retailprice").over(w))
        .filter(F.col("p_retailprice") == F.col("__min_price"))
        .select("p_type", "p_partkey", "p_retailprice")
    )


# ---------------------------------------------------------------------------
# flagship (entry): TPC-H Q1-shaped pricing summary
# ---------------------------------------------------------------------------


@register(
    "q_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(round(l_quantity * 100.0) AS BIGINT)) AS DOUBLE) / 100.0
             AS sum_qty,
           CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS DOUBLE) / 100.0
             AS sum_base_price,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000.0) AS BIGINT))
                AS DOUBLE) / 10000.0 AS sum_disc_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2002-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1-shaped pricing summary over lineitem — scan
    with pushed filter, partial+final hash aggregate. Sums accumulate
    FIXED-POINT (cent / 10^-4 units as longs): quantities and prices
    carry <= 2 decimals and disc_price <= 4, so the long sums are
    exact, 2.4x faster than Java BigDecimal accumulation, and the
    final long/10^k division is one correctly-rounded IEEE op both
    engines share (same rational -> same double -> same hash). This
    is `entry()`'s query."""
    li = read_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("2002-09-02 00:00:00").cast("timestamp")
    )
    disc_micro = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000.0
    ).cast("long")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        (F.sum(F.round(F.col("l_quantity") * 100.0).cast("long")).cast("double") / 100.0)
        .alias("sum_qty"),
        (F.sum(F.round(F.col("l_extendedprice") * 100.0).cast("long")).cast("double") / 100.0)
        .alias("sum_base_price"),
        (F.sum(disc_micro).cast("double") / 10000.0).alias("sum_disc_price"),
        F.count("*").alias("count_order"),
    )


@register(
    "q_customer_distribution",
    """
    WITH per_cust AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
      FROM customer c LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    SELECT n_orders, count(*) AS n_customers
    FROM per_cust GROUP BY n_orders
    """,
)
def q_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: order-count histogram over customers,
    including zero-order customers (the LEFT join is the point — an
    inner join silently drops them). Two-level aggregate: the first
    shuffles on c_custkey (high cardinality, spreads evenly), the
    second groups the per-customer counts by count value (tiny).
    The join predicate filter (o_orderpriority) is applied to orders
    BEFORE the join, so the probe side shrinks first."""
    c = read_table(spark, sf_dir, "customer").select("c_custkey")
    o = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") != "1-URGENT")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count("*").alias("n_customers"))


@register(
    "q_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey,
             sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000.0)
                      AS BIGINT)) AS rev_fp
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '2000-04-01 00:00:00'
      GROUP BY l_suppkey
    ), m AS (SELECT max(rev_fp) AS max_fp FROM rev)
    SELECT s.s_suppkey, s.s_name,
           CAST(r.rev_fp AS DOUBLE) / 10000.0 AS total_revenue
    FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
    CROSS JOIN m WHERE r.rev_fp = m.max_fp
    """,
)
def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum revenue over a
    quarter. The scalar subquery becomes ONE extra reduction over the
    already-computed per-supplier aggregate (a 1-row broadcast), not a
    second lineitem scan — the classic Q15 view is computed once and
    reused for both the ranking and the max. The tie filter compares
    FIXED-POINT longs (exact), so 'equal revenue' is integer equality
    in both engines, never a double epsilon."""
    li = read_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2000-04-01 00:00:00").cast("timestamp"))
    )
    rev_fp = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000.0
    ).cast("long")
    rev = li.groupBy("l_suppkey").agg(F.sum(rev_fp).alias("rev_fp"))
    m = rev.agg(F.max("rev_fp").alias("max_fp"))
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        s.join(rev, s.s_suppkey == rev.l_suppkey)
        .crossJoin(F.broadcast(m))
        .where(F.col("rev_fp") == F.col("max_fp"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_fp").cast("double") / 10000.0).alias("total_revenue"),
        )
    )


@register(
    "q_nation_profit",
    """
    SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000.0)
                         AS BIGINT)) AS DOUBLE) / 10000.0 AS profit
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%red%'
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY nation, o_year
    """,
)
def q_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted: no partsupp table in the testdata, so
    profit is discounted revenue): per-nation per-year profit for a
    part family. Join order matters at 100 TB: the selective part
    filter broadcasts FIRST (shrinking lineitem before anything
    else), supplier->nation broadcast next, and only then the
    unavoidable big-big orders join shuffles — the one exchange in
    the plan carries pre-filtered rows."""
    p = (
        read_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("%red%"))
        .select("p_partkey")
    )
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
    )
    profit_fp = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000.0
    ).cast("long")
    return (
        j.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg((F.sum(profit_fp).cast("double") / 10000.0).alias("profit"))
    )


@register(
    "q_supplier_part_counts",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_size <= 25
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (adapted: lineitem stands in for the absent
    partsupp relation): distinct suppliers per part family, with an
    exclusion predicate on the dim side. The dim filter broadcasts;
    count(DISTINCT) runs as Spark's two-phase expand/aggregate —
    partial distinct per partition, then a final merge — so no single
    reducer ever sees all (group, suppkey) pairs."""
    p = (
        read_table(spark, sf_dir, "part")
        .where((F.col("p_brand") != "Brand#1") & (F.col("p_size") <= 25))
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    li = read_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q_important_parts",
    """
    WITH v AS (
      SELECT l_partkey,
             sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS value_c
      FROM lineitem GROUP BY l_partkey
    ), tot AS (SELECT CAST(sum(value_c) AS BIGINT) AS total_c FROM v)
    SELECT l_partkey, CAST(value_c AS DOUBLE) / 100.0 AS part_value
    FROM v CROSS JOIN tot
    WHERE value_c * 2000 > total_c
    """,
)
def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose stocked value exceeds a fraction
    (1/2000) of the global total — the scalar-subquery-vs-global-sum
    pattern. The global total is ONE extra reduction over the
    per-part aggregate, broadcast back as a 1-row table; the share
    test runs in integer cents (value_c * 2000 > total_c), so the
    threshold is exact in both engines — no double ratio, no epsilon."""
    li = read_table(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice")
    v = li.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100.0).cast("long")).alias("value_c")
    )
    tot = v.agg(F.sum("value_c").alias("total_c"))
    return (
        v.crossJoin(F.broadcast(tot))
        .where(F.col("value_c") * 2000 > F.col("total_c"))
        .select(
            "l_partkey",
            (F.col("value_c").cast("double") / 100.0).alias("part_value"),
        )
    )


@register(
    "q_bm25",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS term
      FROM documents
    ), dl AS (
      SELECT doc_id, count(*) AS dl FROM toks WHERE term <> ''
      GROUP BY doc_id
    ), stats AS (
      SELECT CAST(sum(dl) AS BIGINT) AS total_tokens,
             count(*) AS n_docs FROM dl
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks
      WHERE term IN ('spark', 'join', 'merge') GROUP BY doc_id, term
    ), df AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    )
    SELECT tf.doc_id, tf.term,
           ((CAST(stats.n_docs - df.df AS DOUBLE) + 0.5)
              / (CAST(df.df AS DOUBLE) + 0.5))
           * ((CAST(tf.tf AS DOUBLE) * 2.2)
              / (CAST(tf.tf AS DOUBLE)
                 + (1.2 * (0.25 + (0.75 * (CAST(dl.dl AS DOUBLE)
                    / (CAST(stats.total_tokens AS DOUBLE) / stats.n_docs)))))))
             AS score
    FROM tf JOIN df ON tf.term = df.term
    JOIN dl ON tf.doc_id = dl.doc_id
    CROSS JOIN stats
    QUALIFY row_number() OVER (
      PARTITION BY tf.term ORDER BY score DESC, tf.doc_id
    ) <= 10
    """,
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval (k1=1.2, b=0.75): top-10 documents per
    query term — the retrieval scorer a decontamination / RAG-curation
    pipeline runs against the training corpus. The idf uses the
    RATIONAL form (N - df + 0.5)/(df + 0.5), not ln() of it, so the
    score is a fixed tree of IEEE ops both engines evaluate
    identically (libm transcendentals are not bit-portable; monotone
    transforms preserve the ranking anyway). Plan: ONE corpus explode
    feeds both the doc-length aggregate and the (filtered) term
    frequencies; df derives from the tiny tf table; doc-length stats
    collapse to a 1-row broadcast. Scoring touches only docs
    containing a query term — the corpus-wide work is the dl
    aggregate, one shuffle."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("term")
    ).where(F.col("term") != "")
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.sum("dl").alias("total_tokens"), F.count("*").alias("n_docs")
    )
    tf = (
        toks.where(F.col("term").isin("spark", "join", "merge"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    avgdl = F.col("total_tokens").cast("double") / F.col("n_docs")
    idf = (
        (F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5)
    ) / (F.col("df").cast("double") + F.lit(0.5))
    tf_part = (F.col("tf").cast("double") * F.lit(2.2)) / (
        F.col("tf").cast("double")
        + (
            F.lit(1.2)
            * (F.lit(0.25) + (F.lit(0.75) * (F.col("dl").cast("double") / avgdl)))
        )
    )
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "term", (idf * tf_part).alias("score"))
    )
    w = Window.partitionBy("term").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("doc_id", "term", "score")
    )


@register(
    "q_market_share",
    """
    WITH vols AS (
      SELECT year(o.o_orderdate) AS o_year,
             CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000.0)
                  AS BIGINT) AS volume_fp,
             n2.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
      JOIN region r   ON n1.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
      JOIN part p     ON l.l_partkey = p.p_partkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
    )
    SELECT o_year,
           CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN volume_fp
                         ELSE 0 END) AS DOUBLE)
             / CAST(sum(volume_fp) AS DOUBLE) AS mkt_share
    FROM vols GROUP BY o_year
    """,
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's revenue for a
    part type, by order year. The share is a conditional-sum /
    total-sum ratio computed in ONE aggregate pass (no self-join, no
    second scan). All five dims broadcast — the selective part-type
    filter shrinks lineitem before the two unavoidable fact shuffles
    (orders, customer) — and both sums accumulate exact fixed-point
    longs, so the final double division is bit-deterministic."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_table(spark, sf_dir, "nation")
    r = (
        read_table(spark, sf_dir, "region")
        .where(F.col("r_name") == "AMERICA")
        .select("r_regionkey")
    )
    p = (
        read_table(spark, sf_dir, "part")
        .where(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    vol_fp = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000.0
    ).cast("long")
    j = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
    )
    num = F.sum(
        F.when(F.col("supp_nation") == "NATION_1", vol_fp).otherwise(F.lit(0))
    )
    den = F.sum(vol_fp)
    return j.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        (num.cast("double") / den.cast("double")).alias("mkt_share")
    )


@register(
    "q_part_promotion",
    """
    WITH supply AS (
      SELECT l_partkey, l_suppkey,
             sum(CAST(round(l_quantity * 100.0) AS BIGINT)) AS total_qty,
             sum(CASE WHEN l_shipdate >= TIMESTAMP '2001-01-01 00:00:00'
                      THEN CAST(round(l_quantity * 100.0) AS BIGINT)
                      ELSE 0 END) AS recent_qty
      FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT s.s_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name = 'NATION_3'
      AND s.s_suppkey IN (
        SELECT sp.l_suppkey
        FROM supply sp JOIN part p ON p.p_partkey = sp.l_partkey
        WHERE p.p_name LIKE 'blue%'
          AND sp.recent_qty > 0
          AND sp.total_qty > 2 * sp.recent_qty)
    ORDER BY s.s_name
    """,
)
def q_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (adapted: the testdata has no partsupp, so
    lineitem's full shipping history stands in for availability):
    suppliers in one nation holding excess supply of a part family —
    all-time shipped quantity more than twice the recent-year
    quantity. The correlated IN-subquery over an aggregate
    decorrelates to aggregate -> broadcast-dim filter -> left-semi
    join: one lineitem shuffle keyed (partkey, suppkey), conditional
    fixed-point sums in the same pass, then the tiny qualifying-
    supplier set semi-joins the supplier dim. No per-row subquery
    re-execution anywhere."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity", "l_shipdate"
    )
    qty_fp = F.round(F.col("l_quantity") * 100.0).cast("long")
    recent = F.col("l_shipdate") >= F.lit("2001-01-01 00:00:00").cast("timestamp")
    supply = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(qty_fp).alias("total_qty"),
        F.sum(F.when(recent, qty_fp).otherwise(F.lit(0))).alias("recent_qty"),
    )
    p = (
        read_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("blue%"))
        .select("p_partkey")
    )
    qualifying = (
        supply.join(F.broadcast(p), supply.l_partkey == p.p_partkey)
        .where((F.col("recent_qty") > 0) & (F.col("total_qty") > 2 * F.col("recent_qty")))
        .select("l_suppkey")
    )
    n = (
        read_table(spark, sf_dir, "nation")
        .where(F.col("n_name") == "NATION_3")
        .select("n_nationkey")
    )
    s = read_table(spark, sf_dir, "supplier")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(qualifying, s.s_suppkey == qualifying.l_suppkey, "left_semi")
        .select("s_name")
        .orderBy("s_name")
    )


@register(
    "q_token_count",
    """
    SELECT doc_id,
           len(regexp_extract_all(text, '\\S+')) AS ws_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+'))
             AS bpe_tokens,
           CAST(n_chars AS DOUBLE)
             / CAST(len(regexp_extract_all(
                 text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS DOUBLE)
             AS chars_per_token
    FROM documents
    WHERE n_chars > 0
    """,
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting for training-data budgeting: whitespace tokens
    and a BPE-ish segmentation (letter runs | digit runs | punctuation
    runs — the pre-tokenizer split every byte-pair encoder starts
    from). Pure JVM-side regexp over one scan, no UDF; the
    chars/token ratio is the standard proxy for tokenizer fertility.
    The patterns use no engine-specific syntax, so Java regex (Spark)
    and RE2 (DuckDB) agree match-for-match."""
    docs = read_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    bpe = F.size(
        F.regexp_extract_all(
            F.col("text"), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"), F.lit(0)
        )
    ).cast("long")
    ws = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), F.lit(0))
    ).cast("long")
    return docs.select(
        "doc_id",
        ws.alias("ws_tokens"),
        bpe.alias("bpe_tokens"),
        (F.col("n_chars").cast("double") / bpe.cast("double")).alias(
            "chars_per_token"
        ),
    )


@register(
    "q_gopher_quality",
    r"""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS toks
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id,
           len(toks) AS n_words,
           (CAST(list_sum(list_transform(toks, w -> len(w))) AS BIGINT)
             * 1000) // len(toks) AS mean_word_len_milli,
           len(list_filter(toks, w -> list_contains(
             ['the','a','of','and','to','in','is','that','it','for'],
             lower(w)))) AS stopword_hits,
           (len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))
             * 1000000) // len(toks) AS alpha_word_ppm,
           (len(toks) BETWEEN 5 AND 100000)
             AND ((CAST(list_sum(list_transform(toks, w -> len(w))) AS BIGINT)
                  * 1000) // len(toks) BETWEEN 1000 AND 12000)
             AND ((len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))
                  * 1000000) // len(toks) >= 700000)
             AS passes_gopher
    FROM t
    """,
)
def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style heuristic quality rules (Rae et al. 2021 §A1.1)
    per document: word count bounds, mean word length bounds, minimum
    alphabetic-word ratio, stopword presence. All ratios are emitted
    as integer fixed-point (milli / ppm via integer division), so the
    row values — and the pass/fail verdict derived from them — are
    bit-deterministic across engines. Pure JVM higher-order array
    functions over one scan: a narrow map with zero shuffle at any
    scale."""
    docs = read_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    toks = tokens(F.col("text"))
    n_words = F.size(toks).cast("long")
    total_chars = F.aggregate(
        F.transform(toks, lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    stop_set = F.array(*[F.lit(s) for s in STOPWORDS_EN])
    stop_hits = F.size(F.filter(toks, lambda w: F.array_contains(stop_set, F.lower(w)))).cast("long")
    alpha_words = F.size(F.filter(toks, lambda w: w.rlike("[A-Za-z]"))).cast("long")
    # integer floor-division: Spark's `div` on longs == DuckDB's `//`
    mean_word_len_milli = _long_div(total_chars * 1000, n_words)
    alpha_word_ppm = _long_div(alpha_words * 1000000, n_words)
    passes = (
        n_words.between(5, 100000)
        & mean_word_len_milli.between(1000, 12000)
        & (alpha_word_ppm >= 700000)
    )
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_word_len_milli.alias("mean_word_len_milli"),
        stop_hits.alias("stopword_hits"),
        alpha_word_ppm.alias("alpha_word_ppm"),
        passes.alias("passes_gopher"),
    )


@register(
    "q_lexical_diversity",
    r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id,
           len(toks) AS n_words,
           len(list_distinct(toks)) AS distinct_words,
           (len(list_distinct(toks)) * 1000000) // len(toks) AS ttr_ppm
    FROM t
    """,
)
def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio (lexical diversity) per document — the
    standard cheap signal for repetitive/machine-generated text in
    training-data filtering. Distinct-over-total as fixed-point ppm
    integer division: bit-deterministic, no floats anywhere. Narrow
    map, zero shuffle."""
    docs = read_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    toks = tokens(F.lower(F.col("text")))
    n_words = F.size(toks).cast("long")
    distinct_words = F.size(F.array_distinct(toks)).cast("long")
    ttr_ppm = F.expr(
        "(bigint(size(array_distinct(split(trim(lower(text)), '\\\\s+')))) "
        "* 1000000) div size(split(trim(lower(text)), '\\\\s+'))"
    )
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        distinct_words.alias("distinct_words"),
        ttr_ppm.alias("ttr_ppm"),
    )


@register(
    "q_mixture_weights",
    r"""
    WITH per_lang AS (
      SELECT lang,
             count(*) AS n_docs,
             CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
                  AS BIGINT) AS n_tokens
      FROM documents WHERE n_chars > 0 GROUP BY lang
    )
    SELECT lang, n_docs, n_tokens,
           (n_tokens * 1000000)
             // CAST((SELECT sum(n_tokens) FROM per_lang) AS BIGINT)
             AS token_share_ppm,
           sqrt(CAST(n_tokens AS DOUBLE)) AS sample_weight
    FROM per_lang
    """,
)
def q_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling weights per language — the knob a
    pretraining pipeline turns to rebalance its corpus (UniMax-style
    sqrt-damped sampling). Integer token totals aggregate exactly;
    the share is fixed-point integer division against the corpus
    total (a 1-row broadcast, not a second scan in Spark: a window
    over the tiny per-lang aggregate); the damped weight uses sqrt,
    which IEEE-754 requires correctly rounded, so even the double is
    bit-identical across engines."""
    docs = read_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    per_lang = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens(F.col("text"))).cast("long")).alias("n_tokens"),
    )
    total = Window.partitionBy()
    return per_lang.select(
        "lang",
        "n_docs",
        "n_tokens",
        F.expr("n_tokens * 1000000").alias("_num"),
        F.sum("n_tokens").over(total).alias("_den"),
    ).select(
        "lang",
        "n_docs",
        "n_tokens",
        F.expr("_num div _den").alias("token_share_ppm"),
        F.sqrt(F.col("n_tokens").cast("double")).alias("sample_weight"),
    )


_SQL_SHINGLES_8 = _sql_shingles(8)


@register(
    "q_repeated_ngrams",
    rf"""
    WITH grams AS (
      SELECT doc_id, unnest({_SQL_SHINGLES_8}) AS gram
      FROM documents WHERE n_chars > 0
    )
    SELECT md5(gram) AS gram_md5,
           count(*) AS occurrences,
           count(DISTINCT doc_id) AS n_docs,
           min(doc_id) AS first_doc
    FROM grams GROUP BY md5(gram) HAVING count(*) > 1
    """,
)
def q_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level repeated-substring discovery — the heart of exact
    substring dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better"): every 8-token window that occurs
    more than once corpus-wide, with its occurrence and document
    counts. The suffix-array of the single-node reference algorithm
    becomes a shuffle on the window fingerprint: explode windows
    (regex single-pass shingling, no UDF), md5 to a fixed-width key,
    one hash aggregate. At 100 TB the md5 would be xxhash64 (8-byte
    shuffle key instead of 32); md5 here keeps the oracle
    cross-engine-checkable, and the plan is identical."""
    docs = read_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    grams = docs.select(
        "doc_id", F.explode(shingles("text", 8)).alias("gram")
    ).select("doc_id", F.md5(F.col("gram")).alias("gram_md5"))
    return (
        grams.groupBy("gram_md5")
        .agg(
            F.count(F.lit(1)).alias("occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
        )
        .where(F.col("occurrences") > 1)
    )


@register(
    "q_substring_dedup_stats",
    rf"""
    WITH grams AS (
      SELECT doc_id, md5(unnest({_SQL_SHINGLES_8})) AS gram_md5
      FROM documents WHERE n_chars > 0
    ),
    dup AS (
      SELECT gram_md5 FROM grams GROUP BY gram_md5 HAVING count(*) > 1
    )
    SELECT g.doc_id,
           count(*) AS n_windows,
           count(d.gram_md5) AS dup_windows,
           (count(d.gram_md5) * 1000000) // count(*) AS dup_ppm
    FROM grams g LEFT JOIN dup d ON g.gram_md5 = d.gram_md5
    GROUP BY g.doc_id
    """,
)
def q_substring_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-substring coverage: the fraction of a
    doc's 8-token windows that occur elsewhere in the corpus — the
    per-doc removal signal of exact substring dedup (docs above a
    coverage threshold get trimmed or dropped).

    Skew posture (why groupBy + join, NOT a count-over-gram window):
    gram frequencies are Zipfian, and a window partitioned by gram
    ships EVERY occurrence of the top gram to one task — a straggler
    /OOM at corpus scale with no mitigation, because WindowExec has
    no partial aggregation. The groupBy count is skew-IMMUNE (map-
    side combine collapses each map task to one row per gram before
    the shuffle), the dup set it produces is filtered small before
    re-joining, and the flag join is an equi-join AQE can skew-split.
    The explode is evaluated on both branches; at 100 TB checkpoint
    the gram table once instead of recomputing it (same note as the
    shingle self-joins, SCALE.md). Fixed-point ppm output — no
    floats, bit-deterministic."""
    docs = read_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    grams = docs.select(
        "doc_id", F.explode(shingles("text", 8)).alias("gram")
    ).select("doc_id", F.md5(F.col("gram")).alias("gram_md5"))
    dup = (
        grams.groupBy("gram_md5")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") > 1)
        .select("gram_md5", F.lit(1).alias("_dup"))
    )
    return (
        grams.join(dup, "gram_md5", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.count("_dup").alias("dup_windows"),
        )
        .select(
            "doc_id",
            "n_windows",
            "dup_windows",
            F.expr("(dup_windows * 1000000) div n_windows").alias("dup_ppm"),
        )
    )


@register(
    "q_scan_orc",
    "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey < 1000",
)
def q_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC scan over a deterministic fixture — Spark's second built-in
    columnar format, with the same vectorized-read / pushdown /
    pruning posture as parquet. The round-trip is type-exact
    (columnar, not text), so the oracle is the same selection on the
    parquet view. Completes the format family: parquet, ORC, JSON,
    CSV, XML, raw text."""
    from breweries_data_pipeline_spark.sources import (
        orc_fixture_from_orders,
        read_orc,
    )

    path = orc_fixture_from_orders(spark, sf_dir)
    return read_orc(spark, path).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


@register(
    "q_scan_text_lines",
    """
    SELECT event_id, event_type, user_id
    FROM events WHERE event_id < 1000
    """,
)
def q_scan_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw line scan + JVM-side parsing: spark.read.text yields one
    string per line; from_json parses it inside whole-stage codegen —
    the pattern for custom text formats at scale (the source stays a
    dumb splittable line reader; ALL parsing is columnar expressions,
    no Python). Fixture is the engine's own JSONL ingest output, so
    the oracle is the same selection on the events view."""
    from breweries_data_pipeline_spark.sources import (
        json_fixture_from_events,
        read_text_lines,
    )

    path = json_fixture_from_events(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("user_id", T.LongType()),
        ]
    )
    lines = read_text_lines(spark, path)
    return lines.select(
        F.from_json(F.col("value"), schema).alias("r")
    ).select("r.event_id", "r.event_type", "r.user_id")


@register(
    "q_funnel_steps",
    """
    WITH t1 AS (
      SELECT user_id, ts, event_type,
             min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS view_ts
      FROM events
    ),
    t2 AS (
      SELECT user_id, ts, event_type, view_ts,
             min(CASE WHEN event_type = 'click' AND ts > view_ts THEN ts END)
               OVER (PARTITION BY user_id) AS click_ts
      FROM t1
    ),
    t3 AS (
      SELECT user_id, view_ts, click_ts,
             min(CASE WHEN event_type = 'purchase' AND ts > click_ts THEN ts END)
               OVER (PARTITION BY user_id) AS purchase_ts
      FROM t2
    )
    SELECT user_id,
           min(view_ts) AS view_ts,
           min(click_ts) AS click_ts,
           min(purchase_ts) AS purchase_ts,
           CASE WHEN min(view_ts) IS NOT NULL THEN 1 ELSE 0 END
             + CASE WHEN min(click_ts) IS NOT NULL THEN 1 ELSE 0 END
             + CASE WHEN min(purchase_ts) IS NOT NULL THEN 1 ELSE 0 END
             AS steps_completed
    FROM t3 GROUP BY user_id
    """,
)
def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> click -> purchase) per user:
    each step's timestamp is the first qualifying event strictly after
    the previous step. Three chained conditional-min windows, all on
    the SAME partitioning key, so the whole funnel costs ONE shuffle
    — the exchange is planned once and the window sort is reused; the
    closing per-user aggregate rides the same partitioning (AQE
    exchange reuse). Timestamps compare exactly (µs), no floats."""
    ev = read_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    df = ev.withColumn(
        "view_ts",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    df = df.withColumn(
        "click_ts",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("view_ts")),
                F.col("ts"),
            )
        ).over(w),
    )
    df = df.withColumn(
        "purchase_ts",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("click_ts")),
                F.col("ts"),
            )
        ).over(w),
    )
    step = lambda c: F.when(F.min(c).isNotNull(), 1).otherwise(0)  # noqa: E731
    return df.groupBy("user_id").agg(
        F.min("view_ts").alias("view_ts"),
        F.min("click_ts").alias("click_ts"),
        F.min("purchase_ts").alias("purchase_ts"),
        (step("view_ts") + step("click_ts") + step("purchase_ts")).alias(
            "steps_completed"
        ),
    )


@register(
    "q_retention_cohorts",
    """
    WITH firsts AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    )
    SELECT f.cohort_week,
           date_trunc('week', e.ts) AS activity_week,
           date_diff('day', f.cohort_week, date_trunc('week', e.ts)) // 7
             AS week_offset,
           count(DISTINCT e.user_id) AS active_users,
           count(*) AS n_events
    FROM events e JOIN firsts f ON e.user_id = f.user_id
    GROUP BY 1, 2, 3
    """,
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-activity week, counted
    in every week they return. First-touch aggregate keyed by user,
    re-joined to the event stream on the same key (co-partitioned —
    no extra exchange on the fact side), then a (cohort, week) count.
    Monday-anchored date_trunc('week') agrees across engines; the
    week offset is integer day arithmetic. At 100 TB both shuffles
    key on user_id/cohort — uniform, skew-free."""
    ev = read_table(spark, sf_dir, "events").select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    joined = ev.join(firsts, "user_id").select(
        "user_id",
        "cohort_week",
        F.date_trunc("week", F.col("ts")).alias("activity_week"),
    )
    week_off = _long_div(
        F.datediff(F.col("activity_week"), F.col("cohort_week")).cast("long"),
        F.lit(7).cast("long"),
    )
    return joined.groupBy(
        "cohort_week", "activity_week", week_off.alias("week_offset")
    ).agg(
        F.countDistinct("user_id").alias("active_users"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "q_scd2_intervals",
    """
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events
    ),
    changes AS (
      SELECT user_id, event_type, ts AS valid_from, event_id
      FROM ordered WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER w AS valid_to,
           lead(valid_from) OVER w IS NULL AS is_current
    FROM changes
    WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, event_id)
    """,
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 from an event stream: collapse
    consecutive same-state events per user, then derive each state's
    [valid_from, valid_to) interval with lead(); the open interval is
    the current state. Both windows share the user_id partitioning
    and (ts, event_id) sort — one shuffle, one sort, the change
    filter is a narrow map between them. The event_id tie-break makes
    interval edges deterministic under equal timestamps."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
        .select("user_id", "event_type", F.col("ts").alias("valid_from"), "event_id")
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    lead_ts = F.lead("valid_from").over(w2)
    return changes.select(
        "user_id",
        "event_type",
        "valid_from",
        lead_ts.alias("valid_to"),
        lead_ts.isNull().alias("is_current"),
    )


_PR_EDGES_SQL = """
      SELECT DISTINCT ns.n_name AS src, nc.n_name AS dst
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation nc  ON c.c_nationkey = nc.n_nationkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation ns  ON s.s_nationkey = ns.n_nationkey
"""

_PR_ITER_SQL = """
    i{k} AS (
      SELECT n.node,
             CAST(((1000000000000 // (SELECT count(*) FROM nation)) * 15) // 100
                  + (85 * COALESCE(CAST(sum(j.contrib) AS BIGINT), 0)) // 100
                  AS BIGINT) AS rank
      FROM nodes n
      LEFT JOIN (
        SELECT e.dst, r.rank // d.outd AS contrib
        FROM edges e
        JOIN deg d ON e.src = d.src
        JOIN i{p} r ON r.node = e.src
      ) j ON n.node = j.dst
      GROUP BY n.node
    )"""


@register(
    "q_pagerank_nations",
    f"""
    WITH edges AS ({_PR_EDGES_SQL}),
    deg AS (SELECT src, count(*) AS outd FROM edges GROUP BY src),
    nodes AS (SELECT n_name AS node FROM nation),
    i0 AS (
      SELECT node,
             CAST(1000000000000 // (SELECT count(*) FROM nation) AS BIGINT)
               AS rank
      FROM nodes
    ),
    {_PR_ITER_SQL.format(k=1, p=0)},
    {_PR_ITER_SQL.format(k=2, p=1)},
    {_PR_ITER_SQL.format(k=3, p=2)}
    SELECT node, rank FROM i3
    """,
)
def q_pagerank_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the trade graph (supplier nation -> customer
    nation edges extracted from the fact tables), three damped
    iterations in exact fixed-point arithmetic — see
    ``operators.graph.pagerank`` for the scale posture (rank table is
    one long per node; each iteration = one edge join + one hash
    aggregate; integer sums make it bit-deterministic, which a
    floating-point PageRank is not). The oracle unrolls the same
    three iterations as chained CTEs with identical integer ops."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = read_table(spark, sf_dir, "nation")
    nc = n.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("dst")
    )
    ns = n.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("src")
    )
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .select("src", "dst")
        .distinct()
    )
    nodes = n.select(F.col("n_name").alias("node"))
    from breweries_data_pipeline_spark.operators.graph import pagerank

    return pagerank(edges, nodes, node_col="node", iterations=3)


@register(
    "q_edit_distance_pairs",
    """
    WITH t AS (SELECT doc_id, substr(text, 1, 64) AS prefix FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.prefix, b.prefix) AS BIGINT) AS edit_dist,
           (CAST(levenshtein(a.prefix, b.prefix) AS BIGINT) * 1000000)
             // CAST(greatest(len(a.prefix), len(b.prefix)) AS BIGINT)
             AS dist_ppm
    FROM t a JOIN t b ON b.doc_id = a.doc_id + 1
    """,
)
def q_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance (Levenshtein) near-dup signal between candidate
    pairs — the character-level complement to token-level Jaccard,
    catching small in-word edits that shingles miss. Computed on
    64-char prefixes to bound the O(len^2) DP cost per pair (the
    standard trick: cheap prefix gate first, full distance only on
    survivors). JVM built-in levenshtein on an equi-join of
    consecutive ids — the MICRO-BENCHMARK form isolating the kernel
    on a fixed pair stream; q_neardup_edit_gate composes the same
    gate over a real LSH candidate stream end-to-end."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 64).alias("prefix")
    )
    nxt = docs.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("prefix").alias("prefix_b")
    )
    lev = F.levenshtein(F.col("prefix"), F.col("prefix_b")).cast("long")
    return docs.join(nxt, "doc_id").select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 1).alias("id_b"),
        lev.alias("edit_dist"),
        _long_div(
            lev * 1000000,
            F.greatest(F.length("prefix"), F.length("prefix_b")).cast("long"),
        ).alias("dist_ppm"),
    )


@register(
    "q_neardup_edit_gate",
    f"""
    WITH sh AS (
      SELECT doc_id, list_distinct({_SQL_SHINGLES}) AS s,
             substr(text, 1, 64) AS p
      FROM documents
    ),
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
    ),
    j AS (
      SELECT id_a, id_b,
             CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
               / CAST(len(list_distinct(list_concat(x.s, y.s))) AS DOUBLE)
               AS jaccard,
             CAST(levenshtein(x.p, y.p) AS BIGINT) AS edit_dist,
             CAST(greatest(greatest(len(x.p), len(y.p)), 1) AS BIGINT) AS dlen
      FROM cand
      JOIN sh x ON x.doc_id = cand.id_a
      JOIN sh y ON y.doc_id = cand.id_b
    )
    SELECT id_a, id_b, jaccard, edit_dist,
           (edit_dist * 1000000) // dlen AS dist_ppm
    FROM j
    WHERE jaccard >= 0.7 AND (edit_dist * 1000000) // dlen <= 250000
    """,
)
def q_neardup_edit_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL candidate-pair edit gate (r5 advice: the consecutive-id
    stand-in in q_edit_distance_pairs now gates an actual LSH stream):
    MinHash-LSH banding generates candidates, exact shingle Jaccard
    verifies >= 0.7, and a 64-char-prefix Levenshtein gate keeps pairs
    whose normalized distance is <= 25% — the full near-dup pipeline a
    training-data dedup pass runs, end-to-end.

    Oracle strategy: DuckDB reproduces the stream EXHAUSTIVELY —
    candidates are every pair sharing >= 1 shingle (exact blocking:
    jaccard > 0 implies a shared shingle, so nothing above threshold
    escapes), then the same Jaccard + Levenshtein arithmetic. The
    Spark side's 32x2 banding has per-pair miss probability ~5e-10 at
    the 0.7 threshold (see operators.dedup.edit_gated_near_dup_pairs),
    so LSH output == exhaustive output, which the hash compare
    certifies. The all-pairs blocking stays oracle-only: on the Spark
    side shared-shingle blocking of a boilerplate corpus would
    explode quadratically; banding is the scale path."""
    docs = read_table(spark, sf_dir, "documents")
    from breweries_data_pipeline_spark.operators.dedup import (
        edit_gated_near_dup_pairs,
    )

    return edit_gated_near_dup_pairs(docs, threshold=0.7, bands=32)


@register(
    "q_price_histogram",
    """
    SELECT CAST(least(floor(o_totalprice / 25000.0), 19) AS BIGINT) AS bucket,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders GROUP BY 1
    """,
)
def q_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width numeric histogram of order totals (20 buckets of
    25k, top bucket open). The bucket index divides by a constant —
    one IEEE-exact double op, identical across engines — and the
    per-bucket mass accumulates exact integer cents. One hash
    aggregate over 20 groups: partial aggregation makes the shuffle
    20 rows per task regardless of table size."""
    o = read_table(spark, sf_dir, "orders")
    bucket = F.least(
        F.floor(F.col("o_totalprice") / 25000.0), F.lit(19)
    ).cast("long")
    cents = F.round(F.col("o_totalprice") * 100.0).cast("long")
    return o.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(cents).cast("long").alias("total_cents"),
    )


@register(
    "q_corr_stats",
    """
    WITH fp AS (
      SELECT l_returnflag,
             CAST(round(l_quantity * 100.0) AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100.0) AS BIGINT) AS y
      FROM lineitem
    ),
    sums AS (
      SELECT l_returnflag,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(CAST(sum(x) AS HUGEINT) AS DOUBLE) AS sx,
             CAST(CAST(sum(y) AS HUGEINT) AS DOUBLE) AS sy,
             CAST(CAST(sum(x * x) AS HUGEINT) AS DOUBLE) AS sxx,
             CAST(CAST(sum(y * y) AS HUGEINT) AS DOUBLE) AS syy,
             CAST(CAST(sum(x * y) AS HUGEINT) AS DOUBLE) AS sxy
      FROM fp GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           (n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
             AS corr_qty_price
    FROM sums
    """,
)
def q_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped Pearson correlation with DETERMINISTIC float output —
    the built-in corr() accumulates doubles in shuffle order and is
    not reproducible run-to-run at scale. Here the five moment sums
    accumulate EXACTLY (inputs quantized to integer cents, summed as
    128-bit-safe decimals), and the final correlation is a fixed
    scalar expression over those exact sums — every double op is
    IEEE-defined with an explicit evaluation order, so the result is
    bit-identical across engines and across runs. One partial-agg
    shuffle of six longs per group."""
    li = read_table(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_quantity") * 100.0).cast("long")
    y = F.round(F.col("l_extendedprice") * 100.0).cast("long")
    dec = "decimal(38,0)"
    sums = li.select(
        "l_returnflag", x.alias("x"), y.alias("y")
    ).groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).cast("double").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).cast("double").alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return sums.select(
        "l_returnflag",
        n.cast("long").alias("n_rows"),
        corr.alias("corr_qty_price"),
    )


@register(
    "q_range_frame_sum",
    """
    SELECT event_id, user_id, ts,
           CAST(sum(CAST(round(value * 100.0) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS hour_sum_cents,
           CAST(count(*) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS hour_events
    FROM events
    """,
)
def q_range_frame_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame — the sliding-by-value complement to
    the ROWS frames of q_moving_avg: per user, the rolling sum and
    count of the trailing hour at every event. Spark expresses the
    interval bound on the µs epoch (rangeBetween is numeric); the
    oracle uses the native INTERVAL RANGE frame — identical frames
    because both bounds are closed. Value mass accumulates in exact
    integer cents, so frame-internal sum order cannot matter. One
    shuffle on user_id; the frame scan is a two-pointer pass over
    the sorted partition."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    cents = F.round(F.col("value") * 100.0).cast("long")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(cents).over(w).cast("long").alias("hour_sum_cents"),
        F.count(F.lit(1)).over(w).cast("long").alias("hour_events"),
    )


@register(
    "q_rank_functions",
    """
    SELECT o_custkey, o_orderkey,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           percent_rank() OVER w AS prnk,
           cume_dist() OVER w AS cdist
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete SQL rank family (rank / dense_rank /
    percent_rank / cume_dist) per customer by order value. The
    o_orderkey tie-break makes every rank deterministic; the two
    fractional ranks are single divisions of small integers —
    IEEE-exact and engine-identical. One shuffle + one sort serves
    all four functions (same window spec)."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
    )


def _zorder_oracle_sql() -> str:
    from breweries_data_pipeline_spark.functions.zorder import morton_key_sql

    norm_a = (
        "(((o_custkey - lo_a) * 65535) // CASE WHEN hi_a - lo_a > 0 "
        "THEN hi_a - lo_a ELSE 1 END)"
    )
    norm_b = (
        "(((o_orderkey - lo_b) * 65535) // CASE WHEN hi_b - lo_b > 0 "
        "THEN hi_b - lo_b ELSE 1 END)"
    )
    return f"""
    WITH src AS (SELECT o_orderkey, o_custkey FROM orders
                 WHERE o_orderkey < 4000),
    bounds AS (SELECT min(o_custkey) AS lo_a, max(o_custkey) AS hi_a,
                      min(o_orderkey) AS lo_b, max(o_orderkey) AS hi_b
               FROM src),
    normed AS (
      SELECT o_orderkey, o_custkey,
             {norm_a} AS na, {norm_b} AS nb
      FROM src, bounds
    )
    SELECT o_orderkey, o_custkey,
           {morton_key_sql('na', 'nb')} AS zkey
    FROM normed
    """


@register("q_zorder_key", None)  # oracle attached below (generated SQL)
def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key over (o_custkey, o_orderkey),
    range-normalized exactly like ``write_zordered``'s layout path
    (see ``functions/zorder.py`` for the 100 TB rationale and why
    normalization is mandatory). The bounds come from a 1-row
    aggregate broadcast onto the scan — no driver scalars in the
    query form, so it composes into pipelines. Pure JVM bit
    arithmetic; the oracle recomputes normalization + interleave
    term-for-term, bit-identical."""
    from breweries_data_pipeline_spark.functions.zorder import morton_key

    src = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 4000)
        .select("o_orderkey", "o_custkey")
    )
    bounds = src.agg(
        F.min("o_custkey").alias("lo_a"),
        F.max("o_custkey").alias("hi_a"),
        F.min("o_orderkey").alias("lo_b"),
        F.max("o_orderkey").alias("hi_b"),
    )
    mask = 65535
    span_a = F.when(F.col("hi_a") - F.col("lo_a") > 0, F.col("hi_a") - F.col("lo_a")).otherwise(F.lit(1))
    span_b = F.when(F.col("hi_b") - F.col("lo_b") > 0, F.col("hi_b") - F.col("lo_b")).otherwise(F.lit(1))
    scaled_a = (F.col("o_custkey") - F.col("lo_a")) * mask
    scaled_b = (F.col("o_orderkey") - F.col("lo_b")) * mask
    # exact decimal floor-division (same fix as zorder.normalize_to_
    # domain, r5 advice): the double-division spelling silently rounds
    # once (key - lo) * 65535 passes 2^53 — epoch-microsecond or
    # surrogate-key domains at 100 TB get there
    na = _long_div(scaled_a, span_a)
    nb = _long_div(scaled_b, span_b)
    return src.join(F.broadcast(bounds)).select(
        "o_orderkey",
        "o_custkey",
        morton_key(na, nb).alias("zkey"),
    )


REGISTRY["q_zorder_key"] = (q_zorder_key, _zorder_oracle_sql())


@register(
    "q_mad_stats",
    """
    WITH stats AS (
      SELECT o_orderstatus,
             percentile_cont(0.5)  WITHIN GROUP (ORDER BY o_totalprice) AS med,
             percentile_cont(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS p25,
             percentile_cont(0.75) WITHIN GROUP (ORDER BY o_totalprice) AS p75
      FROM orders GROUP BY o_orderstatus
    )
    SELECT o.o_orderstatus,
           count(*) AS n_rows,
           min(s.med) AS med,
           percentile_cont(0.5) WITHIN GROUP (ORDER BY abs(o.o_totalprice - s.med))
             AS mad,
           CAST(sum(CASE WHEN o.o_totalprice < s.p25 - 1.5 * (s.p75 - s.p25)
                           OR o.o_totalprice > s.p75 + 1.5 * (s.p75 - s.p25)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM orders o JOIN stats s ON o.o_orderstatus = s.o_orderstatus
    GROUP BY o.o_orderstatus
    """,
)
def q_mad_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust dispersion statistics per group: median absolute
    deviation and Tukey-fence (1.5×IQR) outlier counts — the
    outlier-resistant quality screen a data pipeline runs where
    stddev-based z-scores break down. Two passes: exact grouped
    percentiles (tiny result), broadcast back onto the scan, then a
    second percentile over |x − median|. Every double op
    (sub/abs/mul) is IEEE-exact over identical inputs, and exact
    percentile interpolation matches percentile_cont — so even the
    float outputs are bit-identical across engines."""
    o = read_table(spark, sf_dir, "orders").select("o_orderstatus", "o_totalprice")
    stats = o.groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("med"),
        F.percentile("o_totalprice", F.lit(0.25)).alias("p25"),
        F.percentile("o_totalprice", F.lit(0.75)).alias("p75"),
    )
    j = o.join(F.broadcast(stats), "o_orderstatus")
    iqr = F.col("p75") - F.col("p25")
    is_out = (F.col("o_totalprice") < F.col("p25") - 1.5 * iqr) | (
        F.col("o_totalprice") > F.col("p75") + 1.5 * iqr
    )
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("med").alias("med"),
        F.percentile(
            F.abs(F.col("o_totalprice") - F.col("med")), F.lit(0.5)
        ).alias("mad"),
        F.sum(F.when(is_out, 1).otherwise(0)).cast("long").alias("n_outliers"),
    )


_SQL_BIGRAMS = _sql_shingles(2)


@register(
    "q_bpe_pair_counts",
    f"""
    WITH grams AS (
      SELECT unnest({_SQL_BIGRAMS}) AS pair
      FROM documents WHERE n_chars > 0
    )
    SELECT pair, count(*) AS n_occurrences
    FROM grams GROUP BY pair
    ORDER BY n_occurrences DESC, pair
    LIMIT 100
    """,
)
def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-pair frequency counting — the inner loop of BPE
    tokenizer training (each merge round promotes the most frequent
    pair; this is one round over word-level symbols). Bigrams come
    from the single-regex shingle pass (no UDF, no per-row loop),
    then one hash aggregate and a global top-k that compiles to
    TakeOrderedAndProject — per-partition heaps, never a global
    sort. Tie-broken on the pair text, so the cut is deterministic."""
    docs = read_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    grams = docs.select(F.explode(shingles("text", 2)).alias("pair"))
    return (
        grams.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("pair"))
        .limit(100)
    )


@register(
    "q_vocab_coverage",
    r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
      FROM documents WHERE n_chars > 0
    ),
    vocab AS (
      SELECT tok FROM toks GROUP BY tok
      ORDER BY count(*) DESC, tok LIMIT 1000
    )
    SELECT t.doc_id,
           count(*) AS n_tokens,
           count(*) - count(v.tok) AS oov_tokens,
           ((count(*) - count(v.tok)) * 1000000) // count(*) AS oov_ppm
    FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
    GROUP BY t.doc_id
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus's own
    top-1000 token vocabulary — the screen for docs a fixed tokenizer
    would shred into rare pieces. The vocabulary is a deterministic
    top-k (count desc, token tie-break) that broadcasts onto the
    exploded token stream; per-doc OOV is a fixed-point integer
    ratio. At 100 TB the vocab build is one hash aggregate + top-k
    and the scoring join is broadcast — the corpus text never
    shuffles."""
    docs = read_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    toks = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .orderBy(F.col("__cnt").desc(), F.col("tok"))
        .limit(1000)
        .select("tok", F.lit(1).alias("__in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.count(F.lit(1)) - F.count("__in_vocab")).alias("oov_tokens"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "oov_tokens",
            F.expr("(oov_tokens * 1000000) div n_tokens").alias("oov_ppm"),
        )
    )


@register(
    "q_skyline_parts",
    """
    WITH pts AS (
      SELECT DISTINCT CAST(round(p_retailprice * 100.0) AS BIGINT) AS price_c,
             p_size
      FROM part
    )
    SELECT price_c, p_size FROM pts p
    WHERE NOT EXISTS (
      SELECT 1 FROM pts q
      WHERE q.price_c <= p.price_c AND q.p_size >= p.p_size
        AND (q.price_c < p.price_c OR q.p_size > p.p_size)
    )
    """,
)
def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier): parts not dominated on (cheaper
    price, larger size). The naive spelling is a quadratic NOT-EXISTS
    self-join — the oracle keeps that form deliberately, as an
    implementation-INDEPENDENT check. The engine instead runs the
    two-phase distributed skyline: (1) a local dominance filter
    inside hash buckets (windows partitioned by bucket — fully
    parallel, prunes anything dominated within its bucket, and local
    pruning is always sound because a local dominator is a global
    one), then (2) the same dominance windows over the small
    survivor set. Dominance itself is sort-based, not join-based:
    after ordering by price, a point is dominated iff the running
    max of size over STRICTLY cheaper points reaches its size (a
    RANGE frame, so equal prices stay out) or an equal-price point
    has strictly larger size. No self-join, no cartesian anywhere;
    prices quantized to integer cents so the RANGE frame and every
    comparison are exact."""
    pts = (
        read_table(spark, sf_dir, "part")
        .select(
            F.round(F.col("p_retailprice") * 100.0).cast("long").alias("price_c"),
            "p_size",
        )
        .distinct()
    )

    def survivors(df: DataFrame, *bucket_cols: str) -> DataFrame:
        w_cheaper = (
            Window.partitionBy(*bucket_cols)
            .orderBy("price_c")
            .rangeBetween(Window.unboundedPreceding, -1)
            if bucket_cols
            else Window.orderBy("price_c").rangeBetween(
                Window.unboundedPreceding, -1
            )
        )
        w_equal = Window.partitionBy(*(list(bucket_cols) + ["price_c"]))
        dominated = (
            F.coalesce(F.max("p_size").over(w_cheaper), F.lit(-1))
            >= F.col("p_size")
        ) | (F.max("p_size").over(w_equal) > F.col("p_size"))
        return df.withColumn("__dom", dominated).where(~F.col("__dom")).drop("__dom")

    local = survivors(
        pts.withColumn(
            "__bucket", F.pmod(F.xxhash64("price_c", "p_size"), F.lit(32))
        ),
        "__bucket",
    ).drop("__bucket")
    return survivors(local)


@register(
    "q_weighted_sample",
    r"""
    WITH t AS (
      SELECT doc_id,
             (len(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')))
              * 1000000)
               // len(regexp_split_to_array(trim(lower(text)), '\s+')) AS w_ppm,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':wsample'), 1, 8))::BIGINT
               % 1000000 AS u_ppm
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, w_ppm, u_ppm FROM t WHERE u_ppm < w_ppm
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-weighted corpus sampling: each doc is kept with
    probability proportional to a quality signal (here its lexical
    diversity, in ppm) by comparing a DETERMINISTIC per-id uniform —
    an md5 hash bucket, not rand() — against the weight. Reproducible
    across runs/engines/partitionings and leakage-safe under corpus
    growth, like the split assigner; repetitive (low-TTR) docs are
    downsampled exactly as a quality-resampling pass would. Pure
    narrow map, zero shuffle."""
    from breweries_data_pipeline_spark.operators.corpus import hash_bucket

    docs = read_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    toks = tokens(F.lower(F.col("text")))
    w_ppm = _long_div(
        F.size(F.array_distinct(toks)).cast("long") * 1000000,
        F.size(toks).cast("long"),
    )
    u_ppm = hash_bucket(F.col("doc_id"), "wsample", 1_000_000)
    return (
        docs.select(
            "doc_id", w_ppm.alias("w_ppm"), u_ppm.cast("long").alias("u_ppm")
        )
        .where(F.col("u_ppm") < F.col("w_ppm"))
    )


@register(
    "q_winsorize",
    """
    WITH bounds AS (
      SELECT o_orderstatus,
             percentile_cont(0.01) WITHIN GROUP (ORDER BY o_totalprice) AS lo,
             percentile_cont(0.99) WITHIN GROUP (ORDER BY o_totalprice) AS hi
      FROM orders GROUP BY o_orderstatus
    )
    SELECT o.o_orderkey, o.o_orderstatus,
           least(greatest(o.o_totalprice, b.lo), b.hi) AS clipped_price,
           (o.o_totalprice < b.lo OR o.o_totalprice > b.hi) AS was_clipped
    FROM orders o JOIN bounds b ON o.o_orderstatus = b.o_orderstatus
    """,
)
def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clip each group's values at its own [p1, p99] —
    the standard outlier treatment before feature export (clipping
    preserves row count where outlier DROPPING would bias the
    sample). Exact grouped percentiles (tiny result) broadcast back
    onto the scan; least/greatest are exact comparisons on the
    original doubles, so the clipped output is bit-identical across
    engines. One aggregate pass + one broadcast-joined narrow map."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    bounds = o.groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", F.lit(0.01)).alias("lo"),
        F.percentile("o_totalprice", F.lit(0.99)).alias("hi"),
    )
    j = o.join(F.broadcast(bounds), "o_orderstatus")
    return j.select(
        "o_orderkey",
        "o_orderstatus",
        F.least(F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi")).alias(
            "clipped_price"
        ),
        (
            (F.col("o_totalprice") < F.col("lo"))
            | (F.col("o_totalprice") > F.col("hi"))
        ).alias("was_clipped"),
    )


@register(
    "q_bigram_lm",
    rf"""
    WITH grams AS (
      SELECT unnest({_SQL_BIGRAMS}) AS pair
      FROM documents WHERE n_chars > 0
    ),
    pair_counts AS (
      SELECT pair,
             split_part(pair, ' ', 1) AS w1,
             count(*) AS n_pair
      FROM grams GROUP BY pair
    ),
    uni AS (
      SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_w1
      FROM pair_counts GROUP BY w1
    )
    SELECT p.pair, p.n_pair, u.n_w1,
           (p.n_pair * 1000000) // u.n_w1 AS cond_ppm
    FROM pair_counts p JOIN uni u ON p.w1 = u.w1
    ORDER BY p.n_pair DESC, p.pair LIMIT 200
    """,
)
def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model estimation: conditional continuation
    frequencies P(w2 | w1) over the corpus, in fixed-point ppm — the
    count-based core of n-gram LM training and of contamination /
    memorization audits. The unigram denominators derive from the
    bigram aggregate itself (sum over continuations), so the corpus
    explodes ONCE; one more shuffle keyed by w1 joins the two
    aggregates, then a deterministic top-k
    (TakeOrderedAndProject)."""
    docs = read_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    pair_counts = (
        docs.select(F.explode(shingles("text", 2)).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .withColumn("w1", F.split(F.col("pair"), " ").getItem(0))
    )
    uni = pair_counts.groupBy("w1").agg(
        F.sum("n_pair").cast("long").alias("n_w1")
    )
    return (
        pair_counts.join(uni, "w1")
        .select(
            "pair",
            "n_pair",
            "n_w1",
            F.expr("(n_pair * 1000000) div n_w1").alias("cond_ppm"),
        )
        .orderBy(F.col("n_pair").desc(), F.col("pair"))
        .limit(200)
    )


@register(
    "q_dup_rate_by_source",
    r"""
    WITH fp AS (
      SELECT source,
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fingerprint
      FROM documents WHERE n_chars > 0
    ),
    flagged AS (
      SELECT source,
             count(*) OVER (PARTITION BY fingerprint) > 1 AS is_dup
      FROM fp
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS dup_docs,
           (CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
             // count(*) AS dup_ppm
    FROM flagged GROUP BY source
    """,
)
def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication-rate diagnostics per source — the crawl-health
    report that tells a corpus team WHICH feed is flooding the
    pipeline with copies. Dup fingerprints come from a skew-immune
    groupBy count (map-side combine; a boilerplate page with millions
    of identical copies collapses to one row per map task — a
    count-over-fingerprint window would ship every copy to one task
    instead), filtered small, and flag-joined back (equi-join, AQE
    skew-splittable). Text never shuffles — only its 16-byte
    fingerprint. Fixed-point ppm output."""
    from breweries_data_pipeline_spark.functions.text import normalized_text

    docs = read_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    fp = docs.select(
        "source", F.md5(normalized_text(F.col("text"))).alias("fingerprint")
    )
    dup = (
        fp.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") > 1)
        .select("fingerprint", F.lit(True).alias("is_dup"))
    )
    flagged = fp.join(dup, "fingerprint", "left").select(
        "source", F.coalesce(F.col("is_dup"), F.lit(False)).alias("is_dup")
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
            .cast("long")
            .alias("dup_docs"),
        )
        .select(
            "source",
            "n_docs",
            "dup_docs",
            F.expr("(dup_docs * 1000000) div n_docs").alias("dup_ppm"),
        )
    )


@register(
    "q_group_concat",
    """
    SELECT n.n_name,
           string_agg(s.s_name, ',' ORDER BY s.s_name) AS suppliers,
           count(*) AS n_suppliers
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def q_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String aggregation (LISTAGG/string_agg surface): supplier
    names concatenated per nation. collect_list has no deterministic
    order under distributed aggregation, so the list is array_sort'ed
    before joining — the ONLY way a concatenated string can be
    reproducible (and hash-comparable) at any parallelism. Broadcast
    dim join + one partial-aggregating shuffle; the concatenated
    payload exists only post-aggregation."""
    s = read_table(spark, sf_dir, "supplier").select("s_name", "s_nationkey")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("s_name")), ",").alias(
                "suppliers"
            ),
            F.count(F.lit(1)).alias("n_suppliers"),
        )
    )


@register(
    "q_gaps_islands",
    """
    WITH seq AS (
      SELECT user_id, event_id,
             event_id - row_number() OVER (PARTITION BY user_id
                                           ORDER BY event_id) AS grp
      FROM events
    )
    SELECT user_id,
           min(event_id) AS island_start,
           max(event_id) AS island_end,
           count(*) AS island_len
    FROM seq GROUP BY user_id, grp
    """,
)
def q_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: maximal runs of consecutive event ids per
    user via the classic id-minus-row_number grouping trick — the
    pattern behind sequence-gap detection (lost events, missing
    shards) and contiguous-interval compression. One shuffle serves
    both the window and the island aggregate (same user_id
    partitioning); everything is integer arithmetic."""
    ev = read_table(spark, sf_dir, "events").select("user_id", "event_id")
    w = Window.partitionBy("user_id").orderBy("event_id")
    seq = ev.withColumn("grp", F.col("event_id") - F.row_number().over(w))
    return (
        seq.groupBy("user_id", "grp")
        .agg(
            F.min("event_id").alias("island_start"),
            F.max("event_id").alias("island_end"),
            F.count(F.lit(1)).alias("island_len"),
        )
        .drop("grp")
    )


@register(
    "q_percentile_disc",
    """
    SELECT o_orderstatus,
           percentile_disc(0.5)  WITHIN GROUP (ORDER BY o_totalprice) AS p50_disc,
           percentile_disc(0.95) WITHIN GROUP (ORDER BY o_totalprice) AS p95_disc
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete percentiles — the smallest actual value whose
    cumulative distribution reaches p (no interpolation, so the
    result is always a real data point; the right choice when the
    value is an id, a price tier, or anything non-averageable).
    Spark has no percentile_disc builtin: the cume_dist numerator
    (rows with value <= mine, ties counted fully) + a conditional min
    reproduces the SQL-standard semantics exactly — the percentile
    predicate is the INTEGER comparison 100*count_le >= p*n, no float
    arithmetic at all. The cume count is the bucket-offset two-pass
    scheme (operators.windows.bucketed_cume_count, $1000 price bands)
    — a plain window keyed by the 3-value order status would sort a
    third of all orders on ONE task each; this runs at status x band
    parallelism."""
    from breweries_data_pipeline_spark.operators.windows import (
        bucketed_cume_count,
    )

    o = read_table(spark, sf_dir, "orders").select("o_orderstatus", "o_totalprice")
    j = bucketed_cume_count(
        o,
        ["o_orderstatus"],
        "o_totalprice",
        F.expr("CAST(floor(o_totalprice / 1000.0) AS INT)"),
        out_name="__le",
        total_name="__n",
    )
    return j.groupBy("o_orderstatus").agg(
        F.min(
            F.when(F.col("__le") * 100 >= F.col("__n") * 50, F.col("o_totalprice"))
        ).alias("p50_disc"),
        F.min(
            F.when(F.col("__le") * 100 >= F.col("__n") * 95, F.col("o_totalprice"))
        ).alias("p95_disc"),
    )


@register(
    "q_contingency",
    """
    WITH cells AS (
      SELECT lang, source, count(*) AS observed
      FROM documents WHERE n_chars > 0 GROUP BY lang, source
    ),
    tot AS (
      SELECT CAST(sum(observed) AS BIGINT) AS grand FROM cells
    ),
    margins AS (
      SELECT c.lang, c.source, c.observed,
             CAST((SELECT CAST(sum(observed) AS BIGINT) FROM cells c2
                   WHERE c2.lang = c.lang) AS DOUBLE)
               * CAST((SELECT CAST(sum(observed) AS BIGINT) FROM cells c3
                       WHERE c3.source = c.source) AS DOUBLE)
               / CAST((SELECT grand FROM tot) AS DOUBLE) AS expected
      FROM cells c
    )
    SELECT lang, source, observed, expected,
           (CAST(observed AS DOUBLE) - expected)
             * (CAST(observed AS DOUBLE) - expected) / expected AS chi2_contrib
    FROM margins
    """,
)
def q_contingency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency-table association analysis (lang × source):
    observed vs independence-expected counts and per-cell chi-square
    contributions — the screen for sampling bias between corpus
    dimensions. All counts aggregate exactly; each cell's expected
    value and contribution is a fixed scalar expression over those
    exact integers (per-cell, no order-dependent float reduction),
    so every double matches the oracle bit-for-bit. One aggregate
    over the pair, marginals by windowed sums over the tiny cell
    table — the corpus shuffles only its (lang, source) pairs."""
    docs = read_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("observed")
    )
    w_lang = Window.partitionBy("lang")
    w_src = Window.partitionBy("source")
    w_all = Window.partitionBy()
    j = cells.select(
        "lang",
        "source",
        "observed",
        F.sum("observed").over(w_lang).cast("double").alias("__row_tot"),
        F.sum("observed").over(w_src).cast("double").alias("__col_tot"),
        F.sum("observed").over(w_all).cast("double").alias("__grand"),
    )
    expected = F.col("__row_tot") * F.col("__col_tot") / F.col("__grand")
    obs_d = F.col("observed").cast("double")
    return j.select(
        "lang",
        "source",
        "observed",
        expected.alias("expected"),
        ((obs_d - expected) * (obs_d - expected) / expected).alias(
            "chi2_contrib"
        ),
    )


@register(
    "q_user_growth",
    """
    WITH firsts AS (
      SELECT user_id, ts, event_id,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
      FROM events
    ),
    daily AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
             count(DISTINCT user_id) AS dau,
             CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS new_users
      FROM firsts GROUP BY 1
    )
    SELECT day, dau, new_users,
           CAST(sum(new_users) OVER (ORDER BY day
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
    FROM daily
    """,
)
def q_user_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting: daily active users, first-seen (new) users,
    and the cumulative unique-user count. Windowed countDistinct
    doesn't exist in any engine — the standard trick marks each
    user's first event with row_number, so cumulative uniques become
    a running SUM of integers over the tiny per-day aggregate. The
    event shuffle keys on user_id; the final running sum windows
    over one row per day (a cheap single-partition window on
    aggregate-sized data, not on events)."""
    ev = read_table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    firsts = ev.withColumn("rn", F.row_number().over(w_user))
    daily = firsts.groupBy(
        F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.countDistinct("user_id").alias("dau"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("long")
        .alias("new_users"),
    )
    w_cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day",
        "dau",
        "new_users",
        F.sum("new_users").over(w_cum).cast("long").alias("cum_users"),
    )


@register(
    "q_rfm_segments",
    """
    WITH base AS (
      SELECT user_id,
             max(ts) AS last_seen,
             count(*) AS frequency,
             CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT)
               AS monetary_cents
      FROM events GROUP BY user_id
    )
    SELECT user_id, last_seen, frequency, monetary_cents,
           ntile(5) OVER (ORDER BY last_seen, user_id) AS r_score,
           ntile(5) OVER (ORDER BY frequency, user_id) AS f_score,
           ntile(5) OVER (ORDER BY monetary_cents, user_id) AS m_score
    FROM base
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quintiles per
    user) — the classic behavioral scoring grid. One skew-free
    aggregate over events (monetary in exact integer cents), then
    three ntile windows over the per-user summary with user_id
    tie-breaks so quintile boundaries are deterministic. The windows
    order the AGGREGATE (one row per user), not the event stream —
    at 100 TB that summary is the small table; on a cluster a global
    ntile would range-partition it rather than single-task it."""
    ev = read_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    base = ev.groupBy("user_id").agg(
        F.max("ts").alias("last_seen"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.round(F.col("value") * 100.0).cast("long"))
        .cast("long")
        .alias("monetary_cents"),
    )
    return base.select(
        "user_id",
        "last_seen",
        "frequency",
        "monetary_cents",
        F.ntile(5).over(Window.orderBy("last_seen", "user_id")).alias("r_score"),
        F.ntile(5).over(Window.orderBy("frequency", "user_id")).alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy("monetary_cents", "user_id"))
        .alias("m_score"),
    )


@register(
    "q_event_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    pairs AS (
      SELECT event_type, next_type, count(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type
    ),
    margins AS (
      SELECT event_type, CAST(sum(n) AS BIGINT) AS n_from
      FROM pairs GROUP BY event_type
    )
    SELECT p.event_type AS from_type, p.next_type AS to_type,
           p.n AS n_transitions,
           (p.n * 1000000) // m.n_from AS prob_ppm
    FROM pairs p JOIN margins m ON p.event_type = m.event_type
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current type) in fixed-point ppm —
    the sequence model behind journey analysis and next-action
    prediction baselines. One user-keyed shuffle orders the
    sequences (lead with event_id tie-break), then the transition
    counts collapse to a k×k matrix whose marginals derive from the
    pair aggregate itself — after the window, nothing bigger than
    k² rows moves."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("next_type", F.lead("event_type").over(w)).where(
        F.col("next_type").isNotNull()
    )
    pairs = seq.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    margins = pairs.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n_from")
    )
    return pairs.join(margins, "event_type").select(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
        F.col("n").alias("n_transitions"),
        F.expr("(n * 1000000) div n_from").alias("prob_ppm"),
    )


@register(
    "q_unpivot",
    """
    SELECT l_orderkey, l_linenumber, metric,
           CAST(round(val * 100.0) AS BIGINT) AS value_cents
    FROM (
      UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
               FROM lineitem WHERE l_orderkey < 500)
      ON l_quantity, l_discount, l_tax
      INTO NAME metric VALUE val
    )
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt — wide-to-long reshaping, the inverse of
    q_pivot: each measure column becomes a (name, value) row. Spark's
    DataFrame.unpivot is a narrow projection (each input row fans out
    to k rows in place — no shuffle, no UDF); values are emitted as
    exact integer cents so the long format hash-matches across
    engines."""
    li = (
        read_table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") < 500)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax")
    )
    long = li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_discount", "l_tax"],
        variableColumnName="metric",
        valueColumnName="val",
    )
    return long.select(
        "l_orderkey",
        "l_linenumber",
        "metric",
        F.round(F.col("val") * 100.0).cast("long").alias("value_cents"),
    )


@register(
    "q_decile_table",
    """
    WITH ranked AS (
      SELECT o_totalprice,
             ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      FROM orders
    )
    SELECT decile,
           count(*) AS n_orders,
           min(o_totalprice) AS lo,
           max(o_totalprice) AS hi,
           CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM ranked GROUP BY decile
    """,
)
def q_decile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth decile profile of order totals (the quantile-bucket
    complement to the equi-width q_price_histogram): ntile(10) with an
    o_orderkey tie-break so bucket membership is deterministic, then
    per-decile bounds and exact integer-cent mass. The global ntile
    sorts once; at 100 TB swap it for percentile-boundary assignment
    (boundaries from one aggregate, bucketing as a narrow comparison
    map) when the profiled column is raw-fact-sized — the window form
    is right when profiling aggregates or samples."""
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    ranked = o.select("o_totalprice", F.ntile(10).over(w).alias("decile"))
    cents = F.round(F.col("o_totalprice") * 100.0).cast("long")
    return ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.sum(cents).cast("long").alias("total_cents"),
    )


@register(
    "q_week_over_week",
    """
    WITH weekly AS (
      SELECT date_trunc('week', o_orderdate) AS week,
             CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
               AS revenue_cents
      FROM orders GROUP BY 1
    )
    SELECT week, revenue_cents,
           lag(revenue_cents) OVER (ORDER BY week) AS prev_cents,
           revenue_cents - lag(revenue_cents) OVER (ORDER BY week)
             AS delta_cents,
           CASE WHEN lag(revenue_cents) OVER (ORDER BY week) > 0
                THEN ((revenue_cents - lag(revenue_cents) OVER (ORDER BY week))
                      * 10000) // lag(revenue_cents) OVER (ORDER BY week)
                END AS change_bps
    FROM weekly
    """,
)
def q_week_over_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue change — the reporting staple: weekly
    exact-cent totals, previous-week lag, absolute delta, and the
    relative change in integer basis points (fixed-point division, so
    no float drift). The lag window runs over the tiny weekly
    aggregate, never the fact table."""
    o = read_table(spark, sf_dir, "orders").select("o_orderdate", "o_totalprice")
    weekly = o.groupBy(
        F.date_trunc("week", F.col("o_orderdate")).alias("week")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100.0).cast("long"))
        .cast("long")
        .alias("revenue_cents")
    )
    w = Window.orderBy("week")
    prev = F.lag("revenue_cents").over(w)
    delta = F.col("revenue_cents") - prev
    # exact decimal floor-division (same class as the zorder fix):
    # delta * 10000 exceeds 2^53 once weekly revenue passes ~$9e9,
    # where the double-division spelling silently rounds
    change_bps = F.when(prev > 0, _long_div(delta * 10000, prev)).cast("long")
    return weekly.select(
        "week",
        "revenue_cents",
        prev.alias("prev_cents"),
        delta.alias("delta_cents"),
        change_bps.alias("change_bps"),
    )


@register(
    "q_basket_pairs",
    """
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           count(*) AS n_orders
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    ORDER BY n_orders DESC, part_a, part_b LIMIT 100
    """,
)
def q_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs appearing in the same
    order, top-100 — the counting core of association-rule mining.
    The self-join keys on l_orderkey, so both sides shuffle ONCE on
    the same key and pair fan-out is bounded by order size squared
    (orders have ~7 lines — a per-group constant, not a corpus-scale
    blowup); the id inequality halves the pairs and the top-k is
    TakeOrderedAndProject with full tie-breaks."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    return (
        a.join(b, "l_orderkey")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), F.col("part_a"), F.col("part_b"))
        .limit(100)
    )


@register(
    "q_activity_streaks",
    """
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    grouped AS (
      SELECT user_id, day,
             CAST(day AS DATE)
               - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                      AS INTEGER) AS grp
      FROM days
    ),
    streaks AS (
      SELECT user_id, count(*) AS streak_len
      FROM grouped GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(max(streak_len) AS BIGINT) AS longest_streak,
           CAST(count(*) AS BIGINT) AS n_streaks
    FROM streaks GROUP BY user_id
    """,
)
def q_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the
    engagement metric behind retention scoring. Distinct active days,
    then the gaps-and-islands trick in DATE space (day minus
    row_number collapses each consecutive run to one group key), then
    two rollups. Every shuffle keys on user_id — one partitioning
    serves the window and both aggregates."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day")
    )
    days = ev.distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grouped = days.withColumn(
        "grp", F.date_sub(F.col("day"), F.row_number().over(w))
    )
    streaks = grouped.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("streak_len")
    )
    return streaks.groupBy("user_id").agg(
        F.max("streak_len").cast("long").alias("longest_streak"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
    )


@register(
    "q_association_rules",
    """
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    singles AS (
      SELECT l_partkey, count(*) AS n_a FROM baskets GROUP BY l_partkey
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_ab
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
      HAVING count(*) >= 2
    ),
    tot AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n FROM baskets)
    SELECT p.part_a, p.part_b, p.n_ab,
           (p.n_ab * 1000000) // sa.n_a AS confidence_ppm,
           CAST(p.n_ab AS DOUBLE) * CAST((SELECT n FROM tot) AS DOUBLE)
             / (CAST(sa.n_a AS DOUBLE) * CAST(sb.n_a AS DOUBLE)) AS lift
    FROM pairs p
    JOIN singles sa ON p.part_a = sa.l_partkey
    JOIN singles sb ON p.part_b = sb.l_partkey
    """,
)
def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets: co-occurrence support,
    confidence (fixed-point ppm), and lift for every part pair seen
    at least twice. Distinct (order, part) baskets shuffle once on
    the order key for pair counting; the two singleton joins key on
    part (broadcastable side); the basket total attaches as a 1-row
    broadcast. Confidence is integer division; lift is one fixed
    double expression over exact integers — deterministic on both
    counts."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    # persisted: the distinct basket table feeds FOUR branches (both
    # pairing sides, the singleton counts, the basket total) — without
    # the cache the scan + distinct re-ran once per branch (r13 plan
    # audit: 5 lineitem scans for one query)
    baskets = _persist(li.distinct())
    singles = baskets.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_a"))
    a = baskets.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = baskets.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= 2)
    )
    tot = baskets.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n")
    )
    sa = singles.select(F.col("l_partkey").alias("part_a"), F.col("n_a"))
    sb = singles.select(F.col("l_partkey").alias("part_b"), F.col("n_a").alias("n_b"))
    j = (
        pairs.join(sa, "part_a")
        .join(sb, "part_b")
        .join(F.broadcast(tot))
    )
    lift = (
        F.col("n_ab").cast("double")
        * F.col("n").cast("double")
        / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
    )
    return j.select(
        "part_a",
        "part_b",
        "n_ab",
        F.expr("(n_ab * 1000000) div n_a").alias("confidence_ppm"),
        lift.alias("lift"),
    )


@register(
    "q_langid_confusion",
    f"""
    WITH pred AS (
      SELECT lang,
             CASE WHEN {_SQL_STOP_EN} > {_SQL_STOP_ES} THEN 'en'
                  WHEN {_SQL_STOP_ES} > {_SQL_STOP_EN} THEN 'es'
                  ELSE 'und' END AS lang_pred
      FROM documents
    )
    SELECT lang, lang_pred, count(*) AS n,
           (count(*) * 1000000)
             // CAST(sum(count(*)) OVER (PARTITION BY lang) AS BIGINT)
             AS row_ppm
    FROM pred GROUP BY lang, lang_pred
    """,
)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the heuristic language-ID against the
    stored ground-truth label, with per-truth-row fixed-point rates —
    the evaluation harness a classifier-backed filter needs before it
    gates a corpus. The heuristic is the same zero-shuffle column
    expression as q_lang_id; the matrix is one tiny (k×k) aggregate
    and the row normalization windows over that aggregate, not the
    corpus."""
    from breweries_data_pipeline_spark.operators.text import with_lang_id

    docs = read_table(spark, sf_dir, "documents").select("lang", "text")
    pred = with_lang_id(docs).drop("text")
    cells = pred.groupBy("lang", "lang_pred").agg(F.count(F.lit(1)).alias("n"))
    w_row = Window.partitionBy("lang")
    return cells.select(
        "lang",
        "lang_pred",
        "n",
        _long_div(
            F.col("n") * 1000000, F.sum("n").over(w_row).cast("long")
        ).alias("row_ppm"),
    )


_SQL_VEC_NORMSQ = (
    "list_reduce(list_transform(embedding, "
    "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)"
)


@register(
    "q_embedding_norm_outliers",
    f"""
    WITH norms AS (
      SELECT vec_id, sqrt({_SQL_VEC_NORMSQ}) AS norm
      FROM embeddings
    ),
    med AS (
      SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY norm) AS m FROM norms
    )
    SELECT n.vec_id, n.norm,
           (n.norm < 0.5 * (SELECT m FROM med)
            OR n.norm > 2.0 * (SELECT m FROM med)) AS is_outlier
    FROM norms n
    """,
)
def q_embedding_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding QA: flag vectors whose L2 norm falls outside
    [0.5×median, 2×median] — the cheap screen for truncated, zeroed,
    or exploded vectors before they poison an ANN index. Norms come
    from the pinned-order fold (bit-exact across engines, like
    q_higher_order), the median from one exact percentile over the
    norm column, attached as a 1-row broadcast; the comparison
    thresholds are exact double products."""
    emb = read_table(spark, sf_dir, "embeddings")
    sq = F.transform(
        F.col("embedding"), lambda x: x.cast("double") * x.cast("double")
    )
    norms = emb.select(
        "vec_id",
        F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x)).alias("norm"),
    )
    med = norms.agg(F.percentile("norm", F.lit(0.5)).alias("m"))
    return norms.join(F.broadcast(med)).select(
        "vec_id",
        "norm",
        (
            (F.col("norm") < 0.5 * F.col("m"))
            | (F.col("norm") > 2.0 * F.col("m"))
        ).alias("is_outlier"),
    )


@register(
    "q_rank_fusion",
    r"""
    WITH scored AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rank_a,
             row_number() OVER (
               ORDER BY (len(list_distinct(regexp_split_to_array(
                           trim(lower(text)), '\s+'))) * 1000000)
                        // len(regexp_split_to_array(trim(lower(text)), '\s+'))
                        DESC, doc_id) AS rank_b
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, rank_a, rank_b,
           1.0 / (60.0 + CAST(rank_a AS DOUBLE))
             + 1.0 / (60.0 + CAST(rank_b AS DOUBLE)) AS rrf_score
    FROM scored
    ORDER BY rrf_score DESC, doc_id LIMIT 100
    """,
)
def q_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion — the standard combiner for hybrid
    retrieval (lexical BM25 list + dense cosine list): each ranking
    contributes 1/(60+rank), so agreement near the top dominates
    without any score normalization. Demonstrated over two
    deterministic corpus rankings (length, lexical diversity) with
    doc_id tie-breaks; the RRF sum is a fixed two-term double
    expression over integer ranks — engine-identical. Both rank
    windows and the fused top-k run over (doc_id, two ints), never
    the text."""
    docs = read_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    toks = tokens(F.lower(F.col("text")))
    ttr = _long_div(
        F.size(F.array_distinct(toks)).cast("long") * 1000000,
        F.size(toks).cast("long"),
    )
    base = docs.select("doc_id", "n_chars", ttr.alias("__ttr"))
    wa = Window.orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    wb = Window.orderBy(F.col("__ttr").desc(), F.col("doc_id"))
    scored = base.select(
        "doc_id",
        F.row_number().over(wa).alias("rank_a"),
        F.row_number().over(wb).alias("rank_b"),
    )
    rrf = 1.0 / (60.0 + F.col("rank_a").cast("double")) + 1.0 / (
        60.0 + F.col("rank_b").cast("double")
    )
    return (
        scored.select("doc_id", "rank_a", "rank_b", rrf.alias("rrf_score"))
        .orderBy(F.col("rrf_score").desc(), F.col("doc_id"))
        .limit(100)
    )


@register(
    "q_top_terms_per_lang",
    r"""
    WITH counts AS (
      SELECT lang, tok, count(*) AS n
      FROM (SELECT lang,
                   unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
            FROM documents WHERE n_chars > 0)
      GROUP BY lang, tok
    ),
    ranked AS (
      SELECT lang, tok, n,
             row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok) AS rk
      FROM counts
    )
    SELECT lang, tok, n, rk FROM ranked WHERE rk <= 10
    """,
)
def q_top_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group heavy hitters: the ten most frequent terms per
    language — the grouped complement to the global tf-idf top
    terms, and the shape behind per-domain vocabulary reports. One
    explode feeds a (lang, term) count (partial-agg, skew-immune);
    the rank then runs over the aggregated counts — rows per group =
    vocabulary size, not corpus size — with a term tie-break for a
    deterministic cut, via the salted two-phase topk_per_group so a
    handful of languages over a web-scale vocabulary still ranks at
    lang x 64 parallelism."""
    docs = read_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    counts = (
        docs.select("lang", F.explode(tokens(F.lower(F.col("text")))).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return topk_per_group(
        counts,
        ["lang"],
        [F.col("n").desc(), F.col("tok")],
        10,
        rank_name="rk",
        salt=F.xxhash64("tok"),
        salt_buckets=64,
    )


@register(
    "q_time_to_convert",
    """
    WITH t1 AS (
      SELECT user_id, ts, event_type,
             min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS view_ts
      FROM events
    ),
    t2 AS (
      SELECT user_id, view_ts,
             min(CASE WHEN event_type = 'purchase' AND ts > view_ts THEN ts END)
               OVER (PARTITION BY user_id) AS purchase_ts
      FROM t1
    ),
    conv AS (
      SELECT DISTINCT user_id,
             date_diff('microseconds', view_ts, purchase_ts) AS latency_us
      FROM t2 WHERE purchase_ts IS NOT NULL
    )
    SELECT count(*) AS n_converted,
           CAST(min(latency_us) AS BIGINT) AS min_us,
           percentile_cont(0.5) WITHIN GROUP (ORDER BY latency_us) AS p50_us,
           percentile_cont(0.9) WITHIN GROUP (ORDER BY latency_us) AS p90_us,
           CAST(max(latency_us) AS BIGINT) AS max_us
    FROM conv
    """,
)
def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: first view to first
    subsequent purchase per user, summarized as exact percentiles of
    the microsecond gap — the product-analytics follow-up to the
    funnel (HOW LONG conversion takes, not just whether it happens).
    Latencies are integer microseconds (unix_micros subtraction), so
    the percentile interpolation is arithmetic over exact ints; the
    funnel windows share one user partitioning."""
    ev = read_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    t1 = ev.withColumn(
        "view_ts", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    t2 = t1.withColumn(
        "purchase_ts",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("view_ts")),
                F.col("ts"),
            )
        ).over(w),
    )
    conv = (
        t2.where(F.col("purchase_ts").isNotNull())
        .select(
            "user_id",
            (
                F.unix_micros(F.col("purchase_ts"))
                - F.unix_micros(F.col("view_ts"))
            ).alias("latency_us"),
        )
        .distinct()
    )
    return conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.min("latency_us").cast("long").alias("min_us"),
        F.percentile("latency_us", F.lit(0.5)).alias("p50_us"),
        F.percentile("latency_us", F.lit(0.9)).alias("p90_us"),
        F.max("latency_us").cast("long").alias("max_us"),
    )


@register(
    "q_error_rate_hourly",
    """
    SELECT date_trunc('hour', ts) AS hour,
           count(*) AS n_events,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_errors,
           (CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
             * 1000000) // count(*) AS error_ppm,
           (CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
             * 1000000) // count(*) > 300000 AS breaches_slo
    FROM events GROUP BY 1
    """,
)
def q_error_rate_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational monitoring: hourly error rates in fixed-point ppm
    with an SLO-breach flag — the aggregation a pipeline health
    dashboard runs over its own event log. One conditional aggregate
    per hour bucket; partial aggregation makes the shuffle one row
    per (task, hour)."""
    ev = read_table(spark, sf_dir, "events").select("ts", "event_type")
    n_err = F.sum(
        F.when(F.col("event_type") == "error", 1).otherwise(0)
    ).cast("long")
    agg = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour")).agg(
        F.count(F.lit(1)).alias("n_events"), n_err.alias("n_errors")
    )
    rate = F.expr("(n_errors * 1000000) div n_events")
    return agg.select(
        "hour",
        "n_events",
        "n_errors",
        rate.alias("error_ppm"),
        (rate > 300000).alias("breaches_slo"),
    )


@register(
    "q_daily_anomalies",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, count(*) AS n
      FROM events GROUP BY 1
    ),
    med AS (
      SELECT percentile_cont(0.5) WITHIN GROUP (ORDER BY n) AS m FROM daily
    ),
    dev AS (
      SELECT percentile_cont(0.5)
               WITHIN GROUP (ORDER BY abs(CAST(d.n AS DOUBLE) - med.m)) AS mad
      FROM daily d, med
    )
    SELECT strftime(d.day, '%Y-%m-%d') AS day, d.n,
           CAST(d.n AS DOUBLE) > med.m + 3.0 * dev.mad
             OR CAST(d.n AS DOUBLE) < med.m - 3.0 * dev.mad AS is_anomaly
    FROM daily d, med, dev
    """,
)
def q_daily_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust volume-anomaly detection: daily event counts flagged
    outside median ± 3×MAD — the outlier-resistant control chart for
    feed monitoring (a stddev band would be dragged by the very
    anomalies it should catch). Counts are exact ints; the two
    medians run over the tiny daily aggregate and attach as 1-row
    broadcasts; the band comparison is a fixed double expression."""
    ev = read_table(spark, sf_dir, "events").select(F.col("ts").cast("date").alias("day"))
    daily = ev.groupBy("day").agg(F.count(F.lit(1)).alias("n"))
    med = daily.agg(F.percentile("n", F.lit(0.5)).alias("m"))
    dev = (
        daily.join(F.broadcast(med))
        .agg(
            F.percentile(
                F.abs(F.col("n").cast("double") - F.col("m")), F.lit(0.5)
            ).alias("mad")
        )
    )
    j = daily.join(F.broadcast(med)).join(F.broadcast(dev))
    n_d = F.col("n").cast("double")
    return j.select(
        F.date_format(F.col("day"), "yyyy-MM-dd").alias("day"),
        "n",
        (
            (n_d > F.col("m") + 3.0 * F.col("mad"))
            | (n_d < F.col("m") - 3.0 * F.col("mad"))
        ).alias("is_anomaly"),
    )


@register(
    "q_funnel_dropoff",
    """
    WITH t1 AS (
      SELECT user_id, ts, event_type,
             min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS view_ts
      FROM events
    ),
    t2 AS (
      SELECT user_id, ts, event_type, view_ts,
             min(CASE WHEN event_type = 'click' AND ts > view_ts THEN ts END)
               OVER (PARTITION BY user_id) AS click_ts
      FROM t1
    ),
    t3 AS (
      SELECT user_id, view_ts, click_ts,
             min(CASE WHEN event_type = 'purchase' AND ts > click_ts THEN ts END)
               OVER (PARTITION BY user_id) AS purchase_ts
      FROM t2
    ),
    per_user AS (
      SELECT user_id,
             CASE WHEN min(view_ts) IS NOT NULL THEN 1 ELSE 0 END
               + CASE WHEN min(click_ts) IS NOT NULL THEN 1 ELSE 0 END
               + CASE WHEN min(purchase_ts) IS NOT NULL THEN 1 ELSE 0 END
               AS steps
      FROM t3 GROUP BY user_id
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM per_user)
    SELECT steps, count(*) AS n_users,
           (count(*) * 1000000) // (SELECT n_users FROM tot) AS share_ppm
    FROM per_user GROUP BY steps
    """,
)
def q_funnel_dropoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel drop-off distribution: how many users stall at each
    step (0 = never viewed, 3 = converted) with fixed-point shares —
    the aggregate view product teams read next to the per-user
    funnel. Reuses the single-shuffle funnel windows; the closing
    distribution groups a per-user summary and attaches the 1-row
    total as a broadcast."""
    ev = read_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    df = ev.withColumn(
        "view_ts", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    df = df.withColumn(
        "click_ts",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("view_ts")),
                F.col("ts"),
            )
        ).over(w),
    )
    df = df.withColumn(
        "purchase_ts",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("click_ts")),
                F.col("ts"),
            )
        ).over(w),
    )
    step = lambda c: F.when(F.min(c).isNotNull(), 1).otherwise(0)  # noqa: E731
    per_user = df.groupBy("user_id").agg(
        (step("view_ts") + step("click_ts") + step("purchase_ts")).alias("steps")
    )
    tot = per_user.agg(F.count(F.lit(1)).cast("long").alias("n_users_tot"))
    return (
        per_user.groupBy("steps")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .join(F.broadcast(tot))
        .select(
            "steps",
            "n_users",
            F.expr("(n_users * 1000000) div n_users_tot").alias("share_ppm"),
        )
    )


@register(
    "q_seasonality_dow",
    """
    SELECT isodow(ts) AS dow,
           count(*) AS n_events,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchases,
           (CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS BIGINT) * 1000000) // count(*) AS purchase_ppm
    FROM events GROUP BY 1
    """,
)
def q_seasonality_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile with purchase-rate ppm — the
    weekly rhythm baseline behind staffing and anomaly thresholds.
    ISO day numbering is spelled explicitly on the Spark side
    (((dayofweek+5) mod 7)+1) because the engines disagree on week
    start conventions; everything else is one conditional aggregate
    over at most 7 groups."""
    ev = read_table(spark, sf_dir, "events").select("ts", "event_type")
    isodow = ((F.dayofweek(F.col("ts")) + 5) % 7 + 1).cast("long")
    n_pur = F.sum(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    ).cast("long")
    agg = ev.groupBy(isodow.alias("dow")).agg(
        F.count(F.lit(1)).alias("n_events"), n_pur.alias("n_purchases")
    )
    return agg.select(
        "dow",
        "n_events",
        "n_purchases",
        F.expr("(n_purchases * 1000000) div n_events").alias("purchase_ppm"),
    )


@register(
    "q_revenue_concentration",
    """
    WITH cust AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT o_custkey, cents,
             row_number() OVER (ORDER BY cents, o_custkey) AS rk,
             count(*) OVER () AS n
      FROM cust
    ),
    rowed AS (
      SELECT cents, n,
             rk > n - (((n + 99) - ((n + 99) % 100)) // 100) AS is_top,
             rk * cents AS w
      FROM ranked
    )
    SELECT CAST(max(n) AS BIGINT) AS n_customers,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           CAST((CAST(sum(CASE WHEN is_top THEN cents ELSE 0 END)
                  AS HUGEINT)
             * 1000000) // CAST(sum(cents) AS BIGINT) AS BIGINT)
             AS top1pct_share_ppm,
           2.0 * CAST(CAST(sum(w) AS HUGEINT) AS DOUBLE)
             / (CAST(max(n) AS DOUBLE) * CAST(sum(cents) AS DOUBLE))
             - (CAST(max(n) AS DOUBLE) + 1.0) / CAST(max(n) AS DOUBLE)
             AS gini
    FROM rowed
    """,
)
def q_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration: the top-1%-of-customers revenue share
    (fixed-point ppm) and an EXACT Gini coefficient via the rank
    formula G = 2·Σ(i·xᵢ)/(n·Σxᵢ) − (n+1)/n over ascending-sorted
    integer cents — the weighted sum accumulates in 128-bit-exact
    decimals, so even the Gini double is bit-identical across
    engines (a naive float Lorenz integration would not be). The
    rank runs over the customer AGGREGATE (one row per customer) via
    the bucket-offset two-pass scheme (operators.windows.
    bucketed_row_number, $1000 cents-bands as the order-respecting
    bucket) — a bare ORDER BY window would drag every customer row
    onto ONE task; this ranks at n_buckets parallelism and the global
    count rides along from the offsets table."""
    from breweries_data_pipeline_spark.operators.windows import (
        bucketed_row_number,
    )

    o = read_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100.0).cast("long"))
        .cast("long")
        .alias("cents")
    )
    ranked = bucketed_row_number(
        cust,
        [],
        [F.col("cents"), F.col("o_custkey")],
        F.expr("cents DIV 100000"),
        rank_name="rk",
        total_name="n",
    ).select("cents", "rk", "n")
    # per-row: n is constant, so the top-1% flag and the rank-weighted
    # term are plain columns — no nested aggregates
    k = F.expr("((n + 99) - ((n + 99) % 100)) div 100")  # ceil(n/100)
    rowed = ranked.select(
        "cents",
        "n",
        (F.col("rk") > F.col("n") - k).alias("is_top"),
        (F.col("rk") * F.col("cents")).cast("decimal(38,0)").alias("__w"),
    )
    agg = rowed.agg(
        F.max("n").cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.sum(F.when(F.col("is_top"), F.col("cents")).otherwise(0))
        .cast("long")
        .alias("__top_cents"),
        F.sum("__w").cast("double").alias("__weighted"),
    )
    n_d = F.col("n_customers").cast("double")
    gini = 2.0 * F.col("__weighted") / (
        n_d * F.col("total_cents").cast("double")
    ) - (n_d + 1.0) / n_d
    return agg.select(
        "n_customers",
        "total_cents",
        # widened like q_lorenz_curve: cents-sum x 1e6 overflows
        # BIGINT past ~9.2e12 total cents (same class the r8 rotation
        # caught). Exact integral division (IntegralDivide is exact on
        # decimals) — floor(/) would round the DECIMAL(38,6) quotient
        # HALF_UP first, so a true quotient within ~5e-7 below an
        # integer floors to n while the oracle's exact // yields n-1.
        F.expr(
            "CAST((CAST(__top_cents AS DECIMAL(38,0)) * 1000000)"
            " div total_cents AS BIGINT)"
        ).alias("top1pct_share_ppm"),
        gini.alias("gini"),
    )


@register(
    "q_ab_readout",
    """
    WITH assigned AS (
      SELECT event_type,
             CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':ab'),
                                       1, 8))::BIGINT % 2 = 0
                  THEN 'control' ELSE 'treatment' END AS arm
      FROM events
    )
    SELECT arm,
           count(*) AS n_events,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_purchases,
           (CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS BIGINT) * 1000000) // count(*) AS purchase_ppm
    FROM assigned GROUP BY arm
    """,
)
def q_ab_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users deterministically hashed into
    control/treatment (same md5-bucket assigner as the train/val
    splitter — stable under re-runs and corpus growth, which rand()
    assignment is not), with per-arm purchase rates in fixed-point
    ppm. Assignment is a narrow map; the readout is a 2-group
    conditional aggregate."""
    from breweries_data_pipeline_spark.operators.corpus import hash_bucket

    ev = read_table(spark, sf_dir, "events").select("user_id", "event_type")
    arm = F.when(
        hash_bucket(F.col("user_id"), "ab", 2) == 0, F.lit("control")
    ).otherwise(F.lit("treatment"))
    n_pur = F.sum(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    ).cast("long")
    agg = ev.groupBy(arm.alias("arm")).agg(
        F.count(F.lit(1)).alias("n_events"), n_pur.alias("n_purchases")
    )
    return agg.select(
        "arm",
        "n_events",
        "n_purchases",
        F.expr("(n_purchases * 1000000) div n_events").alias("purchase_ppm"),
    )


@register(
    "q_lorenz_curve",
    """
    WITH cust AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey
    ),
    deciled AS (
      SELECT cents, ntile(10) OVER (ORDER BY cents, o_custkey) AS decile
      FROM cust
    ),
    per AS (
      SELECT decile, CAST(sum(cents) AS BIGINT) AS decile_cents
      FROM deciled GROUP BY decile
    ),
    tot AS (SELECT CAST(sum(decile_cents) AS BIGINT) AS t FROM per)
    SELECT decile, decile_cents,
           CAST((CAST(sum(decile_cents) OVER (ORDER BY decile
              ROWS UNBOUNDED PRECEDING) AS HUGEINT) * 1000000)
             // (SELECT t FROM tot) AS BIGINT) AS cum_share_ppm
    FROM per
    """,
)
def q_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve by customer decile: cumulative revenue share of
    the poorest 10%, 20%, ... — the curve behind the Gini scalar
    (q_revenue_concentration), read directly by pricing and
    fairness analyses. Exact integer cents throughout; the decile
    assignment and cumulative window run over the per-customer
    aggregate and the 10-row decile table respectively."""
    o = read_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100.0).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w = Window.orderBy("cents", "o_custkey")
    deciled = cust.select("cents", F.ntile(10).over(w).alias("decile"))
    per = deciled.groupBy("decile").agg(
        F.sum("cents").cast("long").alias("decile_cents")
    )
    tot = per.agg(F.sum("decile_cents").cast("long").alias("t"))
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per.join(F.broadcast(tot))
        .select(
            "decile",
            "decile_cents",
            F.sum("decile_cents").over(w_cum).cast("long").alias("__cum"),
            "t",
        )
        .select(
            "decile",
            "decile_cents",
            # cum_cents * 1e6 overflows BIGINT once total revenue
            # passes ~9.2e12 cents (hit at sf1 by the r8 soak
            # rotation's first run — ArithmeticException under ANSI
            # mode). Widen to DECIMAL(38,0) for the multiply, then
            # exact integral division: floor(/) would see a
            # DECIMAL(38,6) quotient already HALF_UP-rounded, so a
            # true quotient within ~5e-7 below an integer could floor
            # to n while the oracle's exact HUGEINT // yields n-1.
            # The oracle mirrors with HUGEINT //.
            F.expr(
                "CAST((CAST(__cum AS DECIMAL(38,0)) * 1000000) div t"
                " AS BIGINT)"
            ).alias("cum_share_ppm"),
        )
    )


@register(
    "q_user_lifetime",
    """
    WITH spans AS (
      SELECT user_id,
             date_diff('microseconds', min(ts), max(ts)) AS span_us,
             count(*) AS n_events
      FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           percentile_cont(0.5) WITHIN GROUP (ORDER BY span_us) AS p50_span_us,
           percentile_cont(0.9) WITHIN GROUP (ORDER BY span_us) AS p90_span_us,
           CAST(max(span_us) AS BIGINT) AS max_span_us,
           CAST(sum(n_events) AS BIGINT) AS total_events
    FROM spans
    """,
)
def q_user_lifetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-lifetime distribution: first-to-last-event span per user
    in exact integer microseconds, summarized with exact percentiles
    — the engagement-horizon metric behind churn modeling. One
    skew-free per-user aggregate, then percentiles over the tiny
    per-user summary."""
    ev = read_table(spark, sf_dir, "events").select("user_id", "ts")
    spans = ev.groupBy("user_id").agg(
        (
            F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))
        ).alias("span_us"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return spans.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.percentile("span_us", F.lit(0.5)).alias("p50_span_us"),
        F.percentile("span_us", F.lit(0.9)).alias("p90_span_us"),
        F.max("span_us").cast("long").alias("max_span_us"),
        F.sum("n_events").cast("long").alias("total_events"),
    )


@register(
    "q_repeat_purchase",
    """
    WITH per_user AS (
      SELECT user_id,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_purchases
      FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           CAST(sum(CASE WHEN n_purchases >= 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS buyers,
           CAST(sum(CASE WHEN n_purchases >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS repeat_buyers,
           (CAST(sum(CASE WHEN n_purchases >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             * 1000000)
             // greatest(CAST(sum(CASE WHEN n_purchases >= 1 THEN 1 ELSE 0 END)
                              AS BIGINT), 1) AS repeat_ppm
    FROM per_user
    """,
)
def q_repeat_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-purchase rate: the share of buyers who bought again —
    the single most-watched retention KPI. Per-user purchase counts
    (skew-free partial agg) rolled into one row of integer counters
    and a fixed-point rate with a guarded denominator."""
    ev = read_table(spark, sf_dir, "events").select("user_id", "event_type")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("n_purchases")
    )
    agg = per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("n_purchases") >= 1, 1).otherwise(0))
        .cast("long")
        .alias("buyers"),
        F.sum(F.when(F.col("n_purchases") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("repeat_buyers"),
    )
    return agg.select(
        "n_users",
        "buyers",
        "repeat_buyers",
        F.expr("(repeat_buyers * 1000000) div greatest(buyers, 1)").alias(
            "repeat_ppm"
        ),
    )


@register(
    "q_funnel_by_arm",
    """
    WITH t1 AS (
      SELECT user_id, ts, event_type,
             min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS view_ts
      FROM events
    ),
    t2 AS (
      SELECT user_id, ts, event_type, view_ts,
             min(CASE WHEN event_type = 'click' AND ts > view_ts THEN ts END)
               OVER (PARTITION BY user_id) AS click_ts
      FROM t1
    ),
    t3 AS (
      SELECT user_id, view_ts, click_ts,
             min(CASE WHEN event_type = 'purchase' AND ts > click_ts THEN ts END)
               OVER (PARTITION BY user_id) AS purchase_ts
      FROM t2
    ),
    per_user AS (
      SELECT user_id,
             CASE WHEN ('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':ab'),
                                       1, 8))::BIGINT % 2 = 0
                  THEN 'control' ELSE 'treatment' END AS arm,
             max(CASE WHEN purchase_ts IS NOT NULL THEN 1 ELSE 0 END)
               AS converted
      FROM t3 GROUP BY user_id
    )
    SELECT arm,
           count(*) AS n_users,
           CAST(sum(converted) AS BIGINT) AS n_converted,
           (CAST(sum(converted) AS BIGINT) * 1000000) // count(*)
             AS conversion_ppm
    FROM per_user GROUP BY arm
    """,
)
def q_funnel_by_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment conversion readout: full-funnel (view->click->
    purchase) conversion rate per deterministically-hashed A/B arm —
    the number an experimentation platform actually ships, user-level
    conversion rather than event-level rates. The funnel windows
    share one user partitioning; arm assignment is the same stable
    md5 bucket as the splitter; per-arm output is fixed-point ppm."""
    from breweries_data_pipeline_spark.operators.corpus import hash_bucket

    ev = read_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    df = ev.withColumn(
        "view_ts", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    df = df.withColumn(
        "click_ts",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("view_ts")),
                F.col("ts"),
            )
        ).over(w),
    )
    df = df.withColumn(
        "purchase_ts",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("click_ts")),
                F.col("ts"),
            )
        ).over(w),
    )
    arm = F.when(
        hash_bucket(F.col("user_id"), "ab", 2) == 0, F.lit("control")
    ).otherwise(F.lit("treatment"))
    per_user = df.groupBy("user_id").agg(
        F.max(arm).alias("arm"),
        F.max(
            F.when(F.col("purchase_ts").isNotNull(), 1).otherwise(0)
        ).alias("converted"),
    )
    agg = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"),
    )
    return agg.select(
        "arm",
        "n_users",
        "n_converted",
        F.expr("(n_converted * 1000000) div n_users").alias("conversion_ppm"),
    )


@register(
    "q_stickiness",
    """
    WITH weekly AS (
      SELECT date_trunc('week', ts) AS week,
             count(DISTINCT user_id) AS wau
      FROM events GROUP BY 1
    ),
    daily AS (
      SELECT date_trunc('week', ts) AS week, CAST(ts AS DATE) AS day,
             count(DISTINCT user_id) AS dau
      FROM events GROUP BY 1, 2
    )
    SELECT w.week, CAST(max(w.wau) AS BIGINT) AS wau,
           CAST(sum(d.dau) AS BIGINT) AS dau_sum,
           (CAST(sum(d.dau) AS BIGINT) * 1000000)
             // (CAST(max(w.wau) AS BIGINT) * count(*)) AS stickiness_ppm
    FROM weekly w JOIN daily d ON w.week = d.week
    GROUP BY w.week
    """,
)
def q_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per week — mean daily actives as a
    fixed-point fraction of weekly actives, the standard engagement-
    depth ratio. Two distinct-count aggregates (day and week grain)
    joined on the week key; the ratio divides exact integer sums, so
    no float averaging enters."""
    ev = read_table(spark, sf_dir, "events").select(
        F.date_trunc("week", F.col("ts")).alias("week"),
        F.col("ts").cast("date").alias("day"),
        "user_id",
    )
    weekly = ev.groupBy("week").agg(F.countDistinct("user_id").alias("wau"))
    daily = ev.groupBy("week", "day").agg(
        F.countDistinct("user_id").alias("dau")
    )
    j = daily.join(weekly, "week")
    agg = j.groupBy("week").agg(
        F.max("wau").cast("long").alias("wau"),
        F.sum("dau").cast("long").alias("dau_sum"),
        F.count(F.lit(1)).alias("__n_days"),
    )
    return agg.select(
        "week",
        "wau",
        "dau_sum",
        F.expr("(dau_sum * 1000000) div (wau * __n_days)").alias(
            "stickiness_ppm"
        ),
    )


@register(
    "q_growth_accounting",
    """
    WITH weeks AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
    ),
    labeled AS (
      SELECT user_id, week,
             min(week) OVER (PARTITION BY user_id) AS first_week,
             lag(week) OVER (PARTITION BY user_id ORDER BY week) AS prev_week,
             lead(week) OVER (PARTITION BY user_id ORDER BY week) AS next_week
      FROM weeks
    )
    SELECT week,
           CAST(sum(CASE WHEN week = first_week THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new,
           CAST(sum(CASE WHEN week <> first_week
                          AND prev_week = week - INTERVAL 7 DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
           CAST(sum(CASE WHEN week <> first_week
                          AND (prev_week IS NULL
                               OR prev_week < week - INTERVAL 7 DAY)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
           CAST(sum(CASE WHEN next_week IS NULL
                          OR next_week > week + INTERVAL 7 DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_churning_out
    FROM labeled GROUP BY week
    """,
)
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth accounting — the new / retained / resurrected / churned
    state machine over weekly activity (the decomposition behind
    every 'where did our users go' chart). Distinct (user, week)
    activity, then first/lag/lead windows on ONE user partitioning
    classify each active week; churn is counted on the week the user
    fails to return. Interval arithmetic on Monday-anchored weeks is
    exact; all outputs are integer counts."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    )
    weeks = ev.distinct()
    w_all = Window.partitionBy("user_id")
    w_ord = Window.partitionBy("user_id").orderBy("week")
    labeled = weeks.select(
        "user_id",
        "week",
        F.min("week").over(w_all).alias("first_week"),
        F.lag("week").over(w_ord).alias("prev_week"),
        F.lead("week").over(w_ord).alias("next_week"),
    )
    week_minus_7 = F.col("week") - F.expr("INTERVAL 7 DAY")
    week_plus_7 = F.col("week") + F.expr("INTERVAL 7 DAY")
    return labeled.groupBy("week").agg(
        F.sum(F.when(F.col("week") == F.col("first_week"), 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(
            F.when(
                (F.col("week") != F.col("first_week"))
                & (F.col("prev_week") == week_minus_7),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_retained"),
        F.sum(
            F.when(
                (F.col("week") != F.col("first_week"))
                & (
                    F.col("prev_week").isNull()
                    | (F.col("prev_week") < week_minus_7)
                ),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_resurrected"),
        F.sum(
            F.when(
                F.col("next_week").isNull() | (F.col("next_week") > week_plus_7),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_churning_out"),
    )


@register(
    "q_contamination_score",
    f"""
    WITH sh5 AS (
      SELECT doc_id, {_sql_shingles(5)} AS s FROM documents
    ),
    bench AS (
      SELECT DISTINCT unnest(s) AS sh FROM sh5 WHERE doc_id % 97 = 0
    ),
    train AS (
      SELECT DISTINCT doc_id, unnest(s) AS sh
      FROM sh5 WHERE doc_id % 97 <> 0
    ),
    totals AS (
      SELECT doc_id, count(*) AS n_shingles FROM train GROUP BY doc_id
    ),
    matches AS (
      SELECT t.doc_id, count(*) AS n_matched
      FROM train t JOIN bench b ON t.sh = b.sh
      GROUP BY t.doc_id
    )
    SELECT tt.doc_id, tt.n_shingles,
           CAST(coalesce(m.n_matched, 0) AS BIGINT) AS n_matched,
           (CAST(coalesce(m.n_matched, 0) AS BIGINT) * 1000000)
             // tt.n_shingles AS contamination_ppm
    FROM totals tt LEFT JOIN matches m ON tt.doc_id = m.doc_id
    """,
)
def q_contamination_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document contamination SCORE — the audit-granularity
    companion to the binary decontamination filter: how many of each
    training doc's distinct 5-grams appear in the benchmark set, as
    a fixed-point fraction. Same plan family as q_decontaminate
    (benchmark shingles broadcast onto one exploded corpus scan),
    but aggregated per doc instead of collapsed to a drop set — the
    report a data team reads before choosing the drop threshold."""
    docs = read_table(spark, sf_dir, "documents")
    sh5 = docs.select("doc_id", shingles("text", 5).alias("s"))
    bench = (
        sh5.where(F.col("doc_id") % 97 == 0)
        .select(F.explode("s").alias("sh"))
        .distinct()
    )
    train = (
        sh5.where(F.col("doc_id") % 97 != 0)
        .select("doc_id", F.explode("s").alias("sh"))
        .distinct()
    )
    totals = train.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    matches = (
        train.join(F.broadcast(bench), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    return (
        totals.join(matches, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_matched"), F.lit(0)).cast("long").alias("n_matched"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_matched",
            F.expr("(n_matched * 1000000) div n_shingles").alias(
                "contamination_ppm"
            ),
        )
    )


@register(
    "q_zipf_curve",
    r"""
    WITH counts AS (
      SELECT tok, count(*) AS freq
      FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
            FROM documents WHERE n_chars > 0)
      GROUP BY tok
    ),
    ranked AS (
      SELECT tok, freq,
             row_number() OVER (ORDER BY freq DESC, tok) AS rnk
      FROM counts
    )
    SELECT rnk, tok, freq, rnk * freq AS rank_freq_product
    FROM ranked WHERE rnk <= 200
    """,
)
def q_zipf_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency curve data: the top-200 (rank, frequency)
    points plus the rank×frequency product — near-constant for
    natural language, so drift in it flags synthetic or corrupted
    corpora (the distribution audit behind 'does this crawl look
    like language'). Token counts partial-aggregate skew-free; the
    rank window orders the vocabulary-sized aggregate with a token
    tie-break."""
    docs = read_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    counts = (
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    w = Window.orderBy(F.col("freq").desc(), F.col("tok"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 200)
        .select(
            "rnk",
            "tok",
            "freq",
            (F.col("rnk") * F.col("freq")).alias("rank_freq_product"),
        )
    )


@register(
    "q_order_cadence",
    """
    WITH gaps AS (
      SELECT o_custkey,
             date_diff('day',
                       lag(o_orderdate) OVER (PARTITION BY o_custkey
                                              ORDER BY o_orderdate, o_orderkey),
                       o_orderdate) AS gap_days
      FROM orders
    )
    SELECT count(*) AS n_gaps,
           percentile_cont(0.5) WITHIN GROUP (ORDER BY gap_days) AS p50_days,
           percentile_cont(0.9) WITHIN GROUP (ORDER BY gap_days) AS p90_days,
           CAST(max(gap_days) AS BIGINT) AS max_days
    FROM gaps WHERE gap_days IS NOT NULL
    """,
)
def q_order_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order cadence: the distribution of day gaps between a
    customer's consecutive orders — the reorder-cycle metric behind
    replenishment forecasting and churn cutoffs. One customer-keyed
    window (orderkey tie-break for same-day orders) produces integer
    day gaps; exact percentiles summarize them."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_orderkey"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).cast("long").alias("gap_days")
    ).where(F.col("gap_days").isNotNull())
    return gaps.agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.percentile("gap_days", F.lit(0.5)).alias("p50_days"),
        F.percentile("gap_days", F.lit(0.9)).alias("p90_days"),
        F.max("gap_days").cast("long").alias("max_days"),
    )


@register(
    "q_triangle_census",
    """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY u, v HAVING count(*) >= 2
    ),
    deg AS (
      SELECT n, count(*) AS d FROM (
        SELECT u AS n FROM edges UNION ALL SELECT v AS n FROM edges
      ) GROUP BY n
    ),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e2.u = e1.v
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_nodes,
             CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges
      FROM deg
    )
    SELECT agg.n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
           agg.n_wedges,
           tri.n_triangles,
           CAST(CASE WHEN agg.n_wedges > 0
                THEN (3000000 * tri.n_triangles) // agg.n_wedges
                ELSE 0 END AS BIGINT) AS clustering_fp
    FROM agg, tri
    """,
)
def q_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-purchase graph (parts sharing an
    order >= 2 times form an edge): n_nodes / n_edges / n_wedges /
    n_triangles / fixed-point global clustering coefficient in one
    row. The engine side runs the degree-ORIENTED wedge join
    (``triangle_stats``): every node's oriented out-degree is
    O(sqrt(m)), so wedge rows are O(m^1.5) even under hub skew, while
    the oracle verifies with the naive a<b<c triple join — triangle
    counts are orientation-invariant, which is exactly what makes the
    fancy plan oracle-able. All arithmetic integer (DIV), no doubles
    anywhere, so the row hashes identically across engines."""
    from breweries_data_pipeline_spark.operators.graph import triangle_stats

    li = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("id_a"),
            F.col("b.l_partkey").alias("id_b"),
        )
        .agg(F.count("*").alias("__n"))
        .where(F.col("__n") >= 2)
        .drop("__n")
    )
    return triangle_stats(edges, "id_a", "id_b")


@register(
    "q_chunk_dedup",
    """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ),
    chunks AS (
      SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
             array_to_string(tk[i*20+1 : i*20+20], ' ') AS chunk_text
      FROM toks, LATERAL (
        SELECT unnest(range(0, (len(tk) + 19) // 20)) AS i
      ) g
    ),
    ranked AS (
      SELECT doc_id, chunk_idx,
             row_number() OVER (
               PARTITION BY md5(chunk_text) ORDER BY doc_id, chunk_idx
             ) AS rn
      FROM chunks
    ),
    kept AS (SELECT doc_id, chunk_idx FROM ranked WHERE rn = 1)
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(k.chunk_idx) AS BIGINT) AS kept_chunks,
           md5(string_agg(
             CASE WHEN k.chunk_idx IS NOT NULL THEN c.chunk_text END,
             ' ' ORDER BY c.chunk_idx)) AS rebuilt_md5
    FROM chunks c
    LEFT JOIN kept k ON c.doc_id = k.doc_id AND c.chunk_idx = k.chunk_idx
    GROUP BY c.doc_id
    """,
)
def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level (paragraph-style, Falcon/RefinedWeb) dedup with
    document RECONSTRUCTION: split every document into 20-token
    chunks, drop every chunk whose exact text already appeared
    earlier in the corpus (survivor = lexicographically least
    (doc_id, chunk_idx)), and rebuild each document from its
    surviving chunks in order. Output per doc: total chunks, kept
    chunks, md5 of the rebuilt text (null when nothing survives).

    Scale shape: chunking is a zero-shuffle JVM transform
    (split + slice + posexplode — no Python); survivor election is a
    fingerprint groupBy with a min(struct) aggregate — MAP-SIDE
    COMBINED and therefore immune to Zipfian chunk skew, where the
    window-rank form the oracle uses would funnel every copy of a hot
    chunk through one partition (same groupBy-then-join choice as the
    substring-dedup family); reassembly is one groupBy(doc_id) with an
    ordered sort_array(collect_list) whose memory is bounded by
    chunks-per-document, not corpus size."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    tk = F.split(F.col("text"), " ")
    chunk_arr = F.transform(
        F.sequence(F.lit(0).cast("long"), F.expr("(size(split(text, ' ')) + 19) DIV 20") - 1),
        lambda i: F.array_join(F.slice(tk, (i * 20 + 1).cast("int"), 20), " "),
    )
    chunks = docs.select(
        "doc_id", F.posexplode(chunk_arr).alias("chunk_idx", "chunk_text")
    ).select(
        "doc_id", F.col("chunk_idx").cast("long").alias("chunk_idx"), "chunk_text"
    )
    winners = (
        chunks.groupBy(F.md5("chunk_text").alias("__fp"))
        .agg(F.min(F.struct("doc_id", "chunk_idx")).alias("__w"))
        .select(F.col("__w.doc_id").alias("doc_id"),
                F.col("__w.chunk_idx").alias("chunk_idx"),
                F.lit(1).alias("__kept"))
    )
    flagged = chunks.join(winners, ["doc_id", "chunk_idx"], "left")
    rebuilt = F.array_join(
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.when(
                        F.col("__kept").isNotNull(),
                        F.struct("chunk_idx", "chunk_text"),
                    )
                )
            ),
            lambda s: s["chunk_text"],
        ),
        " ",
    )
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.count("__kept").alias("kept_chunks"),
        F.when(F.count("__kept") > 0, F.md5(rebuilt)).alias("rebuilt_md5"),
    )


@register(
    "q_snapshot_diff",
    """
    WITH old AS (
      SELECT doc_id, source, md5(text) AS fp
      FROM documents WHERE doc_id % 10 != 0
    ),
    new AS (
      SELECT doc_id, source,
             md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [edited]'
                      ELSE text END) AS fp
      FROM documents WHERE doc_id % 13 != 0
    )
    SELECT COALESCE(o.source, n.source) AS source,
           CASE WHEN o.doc_id IS NULL THEN 'added'
                WHEN n.doc_id IS NULL THEN 'removed'
                WHEN o.fp <> n.fp THEN 'changed'
                ELSE 'unchanged' END AS status,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    GROUP BY 1, 2
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff — the crawl-management primitive: given
    two snapshot versions of the documents table (derived here
    deterministically: the old snapshot is missing doc_id%10==0, the
    new one is missing doc_id%13==0 and has doc_id%7==0 edited),
    classify every doc as added / removed / changed / unchanged by
    content fingerprint and count per (source, status).

    Scale shape: one full outer join on doc_id (both sides hash-
    partitioned once) + md5 comparison + one partial-aggregated
    count. In production the snapshots are bucketed by doc_id at
    write time, which makes the join exchange-free; nothing here
    carries document text past the fingerprint projection."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    old = docs.where(F.col("doc_id") % 10 != 0).select(
        F.col("doc_id").alias("o_id"),
        F.col("source").alias("o_source"),
        F.md5("text").alias("o_fp"),
    )
    new = docs.where(F.col("doc_id") % 13 != 0).select(
        F.col("doc_id").alias("n_id"),
        F.col("source").alias("n_source"),
        F.md5(
            F.when(
                F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" [edited]"))
            ).otherwise(F.col("text"))
        ).alias("n_fp"),
    )
    joined = old.join(new, old["o_id"] == new["n_id"], "full_outer")
    status = (
        F.when(F.col("o_id").isNull(), F.lit("added"))
        .when(F.col("n_id").isNull(), F.lit("removed"))
        .when(F.col("o_fp") != F.col("n_fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        joined.select(
            F.coalesce("o_source", "n_source").alias("source"),
            status.alias("status"),
        )
        .groupBy("source", "status")
        .agg(F.count("*").alias("n_docs"))
    )


@register("q_similarity_pq", None)
def q_similarity_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8 product-quantization ANN: 4-subspace / 16-centroid PQ codes
    (m bytes per vector instead of d floats), asymmetric-distance
    scoring via per-probe lookup tables, exact-cosine rerank of the
    top 4k shortlist. Rows-only: recall < 1 by design; the recall
    floor and the exactness of reported cosines are asserted in
    tests/test_similarity.py."""
    from breweries_data_pipeline_spark.operators.similarity import pq_topk

    emb = read_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 5)
    return pq_topk(emb, probes, k=5)


# ---------------------------------------------------------------------------
# round 6: bloom-filter join pruning + corpus-sampling / quality family
# ---------------------------------------------------------------------------


@register(
    "q_bloom_prune",
    """
    SELECT l_returnflag,
           count(*) AS n_rows,
           CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag
    """,
)
def q_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 bloom-filter semi-join reduction (``bloom_prune_join``):
    urgent orders x their lineitems, with the fact side pruned by the
    dim keys' Bloom bitmap BEFORE the join shuffle. Result-identical
    to the plain join (the oracle IS the plain join — false positives
    die in the exact join that follows), so correctness doesn't depend
    on the filter at all; the filter only cuts how many probe rows
    reach the exchange. At 100 TB this is the regime where the dim's
    key set is too large to broadcast as rows but its ~MB bitmap is
    not — Spark's own AQE runtime bloom filter
    (spark.sql.optimizer.runtime.bloomFilter.enabled) does the same
    rewrite behind size heuristics; the explicit operator makes the
    plan deterministic and test-assertable. Prune selectivity is
    asserted in tests/test_units.py."""
    from breweries_data_pipeline_spark.operators.joins import bloom_prune_join

    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    urgent = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    cents = F.round(F.col("l_extendedprice") * 100.0).cast("long")
    return (
        bloom_prune_join(li, urgent, "l_orderkey")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(cents).cast("long").alias("revenue_cents"),
        )
    )


@register(
    "q_char_diversity",
    """
    WITH chars AS (
      SELECT doc_id, unnest(string_split(text, '')) AS ch
      FROM documents WHERE n_chars > 0
    ),
    counts AS (
      SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_chars_counted,
           count(*) AS n_distinct_chars,
           1000000 - (CAST(sum(c * c) AS BIGINT) * 1000000)
             // (CAST(sum(c) AS BIGINT) * CAST(sum(c) AS BIGINT)) AS simpson_ppm
    FROM counts GROUP BY doc_id
    """,
)
def q_char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9 character-diversity quality scoring: per-document
    Gini-Simpson index (1 - sum(p_c^2)) in fixed-point ppm — the
    low-diversity tail flags mojibake, ascii-art, base64 blobs and
    single-character spam that length/stopword filters miss. Chosen
    over Shannon entropy deliberately: Simpson needs only integer
    c^2 sums, so the score is EXACT and engine-portable, while
    entropy's per-term log2 is not correctly-rounded libm math and
    its float sum is shuffle-order-dependent. Plan: one narrow
    char-explode (no UDF), two hash aggregates with map-side combine
    — the (doc, char) shuffle carries at most |alphabet| partial
    rows per doc per map task. Overflow headroom: sum(c^2)*1e6 stays
    under 2^63 for docs to ~1e6 chars; longer docs should pre-chunk
    (same bound documented at the call site)."""
    docs = read_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    counts = (
        docs.select(
            "doc_id",
            F.explode(F.array_remove(F.split(F.col("text"), ""), "")).alias("ch"),
        )
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c").cast("long")
    sumsq = F.sum(F.col("c") * F.col("c")).cast("long")
    return counts.groupBy("doc_id").agg(
        n.alias("n_chars_counted"),
        F.count(F.lit(1)).alias("n_distinct_chars"),
        (F.lit(1000000) - F.expr("(sum(c * c) * 1000000) div (sum(c) * sum(c))"))
        .cast("long")
        .alias("simpson_ppm"),
    )


@register(
    "q_token_budget_sample",
    r"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
               AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS ord_key
      FROM documents WHERE n_chars > 0
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             CAST(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY ord_key, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tokens
      FROM t
    )
    SELECT doc_id, source, n_tokens, cum_tokens
    FROM c WHERE cum_tokens <= 800
    """,
)
def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mixture token budgeting: greedily admit documents per
    source — in a DETERMINISTIC pseudo-random order (md5 of doc_id)
    — until the source's token budget is exhausted. This is how a
    pretraining mix caps an over-represented crawl at N tokens
    without biasing toward short or early documents; the hash order
    makes the sample reproducible and incremental (re-runs admit the
    same prefix). Plan: the per-source running sum is the
    bucket-offset two-pass scheme (operators.windows.
    bucketed_running_sum): the first two hex chars of the md5 sort
    key bucket each source 256 ways, per-bucket token subtotals
    prefix-sum over the tiny offsets table, and each bucket admits
    independently against its offset — an exact greedy prefix with
    no single reducer owning a giant source."""
    from breweries_data_pipeline_spark.functions.text import token_count
    from breweries_data_pipeline_spark.operators.windows import (
        bucketed_running_sum,
    )

    docs = read_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    t = docs.select(
        "doc_id",
        "source",
        token_count("text").cast("long").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("ord_key"),
    )
    cum = bucketed_running_sum(
        t,
        ["source"],
        [F.col("ord_key"), F.col("doc_id")],
        F.substring("ord_key", 1, 2),
        "n_tokens",
        out_name="cum_tokens",
    )
    return (
        cum.where(F.col("cum_tokens") <= 800)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


@register(
    "q_doc_lm_score",
    rf"""
    WITH grams AS (
      SELECT doc_id, unnest({_SQL_BIGRAMS}) AS pair
      FROM documents WHERE n_chars > 0
    ),
    pc AS (
      SELECT pair, split_part(pair, ' ', 1) AS w1, count(*) AS n_pair
      FROM grams GROUP BY pair
    ),
    uni AS (
      SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_w1 FROM pc GROUP BY w1
    ),
    model AS (
      SELECT pair, (n_pair * 1000000) // n_w1 AS p_ppm
      FROM pc JOIN uni USING (w1)
    )
    SELECT doc_id,
           count(*) AS n_bigrams,
           CAST(sum(p_ppm) AS BIGINT) // count(*) AS mean_p_ppm
    FROM grams JOIN model USING (pair)
    GROUP BY doc_id
    """,
)
def q_doc_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM document scoring (the CCNet-style LM quality filter,
    with the corpus's own bigram model standing in for the external
    LM): every document is scored by the mean conditional
    continuation frequency P(w2|w1) of its bigrams under the
    whole-corpus model — low scores flag machine-generated or
    shuffled-token text whose local word order is globally unusual.
    Self-scoring means every bigram exists in the model, so no
    smoothing term and the score stays in exact fixed-point ppm
    (integer div both engines). Plan: the corpus explodes to bigrams
    once per consumer; the model (pair -> ppm) is a hash aggregate +
    one w1-keyed join; scoring is a pair-keyed equi-join back onto
    the doc bigrams — Zipf-hot pairs skew the exchange, which AQE
    skew-split handles (the model side is one row per pair, so only
    the probe side fans out), then one per-doc aggregate."""
    docs = read_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    grams = docs.select("doc_id", F.explode(shingles("text", 2)).alias("pair"))
    pc = (
        grams.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .withColumn("w1", F.split(F.col("pair"), " ").getItem(0))
    )
    uni = pc.groupBy("w1").agg(F.sum("n_pair").cast("long").alias("n_w1"))
    model = pc.join(uni, "w1").select(
        "pair", F.expr("(n_pair * 1000000) div n_w1").alias("p_ppm")
    )
    return (
        grams.join(model, "pair")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.expr("sum(p_ppm) div count(*)").cast("long").alias("mean_p_ppm"),
        )
    )


@register(
    "q_rebalance_labels",
    """
    WITH r AS (
      SELECT vec_id, label,
             row_number() OVER (
               PARTITION BY label
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
      FROM embeddings
    ),
    m AS (
      SELECT CAST(min(c) AS BIGINT) AS min_n
      FROM (SELECT count(*) AS c FROM embeddings GROUP BY label)
    )
    SELECT vec_id, label FROM r, m WHERE rn <= min_n
    """,
)
def q_rebalance_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class rebalancing for training data: deterministic undersample
    of every label to the minority class's count, selecting each
    label's keep-set by hash order (md5 of vec_id) so the sample is
    reproducible run-to-run and unbiased w.r.t. insertion order. The
    per-class cap arrives as a one-row broadcast crossJoin (Q22-style
    scalar attach) — no second scan, no collect of data rows. Plan:
    the per-label rank is the bucket-offset two-pass scheme
    (operators.windows.bucketed_row_number): the first two hex chars
    of the md5 sort key are an order-respecting 256-way bucket, so
    each label ranks at 256-task parallelism and no single reducer
    owns a whole class — a plain label-partitioned window would cap
    the job at n_labels tasks forever."""
    from breweries_data_pipeline_spark.operators.windows import (
        bucketed_row_number,
    )

    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    min_n = (
        emb.groupBy("label")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.min("c").cast("long").alias("min_n"))
    )
    keyed = emb.withColumn("__ok", F.md5(F.col("vec_id").cast("string")))
    ranked = bucketed_row_number(
        keyed,
        ["label"],
        [F.col("__ok"), F.col("vec_id")],
        F.substring("__ok", 1, 2),
        rank_name="rn",
    )
    return (
        ranked.crossJoin(F.broadcast(min_n))
        .where(F.col("rn") <= F.col("min_n"))
        .select("vec_id", "label")
    )


@register(
    "q_similarity_join_exact",
    f"""
    WITH s AS (
      SELECT doc_id, list_distinct({_SQL_SHINGLES}) AS sh
      FROM documents WHERE n_chars > 0
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           (CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) * 1000000)
             // (CAST(len(a.sh) AS BIGINT) + CAST(len(b.sh) AS BIGINT)
                 - CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT)) AS jaccard_ppm
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE (CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) * 1000000)
             // (CAST(len(a.sh) AS BIGINT) + CAST(len(b.sh) AS BIGINT)
                 - CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT)) >= 800000
    """,
)
def q_similarity_join_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 EXACT all-pairs Jaccard similarity join at t=0.8 via
    AllPairs/PPJoin prefix filtering — the zero-recall-loss
    complement to MinHash-LSH. The oracle is brute-force quadratic
    (fine at oracle SF); the Spark plan is the prefix-filtered
    equi-join from ``prefix_filtered_similarity_join``, whose
    rarest-first global token order keeps candidate buckets small on
    Zipfian shingle distributions. The Spark side works on xxhash64
    shingle fingerprints and the oracle on shingle strings, so the
    hash match also checks that the fingerprints stay exact (no
    64-bit collision) here. Every pair the quadratic oracle finds
    MUST appear — the prefix lemma guarantees no false negatives, and
    the exact verify kills false positives — so this oracle row
    proves the filter's completeness, not just its plumbing."""
    from breweries_data_pipeline_spark.operators.dedup import (
        prefix_filtered_similarity_join,
    )

    docs = read_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    return prefix_filtered_similarity_join(docs, threshold=0.8)


@register(
    "q_debounce_events",
    """
    WITH x AS (
      SELECT event_id, user_id, event_type, ts,
             lag(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type
               ORDER BY epoch_us(ts), event_id) AS prev_us
      FROM events
    )
    SELECT event_id, user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
    FROM x
    WHERE prev_us IS NULL OR epoch_us(ts) - prev_us > 300000000
    """,
)
def q_debounce_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event debouncing: drop events of the same (user, type) arriving
    within 300s of the PREVIOUS such event — the duplicate-click /
    at-least-once-delivery cleanup every event pipeline runs before
    sessionization. Lag-based (gap measured to the previous event,
    kept or not), so it is a single window pass — the keep-dependent
    variant is inherently sequential and belongs to the streaming
    dedup operator. Gaps compare in integer MICROSECONDS
    (unix_micros/epoch_us), never float seconds, so the cut is exact
    cross-engine. One shuffle by (user, type); per-key order by
    (time, event_id) makes simultaneous events deterministic."""
    ev = read_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id", "event_type").orderBy(us, F.col("event_id"))
    return (
        ev.withColumn("prev_us", F.lag(us).over(w))
        .where(F.col("prev_us").isNull() | (us - F.col("prev_us") > 300000000))
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        )
    )


# ---------------------------------------------------------------------------
# round 6: semantic dedup, DSIR resampling, incremental agg maintenance,
# k-anonymity, graph node similarity, count-min sketch
# ---------------------------------------------------------------------------

_SQL_DOT_V = (
    "list_sum(list_transform(range(1, len({a}) + 1), "
    "i -> {a}[i] * {b}[i]))"
)


@register(
    "q_semantic_dedup",
    f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    seeds AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS cid,
             v AS c
      FROM e
      QUALIFY row_number() OVER (ORDER BY vec_id)
              <= GREATEST(8, (SELECT count(*) FROM e) // 250)
    ),
    sims AS (
      SELECT e.vec_id, s.cid,
             {_SQL_DOT_V.format(a='e.v', b='s.c')}
             / (sqrt({_SQL_DOT_V.format(a='e.v', b='e.v')})
                * sqrt({_SQL_DOT_V.format(a='s.c', b='s.c')})) AS cos
      FROM e CROSS JOIN seeds s
    ),
    assigned AS (
      SELECT vec_id, cluster_id, cos_centroid FROM (
        SELECT vec_id, cid AS cluster_id, cos AS cos_centroid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, cid) AS rn
        FROM sims
      ) t WHERE rn = 1
    ),
    ranked AS (
      SELECT vec_id, cluster_id, cos_centroid,
             CAST(row_number() OVER (PARTITION BY cluster_id
                                     ORDER BY cos_centroid ASC, vec_id)
                  AS BIGINT) AS rnk
      FROM assigned
    ),
    drops AS (
      SELECT DISTINCT b.vec_id
      FROM ranked a
      JOIN ranked b ON a.cluster_id = b.cluster_id AND a.rnk < b.rnk
      JOIN e ea ON ea.vec_id = a.vec_id
      JOIN e eb ON eb.vec_id = b.vec_id
      WHERE {_SQL_DOT_V.format(a='ea.v', b='eb.v')}
            / (sqrt({_SQL_DOT_V.format(a='ea.v', b='ea.v')})
               * sqrt({_SQL_DOT_V.format(a='eb.v', b='eb.v')})) >= 0.25
    )
    SELECT vec_id, CAST(cluster_id AS INTEGER) AS cluster_id,
           cos_centroid, rnk
    FROM ranked WHERE vec_id NOT IN (SELECT vec_id FROM drops)
    """,
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8 SemDeDup semantic deduplication (cluster -> rank by
    diversity -> within-cluster cosine pruning). The oracle replays
    the full algorithm in SQL — deterministic seeds (k lowest-id
    vectors, n_iter=0), pinned-order exact-fold cosine — so the kept
    set, cluster assignment, and ranks hash-match bit-for-bit. The
    production path flips n_iter>0 for real Lloyd centroids; plan
    shape is identical. See operators/similarity.py:semantic_dedup
    for the 100 TB posture (cluster-count scaling, hub-cluster
    sub-sharding)."""
    from breweries_data_pipeline_spark.operators.similarity import semantic_dedup

    emb = read_table(spark, sf_dir, "embeddings")
    # k ~ N / target_cluster_size (SemDeDup's knob): bounds within-
    # cluster pair volume as the corpus grows. The floor of 8 is the
    # oracle regime — at the driver's sf0.01 (500 rows) the formula
    # yields exactly the 8 lowest-id seeds the SQL replays; at bench
    # scales (20k/200k vectors) k rises to 80/800 and the operator
    # switches to its matmul assignment kernel.
    k = max(8, emb.count() // 250)
    return semantic_dedup(emb, k=k, tau=0.25, n_iter=0)


@register(
    "q_dsir_weights",
    r"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(text), '\s+')) AS w,
             lang = 'en' AS is_t
      FROM documents
    ),
    feats AS (
      SELECT doc_id,
             ('0x' || substr(md5(w || ':dsir'), 1, 8))::BIGINT % 256 AS f,
             is_t
      FROM toks
    ),
    model AS (
      SELECT f, count(*) AS cr,
             sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct
      FROM feats GROUP BY f
    ),
    tot AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM model),
    lr AS (
      SELECT f,
             CAST(round(
               (((ct + 1.0) / (tt + 256.0)) / ((cr + 1.0) / (tr + 256.0))
                - 1.0) * 1000000.0) AS BIGINT) AS lr_micro
      FROM model CROSS JOIN tot
    ),
    perdoc AS (
      SELECT doc_id, f, count(*) AS cnt FROM feats GROUP BY doc_id, f
    )
    SELECT p.doc_id,
           CAST(sum(p.cnt * l.lr_micro) AS BIGINT) AS weight_micro,
           CAST(sum(p.cnt * l.lr_micro) AS BIGINT) >= 0 AS selected
    FROM perdoc p JOIN lr l USING (f)
    GROUP BY p.doc_id
    """,
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9 DSIR importance weights for domain-targeted data selection
    (target = English documents). Hashed-token feature model (256
    buckets, bounded size -> broadcast), exact-integer linearized
    likelihood ratios, one explode + two hash aggregates — the
    trillion-token data-selection recipe of Xie et al. 2023 with the
    model-size/scan-count posture preserved. Oracle replays the whole
    pipeline in SQL bit-for-bit."""
    from breweries_data_pipeline_spark.operators.corpus import dsir_weights

    docs = read_table(spark, sf_dir, "documents")
    return dsir_weights(docs, target=F.col("lang") == "en")


@register(
    "q_incremental_agg",
    """
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS order_cnt,
           CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT)
             AS total_cents,
           strftime(max(o_orderdate), '%Y-%m-%d') AS last_order_date
    FROM orders
    GROUP BY o_custkey
    """,
)
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-aggregate maintenance: the per-customer
    rollup is built as base (orders before 1997) MERGED with the delta
    partition (1997 onward) via merge_partial_aggs — counts add, sums
    add, maxes max. The oracle is the direct one-shot aggregate over
    the full table, proving the algebraic merge reproduces it exactly.
    At 100 TB the merge touches |keys| rows per side instead of
    re-shuffling the full fact history every refresh."""
    from breweries_data_pipeline_spark.operators.merge import merge_partial_aggs

    orders = read_table(spark, sf_dir, "orders")

    def part_agg(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count("*").alias("order_cnt"),
            F.sum(F.round(F.col("o_totalprice") * 100.0).cast("long")).alias(
                "total_cents"
            ),
            F.max("o_orderdate").alias("__last"),
        )

    cut = "1997-01-01"
    base = part_agg(orders.filter(F.col("o_orderdate") < cut))
    delta = part_agg(orders.filter(F.col("o_orderdate") >= cut))
    merged = merge_partial_aggs(
        base,
        delta,
        ["o_custkey"],
        {"order_cnt": "sum", "total_cents": "sum", "__last": "max"},
    )
    return merged.select(
        "o_custkey",
        F.col("order_cnt").cast("long").alias("order_cnt"),
        F.col("total_cents").cast("long").alias("total_cents"),
        F.date_format("__last", "yyyy-MM-dd").alias("last_order_date"),
    )


@register(
    "q_k_anonymity",
    """
    WITH classes AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
             count(*) AS k
      FROM customer
      GROUP BY 1, 2, 3
    )
    SELECT k,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(k) AS BIGINT) AS n_rows,
           k < 5 AS at_risk
    FROM classes GROUP BY k
    """,
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit for training-data release: k-anonymity histogram
    over quasi-identifier equivalence classes (nation, market segment,
    account-balance band). Rows in classes with k < 5 are
    re-identifiable and need suppression/generalization before the
    table ships. Two hash aggregates; the first (the wide one) gets
    map-side combine, the second groups ~hundreds of k values — at
    100 TB cost is one shuffle of |classes| rows, and the QI class key
    is the natural bucketing key for repeated audits."""
    cust = read_table(spark, sf_dir, "customer")
    classes = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_band"),
    ).agg(F.count("*").alias("k"))
    return classes.groupBy("k").agg(
        F.count("*").cast("long").alias("n_classes"),
        F.sum("k").cast("long").alias("n_rows"),
    ).select("k", "n_classes", "n_rows", (F.col("k") < 5).alias("at_risk"))


@register(
    "q_node_jaccard",
    """
    WITH e AS (
      SELECT DISTINCT l_partkey AS item, l_suppkey AS node FROM lineitem
    ),
    kept AS (
      SELECT e.item, e.node FROM e
      JOIN (SELECT item FROM e GROUP BY item HAVING count(*) <= 30) h
        USING (item)
    ),
    dn AS (SELECT node, count(*) AS d FROM kept GROUP BY node),
    common AS (
      SELECT a.node AS node_a, b.node AS node_b, count(*) AS common_items
      FROM kept a JOIN kept b ON a.item = b.item AND a.node < b.node
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT node_a, node_b, CAST(common_items AS BIGINT) AS common_items,
             common_items / (da.d + db.d - common_items) AS jaccard
      FROM common
      JOIN dn da ON da.node = node_a
      JOIN dn db ON db.node = node_b
    )
    SELECT node_a, node_b, common_items, jaccard, CAST(rn AS BIGINT) AS rank
    FROM (
      SELECT *, row_number() OVER (
        ORDER BY jaccard DESC, node_a, node_b) AS rn
      FROM scored
    ) t WHERE rn <= 50
    """,
)
def q_node_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph node similarity: top-50 supplier pairs by Jaccard of
    their part neighborhoods (common-neighbor link prediction), with
    hub-part pruning (cap 30) ahead of the pairing self-join — see
    operators/graph.py:node_jaccard for the sum(deg^2) cost model.
    Global top-k plans as TakeOrderedAndProject. Jaccard division is
    a single exactly-rounded IEEE op, hash-stable cross-engine."""
    from breweries_data_pipeline_spark.operators.graph import node_jaccard

    li = read_table(spark, sf_dir, "lineitem")
    sims = node_jaccard(
        li.select("l_partkey", "l_suppkey"), "l_partkey", "l_suppkey", hub_cap=30
    )
    w = Window.orderBy(F.col("jaccard").desc(), F.col("node_a"), F.col("node_b"))
    return (
        topk_global(
            sims, [F.col("jaccard").desc(), F.col("node_a"), F.col("node_b")], 50
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
    )


@register(
    "q_cms_frequencies",
    r"""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      FROM documents
    ),
    rs AS (SELECT unnest([0, 1, 2, 3]) AS r),
    grid AS (
      SELECT rs.r,
             ('0x' || substr(md5(w || ':cms' || rs.r), 1, 8))::BIGINT % 128
               AS bucket,
             count(*) AS cnt
      FROM toks CROSS JOIN rs
      GROUP BY 1, 2
    ),
    top AS (
      SELECT w, count(*) AS true_cnt FROM toks GROUP BY w
      ORDER BY true_cnt DESC, w LIMIT 20
    ),
    est AS (
      SELECT t.w, min(g.cnt) AS est_cnt
      FROM top t CROSS JOIN rs
      JOIN grid g
        ON g.r = rs.r
       AND g.bucket = ('0x' || substr(md5(t.w || ':cms' || rs.r), 1, 8))::BIGINT
                      % 128
      GROUP BY t.w
    )
    SELECT t.w AS word, CAST(t.true_cnt AS BIGINT) AS true_cnt,
           CAST(e.est_cnt AS BIGINT) AS est_cnt
    FROM top t JOIN est e ON e.w = t.w
    """,
)
def q_cms_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation over corpus tokens: build
    the 4x128 mergeable grid in one explode + hash aggregate, then
    point-estimate the exact top-20 words against it (sketch
    broadcast, probes never shuffle). The md5-salted hashing makes the
    grid deterministic, so the DuckDB oracle reproduces estimates
    bit-for-bit — estimates are provable overestimates bounded by
    2N/width. See operators/sketch.py for the merge-by-sum rollup
    story at 100 TB."""
    from breweries_data_pipeline_spark.operators.sketch import (
        cms_build,
        cms_estimate,
    )
    from breweries_data_pipeline_spark.functions.text import tokens as _toks

    docs = read_table(spark, sf_dir, "documents")
    # the token stream feeds BOTH the sketch build and the exact top-20
    # truth aggregate — persist so the explode runs once
    toks = _persist(docs.select(F.explode(_toks("text")).alias("w")))
    sketch = cms_build(toks, "w")
    top = topk_global(
        toks.groupBy("w").agg(F.count("*").alias("true_cnt")),
        [F.col("true_cnt").desc(), F.col("w")],
        20,
    )
    est = cms_estimate(sketch, top.select("w"), "w")
    return (
        top.join(est, "w")
        .select(
            F.col("w").alias("word"),
            F.col("true_cnt").cast("long").alias("true_cnt"),
            F.col("est_cnt").cast("long").alias("est_cnt"),
        )
    )


@register(
    "q_bfs_hops",
    """
    WITH RECURSIVE edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    walk(node, d) AS (
      SELECT CAST(1 AS BIGINT) AS node, 0 AS d
      UNION
      SELECT e.dst, w.d + 1
      FROM walk w JOIN edges e ON e.src = w.node
      WHERE w.d < 3
    )
    SELECT node, CAST(min(d) AS INTEGER) AS dist
    FROM walk GROUP BY node
    """,
)
def q_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph traversal: hop-distances (<= 3) from part 1 over the
    part co-occurrence graph (parts sharing an order). Frontier BFS —
    per-round cost proportional to frontier out-edges, settled-set
    anti-join, localCheckpoint per round (see graph.py:bfs_distances).
    Oracle is DuckDB's WITH RECURSIVE with the same hop bound; min(d)
    collapses multiple discovery depths to the true distance."""
    from breweries_data_pipeline_spark.operators.graph import bfs_distances

    # distinct (order, part) before the self-join — same rationale as
    # q_kcore: pair fan-out is quadratic in per-order multiplicity,
    # and the edge set is distinct afterwards anyway. `<` (not `!=`)
    # emits each undirected edge ONCE: half the join output, half the
    # trailing-distinct shuffle, half the persisted bytes; the
    # traversal symmetrizes with a narrow union-flip (canonical=True).
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
    return bfs_distances(edges, 1, max_hops=3, canonical=True)


@register(
    "q_ohlc_bars",
    """
    WITH ranked AS (
      SELECT date_trunc('hour', ts) AS h, event_type, value, ts, event_id,
             row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
                                ORDER BY ts DESC, event_id DESC) AS rn_z
      FROM events
    )
    SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS bar_start, event_type,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn_z = 1 THEN value END) AS close,
           CAST(count(*) AS BIGINT) AS n_ticks
    FROM ranked GROUP BY h, event_type
    """,
)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series downsampling to OHLC bars (open/high/low/close per
    hour per event type) — the canonical resample for tick/metric
    streams. One window pass (forward + reverse row_number share the
    same hash exchange on the bar key) + one hash aggregate; no
    self-join back to the extremes, ties broken by (ts, event_id) so
    the bars are deterministic. At scale the exchange is on
    (hour, type) — naturally bounded key cardinality; a hot bar is
    splittable by AQE since the window functions only need
    partition-local order."""
    events = read_table(spark, sf_dir, "events")
    h = F.date_trunc("hour", F.col("ts"))
    wa = Window.partitionBy(h, F.col("event_type")).orderBy(
        F.col("ts"), F.col("event_id")
    )
    wz = Window.partitionBy(h, F.col("event_type")).orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = events.select(
        h.alias("h"),
        "event_type",
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wz).alias("rn_z"),
    )
    return ranked.groupBy("h", "event_type").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_z") == 1, F.col("value"))).alias("close"),
        F.count("*").cast("long").alias("n_ticks"),
    ).select(
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("bar_start"),
        "event_type",
        "open",
        "high",
        "low",
        "close",
        "n_ticks",
    )


@register(
    "q_label_propagation",
    """
    WITH e AS (
      SELECT DISTINCT l_partkey AS item, l_suppkey AS node FROM lineitem
    ),
    kept AS (
      SELECT e.item, e.node FROM e
      JOIN (SELECT item FROM e GROUP BY item HAVING count(*) <= 30) h
        USING (item)
    ),
    dn AS (SELECT node, count(*) AS d FROM kept GROUP BY node),
    s AS (
      SELECT node_a, node_b FROM (
        SELECT a.node AS node_a, b.node AS node_b, count(*) AS c
        FROM kept a JOIN kept b ON a.item = b.item AND a.node < b.node
        GROUP BY 1, 2
      ) cm
      JOIN dn da ON da.node = cm.node_a
      JOIN dn db ON db.node = cm.node_b
      WHERE cm.c / (da.d + db.d - cm.c) >= 0.155
    ),
    sym AS (
      SELECT node_a AS a, node_b AS b FROM s
      UNION
      SELECT node_b AS a, node_a AS b FROM s
    ),
    nodes AS (SELECT DISTINCT a AS node FROM sym),
    l0 AS (SELECT node, node AS label FROM nodes),
    r1 AS (
      SELECT n AS node, label FROM (
        SELECT sym.a AS n, l0.label, count(*) AS c,
               row_number() OVER (PARTITION BY sym.a
                                  ORDER BY count(*) DESC, l0.label) AS rn
        FROM sym JOIN l0 ON l0.node = sym.b
        GROUP BY sym.a, l0.label
      ) t WHERE rn = 1
    ),
    l1 AS (
      SELECT nodes.node, coalesce(r1.label, nodes.node) AS label
      FROM nodes LEFT JOIN r1 USING (node)
    ),
    r2 AS (
      SELECT n AS node, label FROM (
        SELECT sym.a AS n, l1.label, count(*) AS c,
               row_number() OVER (PARTITION BY sym.a
                                  ORDER BY count(*) DESC, l1.label) AS rn
        FROM sym JOIN l1 ON l1.node = sym.b
        GROUP BY sym.a, l1.label
      ) t WHERE rn = 1
    ),
    l2 AS (
      SELECT nodes.node, coalesce(r2.label, nodes.node) AS label
      FROM nodes LEFT JOIN r2 USING (node)
    )
    SELECT node, label AS community FROM l2
    """,
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection: 2 synchronous label-propagation rounds
    over the supplier similarity graph (edges = supplier pairs whose
    part-neighborhood Jaccard >= 0.155, i.e. the top decile of
    node_jaccard scores). Deterministic most-frequent-neighbor-label
    update with min-label tie-break; the oracle unrolls both rounds in
    SQL. Composes two round-6 operators (node_jaccard ->
    label_propagation); see graph.py for the per-round shuffle
    structure."""
    from breweries_data_pipeline_spark.operators.graph import (
        label_propagation,
        node_jaccard,
    )

    li = read_table(spark, sf_dir, "lineitem")
    sims = node_jaccard(
        li.select("l_partkey", "l_suppkey"), "l_partkey", "l_suppkey", hub_cap=30
    )
    edges = sims.filter(F.col("jaccard") >= 0.155).select("node_a", "node_b")
    return label_propagation(
        edges, src_col="node_a", dst_col="node_b", n_iter=2
    )


def _sql_minhash_cols(n: int = 16) -> str:
    """n min-hash lanes from n/4 md5 digests: each 128-bit digest
    yields FOUR independent 32-bit lanes (hex offsets 1/9/17/25) —
    4x fewer digest computations than one md5 per lane, the dominant
    cost of signature building at corpus scale."""
    return ",\n             ".join(
        f"min(('0x' || substr(md5(s || ':mh{r // 4}'), {(r % 4) * 8 + 1}, 8))"
        f"::BIGINT) AS h{r}"
        for r in range(n)
    )


def _sql_minhash_bands(n_bands: int = 4, rows: int = 4) -> str:
    parts = []
    for b in range(n_bands):
        cols = ", ".join(
            f"h{b * rows + i} AS v{i}" for i in range(rows)
        )
        parts.append(f"SELECT doc_id, {b} AS band, {cols} FROM sig")
    return "\n      UNION ALL\n      ".join(parts)


@register(
    "q_minhash_lsh",
    f"""
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct({_SQL_SHINGLES})) AS s
      FROM documents
    ),
    sig AS (
      SELECT doc_id,
             {_sql_minhash_cols(16)}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      {_sql_minhash_bands(4, 4)}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.v0 = b.v0 AND a.v1 = b.v1
       AND a.v2 = b.v2 AND a.v3 = b.v3 AND a.doc_id < b.doc_id
    ),
    shs AS (
      SELECT doc_id, list_distinct({_SQL_SHINGLES}) AS s FROM documents
    )
    SELECT id_a, id_b, jaccard FROM (
      SELECT c.id_a, c.id_b,
             CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(sa.s, sb.s))) AS DOUBLE)
               AS jaccard
      FROM cand c
      JOIN shs sa ON sa.doc_id = c.id_a
      JOIN shs sb ON sb.doc_id = c.id_b
    ) t WHERE jaccard >= 0.5
    """,
)
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 MinHash-LSH near-dup pairs with a FULL cross-engine oracle:
    the 16 min-hash lanes derive from the md5 idiom (first 8 hex chars
    as a long) instead of xxhash64, so — unlike q_neardup_pairs_minhash
    (rows-only by hash family) — signatures, banding (4 bands x 4
    rows), candidate generation AND exact-Jaccard verification (>= 0.5)
    are all reproduced by DuckDB. Downstream of the md5 signature
    (operators/dedup.py:md5_minhash_signatures) it is the production
    pipeline's own steps: lsh_candidate_pairs bands on the xxhash64
    band key and self-joins per bucket, jaccard_pairs verifies. The
    oracle's equality on the four lane values picks the same buckets
    up to 64-bit hash collisions."""
    docs = read_table(spark, sf_dir, "documents")
    # persist the distinct-shingle arrays (regex extraction feeds the
    # signature explode AND both verify sides) and the signature table
    # (both sides of the band self-join) — the same persist discipline
    # as the xxhash64 production path; without it Catalyst recomputes
    # the shingle regex 3x and the 16-min aggregate 2x
    shs = _ensure_parallelism(docs.select("doc_id", "text"), key="doc_id").select(
        "doc_id", F.array_distinct(shingles("text", 3)).alias("s")
    ).transform(_persist)
    sig = _persist(
        md5_minhash_signatures(shs.select("doc_id", F.explode("s").alias("s")))
    )
    cand = lsh_candidate_pairs(sig, "doc_id", 4, 4)
    return jaccard_pairs(cand, shs, "doc_id", "s").filter(F.col("jaccard") >= 0.5)


@register(
    "q_dedup_lsh_buckets",
    f"""
    WITH RECURSIVE
    sh AS (
      SELECT doc_id, unnest(list_distinct({_SQL_SHINGLES})) AS s
      FROM documents
    ),
    sig AS (
      SELECT doc_id,
             {_sql_minhash_cols(16)}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      {_sql_minhash_bands(4, 4)}
    ),
    rep AS (
      SELECT band, v0, v1, v2, v3, min(doc_id) AS rep
      FROM bands GROUP BY band, v0, v1, v2, v3 HAVING count(*) > 1
    ),
    e AS (
      SELECT DISTINCT r.rep AS u, b.doc_id AS v
      FROM bands b JOIN rep r
        ON b.band = r.band AND b.v0 = r.v0 AND b.v1 = r.v1
       AND b.v2 = r.v2 AND b.v3 = r.v3
      WHERE b.doc_id <> r.rep
    ),
    sym AS (
      SELECT u, v FROM e
      UNION ALL
      SELECT v AS u, u AS v FROM e
    ),
    reach(u, v) AS (
      SELECT u, v FROM sym
      UNION
      SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
    ),
    minlab AS (
      SELECT u AS doc_id, least(u, min(v)) AS cluster_id
      FROM reach GROUP BY u
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d LEFT JOIN minlab m USING (doc_id)
    WHERE m.cluster_id IS NULL OR m.cluster_id = d.doc_id
    """,
)
def q_dedup_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 VERIFICATION-FREE LSH dedup with a full oracle — the
    bucket-star mode of near_dedup_lsh_buckets realized on the md5
    lane family so DuckDB reproduces it: same bucket in ANY band
    implies same cluster; keep each connected component's minimum
    doc_id. The banding (4 bands x 4 rows here) IS the duplicate
    decision — no pair-level Jaccard verification.

    The scale point this query pins: candidate volume is LINEAR. Per
    bucket the plan emits one STAR edge (bucket-min -> member) per
    non-minimum member — a groupBy min + join back, NO self-join —
    and a star has the same connected components as the bucket's
    clique, so the output is provably identical to the all-pairs form
    while a k-member bucket costs k-1 edges instead of k(k-1)/2 pairs.
    The two-decade curve (SCALE.md round-7e) shows the pairs-emitting
    twin (q_minhash_lsh) tracking quadratic clique growth while this
    form stays linear in docs.

    Composition: md5_minhash_signatures, then the production steps
    lsh_bucket_star_edges and keep_component_min (operators/dedup.py)
    — q_neardup_buckets_minhash minus the Arrow signature kernel.
    Oracle: banding on lane-value equality + per-bucket min + star
    edges in SQL, then the same recursive-CTE reachability closure
    q_dedup_neardup uses, proving the CC against an independent
    fixpoint."""
    docs = read_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", F.explode(F.array_distinct(shingles("text", 3))).alias("s")
    )
    # persisted (tracked): edges feed the CC's size probe and, above
    # the driver threshold, its endpoint distinct and label rounds
    edges = _persist(
        lsh_bucket_star_edges(md5_minhash_signatures(sh), "doc_id", 4, 4)
    )
    return keep_component_min(docs, edges, "doc_id").select(
        "doc_id", "lang", "source"
    )


@register(
    "q_sentence_dedup",
    r"""
    WITH s AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(text,
                      '[.!?][ \t\n\x0b\f\r]+')) AS sent,
             generate_subscripts(regexp_split_to_array(text,
                      '[.!?][ \t\n\x0b\f\r]+'), 1) AS pos
      FROM documents
    ),
    f AS (
      SELECT doc_id, sent, min(pos) AS first_pos, count(*) AS n
      FROM s GROUP BY doc_id, sent
    )
    SELECT doc_id,
           CAST(sum(n) AS BIGINT) AS n_sents,
           CAST(count(*) AS BIGINT) AS n_kept,
           string_agg(sent, '. ' ORDER BY first_pos) AS cleaned
    FROM f GROUP BY doc_id
    """,
)
def q_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTRA-document sentence-level dedup REWRITE — the CCNet /
    RefinedWeb-style boilerplate scrub that drops repeated sentences
    within each document, keeping first occurrences in order:
    (doc_id, n_sents, n_kept, cleaned text). Unlike the corpus-level
    analyses (q_repeated_ngrams finds repeated grams ACROSS docs,
    q_repetition scores the ratio), this is the transformation a
    pipeline actually applies per document before tokenization.

    Sentence boundaries are ``[.!?]`` followed by whitespace (the
    explicit Java-ASCII class, engine-identical in Java regex and
    RE2), so exclamations and questions end sentences too — r7 split
    only on ``'. '`` and boilerplate ending ``!``/``?`` survived the
    scrub. Terminal punctuation stays attached to the last sentence
    (no trailing whitespace, no boundary), and the rebuilt text joins
    with a normalized ``'. '`` — the standard scrub normalization,
    mirrored by the oracle's string_agg joiner.

    Plan: ZERO shuffle — ``split`` + ``array_distinct`` (Spark
    preserves first-occurrence order) + ``array_join`` is a pure
    codegen'd narrow map riding the scan's parallelism; at 100 TB
    this composes into the ingest pass for free. The oracle can't use
    DuckDB's ``list_distinct`` (not order-preserving), so it replays
    the semantics as explode -> min(pos) per (doc, sentence) ->
    string_agg ordered by first position — an independent spelling
    of 'keep first occurrences in order', which is exactly what makes
    the hash match meaningful."""
    docs = read_table(spark, sf_dir, "documents")
    sents = F.split("text", r"[.!?][ \t\n\x0b\f\r]+")
    kept = F.array_distinct(sents)
    return docs.select(
        "doc_id",
        F.size(sents).cast("long").alias("n_sents"),
        F.size(kept).cast("long").alias("n_kept"),
        F.array_join(kept, ". ").alias("cleaned"),
    )


@register(
    "q_bucket_audit",
    f"""
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct({_SQL_SHINGLES})) AS s
      FROM documents
    ),
    sig AS (
      SELECT doc_id,
             {_sql_minhash_cols(16)}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      {_sql_minhash_bands(4, 4)}
    ),
    rep AS (
      SELECT band, v0, v1, v2, v3, min(doc_id) AS rep
      FROM bands GROUP BY band, v0, v1, v2, v3 HAVING count(*) > 1
    ),
    e AS (
      SELECT DISTINCT b.band, r.rep AS id_a, b.doc_id AS id_b
      FROM bands b JOIN rep r
        ON b.band = r.band AND b.v0 = r.v0 AND b.v1 = r.v1
       AND b.v2 = r.v2 AND b.v3 = r.v3
      WHERE b.doc_id <> r.rep
    ),
    shs AS (
      SELECT doc_id, list_distinct({_SQL_SHINGLES}) AS s FROM documents
    ),
    v AS (
      SELECT e.band,
             CASE WHEN CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT)
                       * 1000000
                    >= 500000 * CAST(len(list_distinct(
                         list_concat(sa.s, sb.s))) AS BIGINT)
                  THEN 1 ELSE 0 END AS ok
      FROM e
      JOIN shs sa ON sa.doc_id = e.id_a
      JOIN shs sb ON sb.doc_id = e.id_b
    )
    SELECT band, CAST(count(*) AS BIGINT) AS n_edges,
           CAST(sum(ok) AS BIGINT) AS n_true,
           CAST((sum(ok) * 1000000) // count(*) AS BIGINT)
             AS precision_ppm
    FROM v GROUP BY band ORDER BY band
    """,
)
def q_bucket_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band PRECISION audit for the verification-free bucket-star
    mode — and it is LINEAR by the same star argument that makes the
    dedup linear: instead of verifying C(n,2) pairs per bucket, it
    verifies exactly the n-1 rep->member star edges the dedup
    actually consumes, one exact-Jaccard check per edge (J >= 0.5).
    The per-band true-edge fraction is the measured operating point of
    the banding S-curve on this corpus — the number a pipeline owner
    watches when tuning bands x rows. Complements q_lsh_recall_audit
    (which measures the verified path's RECALL and is deliberately
    quadratic, being exhaustive). Composition: md5_minhash_signatures
    -> lsh_band_keys -> lsh_bucket_stars -> jaccard_pairs. Full oracle:
    md5-lane signatures, the same star construction, and an integer
    comparison 2|A∩B| >= |A∪B| that the double ratio's >= 0.5 matches
    exactly (0.5 is representable and the quotient is correctly
    rounded)."""
    docs = read_table(spark, sf_dir, "documents")
    shs = docs.select(
        "doc_id", F.array_distinct(shingles("text", 3)).alias("s")
    ).transform(_persist)
    sig = md5_minhash_signatures(shs.select("doc_id", F.explode("s").alias("s")))
    # persisted: the band keys feed the per-bucket min AND the join-back
    keys = _persist(lsh_band_keys(sig, 4, 4))
    v = jaccard_pairs(lsh_bucket_stars(keys, "doc_id"), shs, "doc_id", "s").select(
        "band",
        F.when(F.col("jaccard") >= 0.5, F.lit(1)).otherwise(F.lit(0)).alias("ok"),
    )
    return (
        v.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            F.sum("ok").cast("long").alias("n_true"),
            F.expr("(sum(ok) * 1000000) div count(*)")
            .cast("long")
            .alias("precision_ppm"),
        )
        .orderBy("band")
    )


@register("q_neardup_buckets_minhash", None)
def q_neardup_buckets_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 verification-free bucket-star dedup, PRODUCTION path (the
    Arrow MinHash kernel, 64 hashes x 16 bands — not DuckDB-
    reproducible, hence rows-only; q_dedup_lsh_buckets is the
    oracle-complete twin: the same band-key, star-edge and keep-min
    steps over md5-lane signatures). This is the registry entry the
    sf10 scale curve measures: linear edge volume through the
    pathological 100-near-sibling cliques where the pair-emitting
    form goes quadratic."""
    docs = read_table(spark, sf_dir, "documents")
    return near_dedup_lsh_buckets(docs).select("doc_id", "lang", "source")


@register(
    "q_hard_negatives",
    f"""
    WITH p AS (
        SELECT vec_id AS probe_id, embedding AS pe, label AS plabel
        FROM embeddings WHERE vec_id < 10
    ),
    s AS (
        SELECT p.probe_id, c.vec_id,
               {_SQL_DOT.format(a="c.embedding", b="pe")}
               / (sqrt({_SQL_DOT.format(a="c.embedding", b="c.embedding")})
                  * sqrt({_SQL_DOT.format(a="pe", b="pe")})) AS cosine
        FROM embeddings c
        JOIN p ON c.vec_id <> p.probe_id AND c.label <> p.plabel
    )
    SELECT probe_id, vec_id, cosine, CAST(rn AS BIGINT) AS rank
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY probe_id ORDER BY cosine DESC, vec_id
        ) AS rn FROM s
    ) t WHERE rn <= 3
    """,
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X8 hard-negative mining for contrastive/embedding training: for
    each probe, the top-3 most-similar vectors carrying a DIFFERENT
    label — the highest-value negatives for a triplet/InfoNCE batch.
    Same broadcast-probes one-corpus-scan plan as q_similarity_topk
    with the label inequality fused into the join condition (pushed
    ahead of the dot product, so mismatched pairs never reach the
    kernel); exact-fold cosine keeps the oracle bit-exact."""
    from breweries_data_pipeline_spark.operators.similarity import (
        refine_sides,
        refine_topk,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    c, p = refine_sides(
        emb,
        emb.filter(F.col("vec_id") < 10),
        corpus_cols=(F.col("label"),),
        probe_cols=(F.col("label").alias("__plabel"),),
    )
    cand = c.join(
        F.broadcast(p),
        (F.col("vec_id") != F.col("probe_id"))
        & (F.col("label") != F.col("__plabel")),
    )
    return refine_topk(cand, 3)


@register(
    "q_cumulative_reach",
    """
    WITH firsts AS (
      SELECT user_id, min(date_trunc('day', ts)) AS first_day
      FROM events GROUP BY user_id
    ),
    daily AS (
      SELECT first_day AS day, count(*) AS new_users
      FROM firsts GROUP BY first_day
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(new_users AS BIGINT) AS new_users,
           CAST(sum(new_users) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cumulative_users
    FROM daily
    """,
)
def q_cumulative_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative reach (running count of DISTINCT users ever seen) —
    the growth KPI that naively needs a running COUNT(DISTINCT) over
    an ever-expanding frame. Rewritten exactly: distinct-user first
    dates (one hash aggregate on user_id), daily new-user counts (one
    tiny aggregate), then a running sum over DAYS — the unbounded
    window orders ~hundreds of day rows, not events, so the usually
    non-scalable global window is over bounded cardinality. This is
    the standard scale rewrite: convert running-distinct into
    first-occurrence flags + running sum."""
    events = read_table(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.min(F.date_trunc("day", F.col("ts"))).alias("first_day")
    )
    daily = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("new_users").cast("long").alias("new_users"),
        F.sum("new_users").over(w).cast("long").alias("cumulative_users"),
    )


@register(
    "q_skew_report",
    """
    WITH per_key AS (
      SELECT o_custkey AS key, count(*) AS cnt FROM orders GROUP BY o_custkey
    ),
    stats AS (
      SELECT count(*) AS n_keys, sum(cnt) AS n_rows, max(cnt) AS max_cnt
      FROM per_key
    )
    SELECT p.key, CAST(p.cnt AS BIGINT) AS cnt,
           CAST(p.cnt * s.n_keys * 1000000 // s.n_rows AS BIGINT)
             AS skew_ppm_of_uniform,
           CAST(rn AS BIGINT) AS rank
    FROM (
      SELECT key, cnt,
             row_number() OVER (ORDER BY cnt DESC, key) AS rn
      FROM per_key
    ) p CROSS JOIN stats s
    WHERE rn <= 20
    """,
)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-skew diagnostics: top-20 hottest join/agg keys with
    each key's load expressed as ppm of the uniform share (1e6 =
    perfectly uniform; 10e6 = this key carries 10 keys' worth). This
    is the operational pre-check before choosing salted vs plain
    dedup/join (the engine ships both) — at 100 TB it is one
    map-side-combined aggregate + a 20-row TakeOrderedAndProject,
    with the scalar totals attached via a one-row broadcast
    crossJoin."""
    orders = read_table(spark, sf_dir, "orders")
    per_key = orders.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count("*").alias("cnt")
    )
    stats = per_key.agg(
        F.count("*").alias("__n_keys"), F.sum("cnt").alias("__n_rows")
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("key"))
    top = (
        topk_global(per_key, [F.col("cnt").desc(), F.col("key")], 20)
        .withColumn("rank", F.row_number().over(w).cast("long"))
    )
    return top.crossJoin(F.broadcast(stats)).select(
        "key",
        F.col("cnt").cast("long").alias("cnt"),
        F.expr(
            "cast((cast(cnt as decimal(38,0)) * __n_keys * 1000000)"
            " div cast(__n_rows as decimal(38,0)) as long)"
        ).alias("skew_ppm_of_uniform"),
        "rank",
    )


@register(
    "q_corpus_funnel",
    f"""
    WITH raw AS (SELECT doc_id, text FROM documents),
    quality AS (
      SELECT doc_id, text FROM raw
      WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 20
    ),
    exact AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               row_number() OVER (
                 PARTITION BY md5(regexp_replace(trim(lower(text)),
                                                 '\\s+', ' ', 'g'))
                 ORDER BY doc_id) AS rn
        FROM quality
      ) t WHERE rn = 1
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct({_SQL_SHINGLES})) AS s FROM exact
    ),
    sig AS (
      SELECT doc_id,
             {_sql_minhash_cols(16)}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      {_sql_minhash_bands(4, 4)}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.v0 = b.v0 AND a.v1 = b.v1
       AND a.v2 = b.v2 AND a.v3 = b.v3 AND a.doc_id < b.doc_id
    ),
    shs AS (
      SELECT doc_id, list_distinct({_SQL_SHINGLES}) AS s FROM exact
    ),
    neardup_drops AS (
      SELECT DISTINCT id_b FROM (
        SELECT c.id_a, c.id_b,
               CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
               / CAST(len(list_distinct(list_concat(sa.s, sb.s))) AS DOUBLE)
                 AS j
        FROM cand c
        JOIN shs sa ON sa.doc_id = c.id_a
        JOIN shs sb ON sb.doc_id = c.id_b
      ) v WHERE j >= 0.5
    ),
    neardup AS (
      SELECT doc_id FROM exact
      WHERE doc_id NOT IN (SELECT id_b FROM neardup_drops)
    ),
    train AS (
      SELECT doc_id FROM neardup
      WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8))
            ::BIGINT % 100 < 90
    )
    SELECT stage, rows, stage_order FROM (
      SELECT 'raw' AS stage, CAST(count(*) AS BIGINT) AS rows,
             1 AS stage_order FROM raw
      UNION ALL
      SELECT 'quality', CAST(count(*) AS BIGINT), 2 FROM quality
      UNION ALL
      SELECT 'exact_dedup', CAST(count(*) AS BIGINT), 3 FROM exact
      UNION ALL
      SELECT 'near_dedup', CAST(count(*) AS BIGINT), 4 FROM neardup
      UNION ALL
      SELECT 'train_split', CAST(count(*) AS BIGINT), 5 FROM train
    ) t
    """,
)
def q_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus-build pipeline as ONE DAG, reported as a
    funnel (stage -> surviving rows): quality gate (>= 20 tokens) ->
    exact dedup (md5 fingerprint, min-id survivor) -> MinHash-LSH
    near-dup removal (md5-lane signatures, 4x4 banding, exact-Jaccard
    verify at 0.5, later-id dropped) -> deterministic 90% train
    split. Every stage reuses an already-oracled primitive and the
    whole composition is replayed by one DuckDB query — demonstrating
    that the engine's pieces compose into the actual production
    pipeline, with counts computed as five tiny aggregates over the
    shared lineage (Catalyst reuses the scan; no stage re-reads the
    corpus from disk)."""
    raw = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    quality = raw.filter(F.size(tokens("text")) >= 20)
    # persisted: the exact-dedup survivors feed shingling,
    # verification, the near-dup anti-join AND the stage counts
    exact = exact_dedup(quality).drop("fingerprint").transform(_persist)

    shs = _ensure_parallelism(exact, key="doc_id").select(
        "doc_id", F.array_distinct(shingles("text", 3)).alias("s")
    ).transform(_persist)
    sig = _persist(
        md5_minhash_signatures(shs.select("doc_id", F.explode("s").alias("s")))
    )
    drops = (
        jaccard_pairs(lsh_candidate_pairs(sig, "doc_id", 4, 4), shs, "doc_id", "s")
        .filter(F.col("jaccard") >= 0.5)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    neardup = exact.join(drops, "doc_id", "left_anti").select("doc_id")
    from breweries_data_pipeline_spark.operators.corpus import hash_bucket

    return _funnel_stage_counts(raw, quality, exact, neardup, hash_bucket)


def _funnel_stage_counts(raw, quality, exact, neardup, hash_bucket):
    """The funnel's five (stage, rows, stage_order) rows from THREE
    jobs instead of five (r13, guide §1.2 don't-recompute): raw +
    quality counts fuse into one conditional aggregate over a single
    text scan (the separate quality branch re-read and re-tokenized
    the whole corpus), near_dedup + train_split fuse the same way over
    one pass of the anti-join output. Values, schema and row order are
    identical to the five-union spelling the oracle replays."""
    q_cond = F.size(tokens("text")) >= 20

    def _two(df, agg_a, name_a, ord_a, agg_b, name_b, ord_b):
        pair = df.agg(agg_a.alias("__a"), agg_b.alias("__b"))
        return pair.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit(name_a).alias("stage"),
                        F.col("__a").alias("rows"),
                        F.lit(ord_a).alias("stage_order"),
                    ),
                    F.struct(
                        F.lit(name_b).alias("stage"),
                        F.col("__b").alias("rows"),
                        F.lit(ord_b).alias("stage_order"),
                    ),
                )
            ).alias("__r")
        ).select("__r.*")

    head = _two(
        raw,
        F.count(F.lit(1)).cast("long"), "raw", 1,
        # coalesce: sum over ZERO rows is null where count(*) is 0 —
        # the fused form must match the five-union spelling on an
        # empty input too
        F.coalesce(
            F.sum(F.when(q_cond, 1).otherwise(0)), F.lit(0)
        ).cast("long"), "quality", 2,
    )
    mid = exact.agg(
        F.lit("exact_dedup").alias("stage"),
        F.count("*").cast("long").alias("rows"),
        F.lit(3).alias("stage_order"),
    )
    tail = _two(
        neardup,
        F.count(F.lit(1)).cast("long"), "near_dedup", 4,
        F.coalesce(
            F.sum(
                F.when(hash_bucket(F.col("doc_id"), "split", 100) < 90, 1)
                .otherwise(0)
            ),
            F.lit(0),
        ).cast("long"), "train_split", 5,
    )
    return head.unionByName(mid).unionByName(tail)


@register(
    "q_corpus_funnel_buckets",
    f"""
    WITH RECURSIVE
    raw AS (SELECT doc_id, text FROM documents),
    quality AS (
      SELECT doc_id, text FROM raw
      WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 20
    ),
    exact AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               row_number() OVER (
                 PARTITION BY md5(regexp_replace(trim(lower(text)),
                                                 '\\s+', ' ', 'g'))
                 ORDER BY doc_id) AS rn
        FROM quality
      ) t WHERE rn = 1
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct({_SQL_SHINGLES})) AS s FROM exact
    ),
    sig AS (
      SELECT doc_id,
             {_sql_minhash_cols(16)}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      {_sql_minhash_bands(4, 4)}
    ),
    rep AS (
      SELECT band, v0, v1, v2, v3, min(doc_id) AS rep
      FROM bands GROUP BY band, v0, v1, v2, v3 HAVING count(*) > 1
    ),
    e AS (
      SELECT DISTINCT r.rep AS u, b.doc_id AS v
      FROM bands b JOIN rep r
        ON b.band = r.band AND b.v0 = r.v0 AND b.v1 = r.v1
       AND b.v2 = r.v2 AND b.v3 = r.v3
      WHERE b.doc_id <> r.rep
    ),
    sym AS (
      SELECT u, v FROM e
      UNION ALL
      SELECT v AS u, u AS v FROM e
    ),
    reach(u, v) AS (
      SELECT u, v FROM sym
      UNION
      SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
    ),
    minlab AS (
      SELECT u AS doc_id, least(u, min(v)) AS cluster_id
      FROM reach GROUP BY u
    ),
    neardup AS (
      SELECT x.doc_id FROM exact x LEFT JOIN minlab m USING (doc_id)
      WHERE m.cluster_id IS NULL OR m.cluster_id = x.doc_id
    ),
    train AS (
      SELECT doc_id FROM neardup
      WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8))
            ::BIGINT % 100 < 90
    )
    SELECT stage, rows, stage_order FROM (
      SELECT 'raw' AS stage, CAST(count(*) AS BIGINT) AS rows,
             1 AS stage_order FROM raw
      UNION ALL
      SELECT 'quality', CAST(count(*) AS BIGINT), 2 FROM quality
      UNION ALL
      SELECT 'exact_dedup', CAST(count(*) AS BIGINT), 3 FROM exact
      UNION ALL
      SELECT 'near_dedup', CAST(count(*) AS BIGINT), 4 FROM neardup
      UNION ALL
      SELECT 'train_split', CAST(count(*) AS BIGINT), 5 FROM train
    ) t
    """,
)
def q_corpus_funnel_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-build funnel with the VERIFICATION-FREE bucket-star
    near-dup stage — the linear end-to-end composition: quality gate
    -> exact dedup -> bucket-star LSH cluster collapse (same bucket
    in any band => same cluster, min-id survivor; star edges, no
    self-join, no pair materialization — see q_dedup_lsh_buckets) ->
    deterministic 90% train split. q_corpus_funnel keeps the
    pair-verified stage (higher precision, output-bound in clique
    size); this twin is the 100 TB operating point: every stage is
    linear in docs, measured through two decades in SCALE.md
    round-7e. Full oracle including the recursive-CTE closure."""
    from breweries_data_pipeline_spark.operators.corpus import hash_bucket

    raw = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    quality = raw.filter(F.size(tokens("text")) >= 20)
    # persisted as in q_corpus_funnel
    exact = exact_dedup(quality).drop("fingerprint").transform(_persist)
    sh = _ensure_parallelism(exact, key="doc_id").select(
        "doc_id", F.explode(F.array_distinct(shingles("text", 3))).alias("s")
    )
    # same tracked-persist discipline as q_dedup_lsh_buckets: the
    # edges feed the CC's size probe and, above the driver threshold,
    # its endpoint distinct and label rounds
    edges = _persist(
        lsh_bucket_star_edges(md5_minhash_signatures(sh), "doc_id", 4, 4)
    )
    neardup = keep_component_min(exact, edges, "doc_id").select("doc_id")
    return _funnel_stage_counts(raw, quality, exact, neardup, hash_bucket)


@register(
    "q_streaming_cms",
    """
    WITH rs AS (SELECT unnest([0, 1, 2, 3]) AS r),
    grid AS (
      SELECT rs.r,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':cms' || rs.r),
                             1, 8))::BIGINT % 128 AS bucket,
             count(*) AS cnt
      FROM events CROSS JOIN rs
      GROUP BY 1, 2
    ),
    top AS (
      SELECT user_id, count(*) AS true_cnt FROM events GROUP BY user_id
      ORDER BY true_cnt DESC, user_id LIMIT 10
    ),
    est AS (
      SELECT t.user_id, min(g.cnt) AS est_cnt
      FROM top t CROSS JOIN rs
      JOIN grid g
        ON g.r = rs.r
       AND g.bucket = ('0x' || substr(md5(CAST(t.user_id AS VARCHAR)
                                          || ':cms' || rs.r), 1, 8))::BIGINT
                      % 128
      GROUP BY t.user_id
    )
    SELECT t.user_id, CAST(t.true_cnt AS BIGINT) AS true_cnt,
           CAST(e.est_cnt AS BIGINT) AS est_cnt
    FROM top t JOIN est e ON e.user_id = t.user_id
    """,
)
def q_streaming_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy-hitter tracking: the count-min grid built AS A
    STREAMING AGGREGATE over the events file-stream (micro-batch
    partial counts merge by sum in the stateful aggregation — the CMS
    merge property means the drained grid is EXACTLY the batch grid),
    then point-estimates for the true top-10 users attached in batch.
    Full oracle: deterministic md5 lanes + exact merge = the whole
    streaming pipeline hash-matches the batch SQL replay. At scale
    the grid state is <= depth*width rows — O(1) streaming state, the
    reason sketches (not exact per-key counts) are the streaming
    frequency answer."""
    from breweries_data_pipeline_spark.operators.sketch import (
        cms_build,
        cms_estimate,
    )
    from breweries_data_pipeline_spark.streaming import (
        read_events_stream,
        run_available_now,
    )

    sdf = read_events_stream(spark, sf_dir)
    grid_stream = cms_build(sdf.select("user_id"), "user_id")
    from breweries_data_pipeline_spark.streaming import state_partitions

    with state_partitions(spark, 8):
        grid = run_available_now(grid_stream, "q_streaming_cms_grid")

    events = read_table(spark, sf_dir, "events")
    top = topk_global(
        events.groupBy("user_id").agg(F.count("*").alias("true_cnt")),
        [F.col("true_cnt").desc(), F.col("user_id")],
        10,
    )
    est = cms_estimate(grid, top.select("user_id"), "user_id")
    return top.join(est, "user_id").select(
        "user_id",
        F.col("true_cnt").cast("long").alias("true_cnt"),
        F.col("est_cnt").cast("long").alias("est_cnt"),
    )


@register(
    "q_pmi_collocations",
    r"""
    WITH toks AS (
      SELECT doc_id, w, idx FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '\s+')) AS w,
               generate_subscripts(regexp_split_to_array(trim(text), '\s+'), 1)
                 AS idx
        FROM documents
      )
    ),
    uni AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
    tot_u AS (SELECT sum(c) AS u FROM uni),
    big AS (
      SELECT a.w AS wa, b.w AS wb, count(*) AS cab
      FROM toks a JOIN toks b
        ON a.doc_id = b.doc_id AND b.idx = a.idx + 1
      GROUP BY 1, 2
    ),
    tot_b AS (SELECT sum(cab) AS bt FROM big),
    scored AS (
      SELECT wa, wb, CAST(cab AS BIGINT) AS pair_cnt,
             CAST((cab * u.u * u.u * 1000000) // (bt.bt * ua.c * ub.c)
                  AS BIGINT) AS lift_ppm
      FROM big
      JOIN uni ua ON ua.w = wa
      JOIN uni ub ON ub.w = wb
      CROSS JOIN tot_u u CROSS JOIN tot_b bt
      WHERE cab >= 5
    )
    SELECT wa, wb, pair_cnt, lift_ppm, CAST(rn AS BIGINT) AS rank
    FROM (
      SELECT *, row_number() OVER (ORDER BY lift_ppm DESC, wa, wb) AS rn
      FROM scored
    ) t WHERE rn <= 30
    """,
)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-30 adjacent-token bigrams by PMI lift
    (p(ab) / (p(a)p(b)), exact-integer ppm — the ln is monotone, so
    ranking by the ratio IS ranking by PMI without cross-engine libm
    risk). Plan: posexplode tokens once; bigrams via a self-join on
    (doc, position+1) — at scale this is expressed as a shifted-array
    zip (no join) but the join form shares the oracle's shape;
    unigram/bigram model tables join broadcast-style; min-support
    cab >= 5 prunes the Zipf tail before ranking. Magnitudes: the
    ppm numerator is c_ab * U^2 * 1e6 — fits a long through ~1e5
    tokens; larger corpora lift to decimal(38,0)/HUGEINT, same
    arithmetic."""
    docs = read_table(spark, sf_dir, "documents")
    toks = _ensure_parallelism(docs.select("doc_id", "text"), key="doc_id").select(
        "doc_id", F.posexplode(tokens("text")).alias("idx0", "w")
    ).select("doc_id", F.col("w"), (F.col("idx0") + 1).alias("idx"))
    uni = toks.groupBy("w").agg(F.count("*").alias("c"))
    tot_u = uni.agg(F.sum("c").alias("u"))
    a = toks.select("doc_id", F.col("w").alias("wa"), "idx")
    b = toks.select(
        "doc_id", F.col("w").alias("wb"), (F.col("idx") - 1).alias("idx")
    )
    big = (
        a.join(b, ["doc_id", "idx"])
        .groupBy("wa", "wb")
        .agg(F.count("*").alias("cab"))
        .filter(F.col("cab") >= 5)
    )
    # bt is the total over ALL bigrams (not just supported ones) —
    # computed from the unfiltered pair stream
    tot_b = a.join(b, ["doc_id", "idx"]).agg(F.count("*").alias("bt"))
    ua = uni.select(F.col("w").alias("wa"), F.col("c").alias("__ca"))
    ub = uni.select(F.col("w").alias("wb"), F.col("c").alias("__cb"))
    scored = (
        big.join(ua, "wa")
        .join(ub, "wb")
        .crossJoin(F.broadcast(tot_u))
        .crossJoin(F.broadcast(tot_b))
        .select(
            "wa",
            "wb",
            F.col("cab").cast("long").alias("pair_cnt"),
            F.expr(
                "cast((cast(cab as decimal(38,0)) * u * u * 1000000)"
                " div (cast(bt as decimal(38,0)) * __ca * __cb) as long)"
            ).alias("lift_ppm"),
        )
    )
    w = Window.orderBy(F.col("lift_ppm").desc(), F.col("wa"), F.col("wb"))
    return (
        topk_global(scored, [F.col("lift_ppm").desc(), F.col("wa"), F.col("wb")], 30)
        .withColumn("rank", F.row_number().over(w).cast("long"))
    )


@register(
    "q_referential_integrity",
    """
    SELECT rel, CAST(orphans AS BIGINT) AS orphans,
           CAST(child_rows AS BIGINT) AS child_rows FROM (
      SELECT 'lineitem->orders' AS rel,
             count(*) FILTER (WHERE o.o_orderkey IS NULL) AS orphans,
             count(*) AS child_rows
      FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      UNION ALL
      SELECT 'orders->customer',
             count(*) FILTER (WHERE c.c_custkey IS NULL), count(*)
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      UNION ALL
      SELECT 'customer->nation',
             count(*) FILTER (WHERE n.n_nationkey IS NULL), count(*)
      FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      UNION ALL
      SELECT 'supplier->nation',
             count(*) FILTER (WHERE n.n_nationkey IS NULL), count(*)
      FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
      UNION ALL
      SELECT 'lineitem->part',
             count(*) FILTER (WHERE p.p_partkey IS NULL), count(*)
      FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    ) t
    """,
)
def q_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table referential-integrity audit: orphan counts for the
    five FK relationships in the warehouse, each as count-if over a
    LEFT join — the load-time gate every multi-table pipeline runs.
    Plan shape: the parent side of each relationship is dimension-
    sized (or key-only) so every join broadcasts its parent keys;
    orphan counting is a filtered aggregate fused into the same pass
    (one job per relationship, no second scan). At 100 TB the
    fact-side scans dominate and are key-column-only (ReadSchema
    pruned to the FK)."""

    def check(child: DataFrame, ck: str, parent: DataFrame, pk: str, rel: str):
        c = child.select(F.col(ck).alias("__ck"))
        p = parent.select(F.col(pk).alias("__pk")).distinct()
        return (
            c.join(F.broadcast(p), c["__ck"] == p["__pk"], "left")
            .agg(
                F.lit(rel).alias("rel"),
                F.count_if(F.col("__pk").isNull()).cast("long").alias("orphans"),
                F.count("*").cast("long").alias("child_rows"),
            )
        )

    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    supp = read_table(spark, sf_dir, "supplier")
    part = read_table(spark, sf_dir, "part")
    out = check(li, "l_orderkey", orders, "o_orderkey", "lineitem->orders")
    for args in [
        (orders, "o_custkey", cust, "c_custkey", "orders->customer"),
        (cust, "c_nationkey", nation, "n_nationkey", "customer->nation"),
        (supp, "s_nationkey", nation, "n_nationkey", "supplier->nation"),
        (li, "l_partkey", part, "p_partkey", "lineitem->part"),
    ]:
        out = out.unionByName(check(*args))
    return out


def _sql_simhash_bitsums() -> str:
    cols = []
    for half, hx in (("h1", "lo"), ("h2", "hi")):
        for b in range(32):
            cols.append(
                f"sum(CASE WHEN ({half} >> {b}) & 1 = 1 THEN 1 ELSE -1 END)"
                f" AS s_{hx}_{b}"
            )
    return ",\n             ".join(cols)


def _sql_simhash_assemble(hx: str) -> str:
    return " + ".join(
        f"(CASE WHEN s_{hx}_{b} >= 0 THEN {1 << b} ELSE 0 END)"
        for b in range(32)
    )


@register(
    "q_simhash_md5",
    rf"""
    WITH toks AS (
      SELECT DISTINCT doc_id, w FROM (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
        FROM documents
      )
    ),
    hashed AS (
      SELECT doc_id,
             ('0x' || substr(md5(w || ':sim'), 1, 8))::BIGINT AS h1,
             ('0x' || substr(md5(w || ':sim'), 9, 8))::BIGINT AS h2
      FROM toks
    ),
    bitsums AS (
      SELECT doc_id,
             {_sql_simhash_bitsums()}
      FROM hashed GROUP BY doc_id
    ),
    sigs AS (
      SELECT doc_id,
             CAST({_sql_simhash_assemble("lo")} AS BIGINT) AS lo,
             CAST({_sql_simhash_assemble("hi")} AS BIGINT) AS hi
      FROM bitsums
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi))
                AS INTEGER) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3
    """,
)
def q_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 SimHash near-dup pairs with a FULL cross-engine oracle: the
    64 signature bits derive from md5 (two 32-bit halves per token),
    so signatures, pigeonhole blocking AND the Hamming <= 3 verify are
    all DuckDB-reproducible — the auditable twin of q_simhash_pairs
    (xxhash64, rows-only). Plan identical to the production path: one
    distinct-token explode, ONE 64-column signed-bit-sum aggregate
    (map-side combined), then the operator's pigeonhole blocking and
    exact bit_count verify (``simhash_pairs``). The oracle joins all
    pairs — fine at oracle SF, and it proves the blocking loses
    nothing."""
    docs = read_table(spark, sf_dir, "documents")
    toks = _ensure_parallelism(docs.select("doc_id", "text"), key="doc_id").select(
        "doc_id", F.explode(tokens("text")).alias("w")
    ).distinct()
    hashed = toks.select(
        "doc_id",
        F.conv(
            F.substring(F.md5(F.concat(F.col("w"), F.lit(":sim"))), 1, 8), 16, 10
        ).cast("long").alias("h1"),
        F.conv(
            F.substring(F.md5(F.concat(F.col("w"), F.lit(":sim"))), 9, 8), 16, 10
        ).cast("long").alias("h2"),
    )
    sums = []
    for half, hx in (("h1", "lo"), ("h2", "hi")):
        for b in range(32):
            bit = F.shiftright(F.col(half), b).bitwiseAND(F.lit(1))
            sums.append(
                F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"s_{hx}_{b}")
            )
    bitsums = hashed.groupBy("doc_id").agg(*sums)

    def assemble(hx: str) -> Column:
        out = F.lit(0).cast("long")
        for b in range(32):
            out = out + F.when(
                F.col(f"s_{hx}_{b}") >= 0, F.lit(1 << b).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        return out

    # the two 32-bit halves packed as lo | (hi << 32): the packed
    # value's four 16-bit blocks and XOR popcount are exactly those of
    # the (lo, hi) pair, so the operator's blocking and verify apply
    sigs = bitsums.select(
        "doc_id",
        assemble("lo").bitwiseOR(F.shiftleft(assemble("hi"), 32)).alias("simhash"),
    ).transform(_persist)
    return simhash_pairs(sigs, "doc_id", 3)


@register(
    "q_jackknife_ci",
    """
    WITH rows_b AS (
      SELECT ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ':jk'), 1, 8))
               ::BIGINT % 20 AS b,
             CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents
      FROM orders
    ),
    per_b AS (
      SELECT b, sum(cents) AS s, count(*) AS n FROM rows_b GROUP BY b
    ),
    tot AS (SELECT sum(s) AS st, sum(n) AS nt, count(*) AS nb FROM per_b),
    reps AS (
      SELECT b, ((st - s) * 1000000) // (nt - n) AS rep_micro
      FROM per_b CROSS JOIN tot
    ),
    rep_mean AS (
      SELECT (sum(rep_micro)
              - (sum(rep_micro) % CAST(count(*) AS BIGINT)))
             // CAST(count(*) AS BIGINT) AS rm
      FROM reps
    ),
    var_parts AS (
      SELECT sum((rep_micro - rm) * (rep_micro - rm)) AS ss,
             count(*) AS nb
      FROM reps CROSS JOIN rep_mean
    )
    SELECT CAST((SELECT ((st * 1000000) - ((st * 1000000) % nt)) // nt
                 FROM tot) AS BIGINT)
             AS mean_micro_cents,
           CAST(round(1.96 * sqrt((CAST(ss AS DOUBLE) * (nb - 1))
                                  / (nb * nb))) AS BIGINT)
             AS ci_halfwidth_micro_cents,
           CAST(nb AS BIGINT) AS n_replicates
    FROM var_parts
    """,
)
def q_jackknife_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-a-group jackknife confidence interval for mean order
    value — distributed error bars without resampling the data B
    times: rows hash into 20 deterministic buckets (one scan, one
    aggregate), each replicate mean is computed from the TOTALS minus
    its bucket (exact integer micro-cents via decimal floor-division),
    and the jackknife variance is (B-1)/B * sum of squared deviations
    (squares in decimal — micro-cent deviations overflow a long when
    squared). This is the production pattern for CI on any metric at
    100 TB: per-bucket partials are the only state, and the same 20
    partials serve every downstream metric. Only the final sqrt/1.96
    touch doubles — both exactly-rounded IEEE ops, so the oracle
    hash-matches."""
    from breweries_data_pipeline_spark.operators.corpus import hash_bucket

    o = read_table(spark, sf_dir, "orders")
    rows_b = o.select(
        hash_bucket(F.col("o_orderkey"), "jk", 20).alias("b"),
        F.round(F.col("o_totalprice") * 100.0).cast("long").alias("cents"),
    )
    per_b = rows_b.groupBy("b").agg(
        F.sum("cents").alias("s"), F.count("*").alias("n")
    )
    tot = per_b.agg(
        F.sum("s").alias("st"), F.sum("n").alias("nt"), F.count("*").alias("nb")
    )
    reps = per_b.crossJoin(F.broadcast(tot)).select(
        "b",
        _long_div(
            (F.col("st") - F.col("s")).cast("decimal(38,0)") * 1000000,
            (F.col("nt") - F.col("n")).cast("decimal(38,0)"),
        ).alias("rep_micro"),
        "st",
        "nt",
        "nb",
    )
    rep_mean = reps.agg(
        _long_div(F.sum("rep_micro"), F.count("*").cast("long")).alias("rm")
    )
    var_parts = (
        reps.crossJoin(F.broadcast(rep_mean))
        .select(
            (
                (F.col("rep_micro") - F.col("rm")).cast("decimal(38,0)")
                * (F.col("rep_micro") - F.col("rm")).cast("decimal(38,0)")
            ).alias("d2"),
            "st",
            "nt",
            "nb",
        )
        .groupBy("st", "nt", "nb")
        .agg(F.sum("d2").alias("ss"), F.count("*").alias("cnt"))
    )
    return var_parts.select(
        _long_div(
            F.col("st").cast("decimal(38,0)") * 1000000,
            F.col("nt").cast("decimal(38,0)"),
        ).alias("mean_micro_cents"),
        F.round(
            1.96
            * F.sqrt(
                (F.col("ss").cast("double") * (F.col("cnt") - 1))
                / (F.col("cnt") * F.col("cnt"))
            )
        )
        .cast("long")
        .alias("ci_halfwidth_micro_cents"),
        F.col("cnt").cast("long").alias("n_replicates"),
    )


@register(
    "q_streaming_ohlc",
    """
    WITH ranked AS (
      SELECT date_trunc('hour', ts) AS h, event_type, value, ts, event_id,
             row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
                                ORDER BY ts DESC, event_id DESC) AS rn_z
      FROM events
    )
    SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS bar_start, event_type,
           max(CASE WHEN rn_a = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rn_z = 1 THEN value END) AS close,
           CAST(count(*) AS BIGINT) AS n_ticks
    FROM ranked GROUP BY h, event_type
    """,
)
def q_streaming_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC bars: the same hourly bars as q_ohlc_bars built
    INCREMENTALLY as a streaming windowed aggregate — open/close are
    min_by/max_by over a (ts, event_id) struct (deterministic
    tie-break), which maintain O(1) state per bar across micro-batches
    where the batch form needs a full ranking pass. The availableNow
    drain finalizes every bar, so the result equals the batch bars and
    the window-ranked SQL replays it exactly — streaming-vs-batch
    equivalence is the oracle."""
    from breweries_data_pipeline_spark.streaming import (
        read_events_stream,
        run_available_now,
    )

    sdf = read_events_stream(spark, sf_dir)
    ordk = F.struct(F.col("ts"), F.col("event_id"))
    agg = sdf.groupBy(
        F.window(F.col("ts"), "1 hour").alias("window"), F.col("event_type")
    ).agg(
        F.min_by("value", ordk).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", ordk).alias("close"),
        F.count("*").cast("long").alias("n_ticks"),
    )
    shaped = agg.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "bar_start"
        ),
        "event_type",
        "open",
        "high",
        "low",
        "close",
        "n_ticks",
    )
    from breweries_data_pipeline_spark.streaming import state_partitions

    with state_partitions(spark, 8):
        return run_available_now(shaped, "q_streaming_ohlc")


@register(
    "q_bytes_per_char",
    """
    SELECT lang,
           CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           CAST(((sum(strlen(text)) * 1000000)
                 - ((sum(strlen(text)) * 1000000) % sum(length(text))))
                // sum(length(text)) AS BIGINT) AS bytes_per_char_ppm
    FROM documents
    WHERE length(text) > 0
    GROUP BY lang
    """,
)
def q_bytes_per_char(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language UTF-8 encoding density (bytes per character, exact
    ppm) — the storage/tokenizer-budget planning stat for multilingual
    corpora (CJK ~3x Latin). One partial-aggregated pass; integer
    floor-division keeps the ratio hash-exact."""
    docs = read_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    agg = docs.groupBy("lang").agg(
        F.sum(F.octet_length("text")).alias("total_bytes"),
        F.sum(F.length("text")).alias("total_chars"),
    )
    return agg.select(
        "lang",
        F.col("total_bytes").cast("long").alias("total_bytes"),
        F.col("total_chars").cast("long").alias("total_chars"),
        _long_div(F.col("total_bytes") * 1000000, F.col("total_chars")).alias(
            "bytes_per_char_ppm"
        ),
    )


@register(
    "q_lsh_recall_audit",
    f"""
    WITH shs AS (
      SELECT doc_id, list_distinct({_SQL_SHINGLES}) AS s FROM documents
    ),
    truth AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM shs a JOIN shs b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE)
            >= 0.5
    ),
    sh AS (SELECT doc_id, unnest(s) AS s FROM shs),
    sig AS (
      SELECT doc_id,
             {_sql_minhash_cols(16)}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      {_sql_minhash_bands(4, 4)}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.v0 = b.v0 AND a.v1 = b.v1
       AND a.v2 = b.v2 AND a.v3 = b.v3 AND a.doc_id < b.doc_id
    ),
    counts AS (
      SELECT (SELECT count(*) FROM truth) AS n_true,
             (SELECT count(*) FROM cand) AS n_cand,
             (SELECT count(*) FROM truth t
              JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b) AS n_hit
    )
    SELECT CAST(n_true AS BIGINT) AS n_true,
           CAST(n_cand AS BIGINT) AS n_cand,
           CAST(n_hit AS BIGINT) AS n_hit,
           CAST(CASE WHEN n_true > 0 THEN
                  ((n_hit * 1000000) - ((n_hit * 1000000) % n_true)) // n_true
                ELSE 1000000 END AS BIGINT) AS recall_ppm
    FROM counts
    """,
)
def q_lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-auditing LSH: candidate-level recall of the md5 MinHash
    banding against EXACT ground truth (all pairs with Jaccard >= 0.5
    from the zero-recall-loss prefix-filtered similarity join), as a
    one-row oracled result — the recall measurement itself is
    hash-checked, not just asserted in a test. The truth side uses
    AllPairs prefix filtering (never quadratic on the Spark side; the
    oracle's quadratic join is fine at oracle SF), the LSH side is
    the q_minhash_lsh candidate pipeline. At production thresholds
    this is the query you run on a sample after retuning bands
    (q_lsh_recall_audit_sampled makes that sampling first-class)."""
    docs = read_table(spark, sf_dir, "documents")
    return _lsh_recall_audit_body(docs)


def _lsh_recall_audit_body(docs: DataFrame) -> DataFrame:
    """Shared body of q_lsh_recall_audit / q_lsh_recall_audit_sampled:
    exact prefix-filtered truth pairs vs the banded-LSH candidate set,
    reduced to one (n_true, n_cand, n_hit, recall_ppm) row."""
    from breweries_data_pipeline_spark.operators.dedup import (
        prefix_filtered_similarity_join,
    )

    # truth feeds TWO consumers (the n_true aggregate and the n_hit
    # join); without the persist the prefix-filtered similarity join —
    # the audit's dominant cost — executes twice (r12: the sampled
    # audit measured 37.8s with a clean probe vs ~13s for the two legs
    # run once each)
    truth = _persist(
        prefix_filtered_similarity_join(docs, threshold=0.5).select(
            "id_a", "id_b"
        )
    )

    sh = _ensure_parallelism(docs.select("doc_id", "text"), key="doc_id").select(
        "doc_id", F.explode(F.array_distinct(shingles("text", 3))).alias("s")
    )
    cand = lsh_candidate_pairs(
        md5_minhash_signatures(sh), "doc_id", 4, 4
    ).transform(_persist)
    t = truth.agg(F.count("*").alias("n_true"))
    c = cand.agg(F.count("*").alias("n_cand"))
    h = truth.join(cand, ["id_a", "id_b"]).agg(F.count("*").alias("n_hit"))
    # three one-row aggregates attach via broadcast crossJoin (the
    # engine's scalar-attach idiom) — no driver-side collect, so the
    # audit composes into larger pipelines
    return (
        t.crossJoin(F.broadcast(c))
        .crossJoin(F.broadcast(h))
        .select(
            F.col("n_true").cast("long").alias("n_true"),
            F.col("n_cand").cast("long").alias("n_cand"),
            F.col("n_hit").cast("long").alias("n_hit"),
            F.when(
                F.col("n_true") > 0,
                _long_div(F.col("n_hit") * 1000000, F.col("n_true")),
            )
            .otherwise(F.lit(1000000))
            .cast("long")
            .alias("recall_ppm"),
        )
    )


@register(
    "q_lsh_recall_audit_sampled",
    f"""
    WITH sampled AS (
      SELECT * FROM documents
      WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':lshaudit'), 1, 8))::BIGINT
            % 3 = 0
    ),
    shs AS (
      SELECT doc_id, list_distinct({_SQL_SHINGLES}) AS s FROM sampled
    ),
    truth AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM shs a JOIN shs b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE)
            >= 0.5
    ),
    sh AS (SELECT doc_id, unnest(s) AS s FROM shs),
    sig AS (
      SELECT doc_id,
             {_sql_minhash_cols(16)}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      {_sql_minhash_bands(4, 4)}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.v0 = b.v0 AND a.v1 = b.v1
       AND a.v2 = b.v2 AND a.v3 = b.v3 AND a.doc_id < b.doc_id
    ),
    counts AS (
      SELECT (SELECT count(*) FROM truth) AS n_true,
             (SELECT count(*) FROM cand) AS n_cand,
             (SELECT count(*) FROM truth t
              JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b) AS n_hit
    )
    SELECT CAST(n_true AS BIGINT) AS n_true,
           CAST(n_cand AS BIGINT) AS n_cand,
           CAST(n_hit AS BIGINT) AS n_hit,
           CAST(CASE WHEN n_true > 0 THEN
                  ((n_hit * 1000000) - ((n_hit * 1000000) % n_true)) // n_true
                ELSE 1000000 END AS BIGINT) AS recall_ppm
    FROM counts
    """,
)
def q_lsh_recall_audit_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_lsh_recall_audit with the docstring's 'run on a sample'
    discipline made FIRST-CLASS (r11 verdict item 4): a deterministic
    1/3 md5-bucket sample of documents (corpus.hash_bucket — pure
    function of doc_id, same sample every run/engine/partitioning, the
    q_stratified_sample discipline) is taken BEFORE both the exact
    truth join and the LSH candidate side, so the audit's cost is a
    constant ~11% of the full audit's pair volume at any corpus scale
    while the recall estimate stays unbiased (both sides see the same
    subcorpus). The sample fraction lives in the oracle, so the
    measurement itself stays value-hash-checked. This retires the
    registry's heaviest default wall (q_lsh_recall_audit, 42.8s sf1)
    as routine evidence — the full audit remains available for final
    sign-off runs."""
    from breweries_data_pipeline_spark.operators.corpus import hash_bucket

    docs = read_table(spark, sf_dir, "documents").filter(
        hash_bucket(F.col("doc_id"), "lshaudit", 3) == 0
    )
    return _lsh_recall_audit_body(docs)


@register(
    "q_dedup_ledger",
    f"""
    WITH fp AS (
      SELECT doc_id,
             md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS f
      FROM documents
    ),
    exact_surv AS (
      SELECT doc_id, f, min(doc_id) OVER (PARTITION BY f) AS surv
      FROM fp
    ),
    survivors AS (
      SELECT e.doc_id, d.text FROM exact_surv e
      JOIN documents d USING (doc_id)
      WHERE e.doc_id = e.surv
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct({_SQL_SHINGLES})) AS s
      FROM survivors
    ),
    sig AS (
      SELECT doc_id,
             {_sql_minhash_cols(16)}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      {_sql_minhash_bands(4, 4)}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.v0 = b.v0 AND a.v1 = b.v1
       AND a.v2 = b.v2 AND a.v3 = b.v3 AND a.doc_id < b.doc_id
    ),
    shs AS (
      SELECT doc_id, list_distinct({_SQL_SHINGLES}) AS s FROM survivors
    ),
    near_pairs AS (
      SELECT c.id_a, c.id_b FROM cand c
      JOIN shs sa ON sa.doc_id = c.id_a
      JOIN shs sb ON sb.doc_id = c.id_b
      WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
            / CAST(len(list_distinct(list_concat(sa.s, sb.s))) AS DOUBLE)
            >= 0.5
    ),
    near_surv AS (
      SELECT id_b AS doc_id, min(id_a) AS surv FROM near_pairs GROUP BY id_b
    )
    SELECT e.doc_id,
           CASE WHEN e.doc_id <> e.surv THEN 'dropped_exact'
                WHEN n.surv IS NOT NULL THEN 'dropped_near'
                ELSE 'kept' END AS status,
           CASE WHEN e.doc_id <> e.surv THEN e.surv
                ELSE n.surv END AS survivor_id
    FROM exact_surv e
    LEFT JOIN near_surv n ON n.doc_id = e.doc_id AND e.doc_id = e.surv
    """,
)
def q_dedup_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup decision LEDGER — the audit artifact a production corpus
    build publishes next to the deduped output: every document with
    its verdict (kept / dropped_exact / dropped_near) and the id of
    the survivor that displaced it. Exact dedup (md5 fingerprint,
    min-id survivor) runs first; MinHash-LSH near-dup (md5-lane
    banding + exact-Jaccard verify at 0.5, lowest-id earlier partner
    as survivor) runs over exact survivors only. Fully oracled —
    dedup decisions are replayable, which is what makes a 100 TB
    dedup pass defensible to auditors. Plan reuses the
    q_minhash_lsh/q_corpus_funnel persisted-signature shape."""
    from breweries_data_pipeline_spark.functions.text import normalized_text

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    wfp = Window.partitionBy(F.md5(normalized_text("text")))
    exact_surv = docs.select(
        "doc_id", "text", F.min("doc_id").over(wfp).alias("__surv")
    ).transform(_persist)
    survivors = exact_surv.filter(F.col("doc_id") == F.col("__surv")).select(
        "doc_id", "text"
    )

    shs = _ensure_parallelism(survivors, key="doc_id").select(
        "doc_id", F.array_distinct(shingles("text", 3)).alias("s")
    ).transform(_persist)
    sig = _persist(
        md5_minhash_signatures(shs.select("doc_id", F.explode("s").alias("s")))
    )
    near_pairs = (
        jaccard_pairs(lsh_candidate_pairs(sig, "doc_id", 4, 4), shs, "doc_id", "s")
        .filter(F.col("jaccard") >= 0.5)
        .select("id_a", "id_b")
    )
    near_surv = near_pairs.groupBy(F.col("id_b").alias("doc_id")).agg(
        F.min("id_a").alias("__nsurv")
    )
    base = exact_surv.join(
        near_surv,
        (exact_surv["doc_id"] == near_surv["doc_id"])
        & (exact_surv["doc_id"] == exact_surv["__surv"]),
        "left",
    ).select(
        exact_surv["doc_id"],
        "__surv",
        "__nsurv",
    )
    return base.select(
        "doc_id",
        F.when(F.col("doc_id") != F.col("__surv"), F.lit("dropped_exact"))
        .when(F.col("__nsurv").isNotNull(), F.lit("dropped_near"))
        .otherwise(F.lit("kept"))
        .alias("status"),
        F.when(F.col("doc_id") != F.col("__surv"), F.col("__surv"))
        .otherwise(F.col("__nsurv"))
        .alias("survivor_id"),
    )


_SQL_COS = (
    "({d} / (sqrt({na}) * sqrt({nb})))"
)


def _sql_mmr() -> str:
    dot = _SQL_DOT
    cos_probe = (
        f"{dot.format(a='e.v', b='p.v')}"
        f" / (sqrt({dot.format(a='e.v', b='e.v')})"
        f" * sqrt({dot.format(a='p.v', b='p.v')}))"
    )
    cos_sel = (
        f"{dot.format(a='c.v', b='s.v')}"
        f" / (sqrt({dot.format(a='c.v', b='c.v')})"
        f" * sqrt({dot.format(a='s.v', b='s.v')}))"
    )
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id <> 0
    ),
    p AS (
      SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id = 0
    ),
    rel AS (
      SELECT e.vec_id, e.v, {cos_probe} AS r FROM e CROSS JOIN p
    ),
    s1 AS (
      SELECT vec_id, v, r FROM rel ORDER BY r DESC, vec_id LIMIT 1
    ),
    m2 AS (
      SELECT c.vec_id, c.v, c.r,
             0.5 * c.r - 0.5 * {cos_sel} AS score
      FROM rel c JOIN s1 s ON c.vec_id <> s.vec_id
    ),
    s2 AS (
      SELECT vec_id, v, r FROM m2 ORDER BY score DESC, vec_id LIMIT 1
    ),
    m3 AS (
      SELECT c.vec_id, c.r,
             0.5 * c.r - 0.5 * max({cos_sel}) AS score
      FROM rel c JOIN (SELECT * FROM s1 UNION ALL SELECT * FROM s2) s
        ON c.vec_id <> s.vec_id
      GROUP BY c.vec_id, c.r
      HAVING count(*) = 2
    ),
    s3 AS (
      SELECT vec_id, r FROM m3 ORDER BY score DESC, vec_id LIMIT 1
    )
    SELECT CAST(1 AS INTEGER) AS rank, vec_id, r AS relevance FROM s1
    UNION ALL
    SELECT 2, vec_id, r FROM s2
    UNION ALL
    SELECT 3, vec_id, r FROM s3
    """


@register("q_mmr_select", None)  # oracle attached below (generated SQL)
def q_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance selection (Carbonell & Goldstein
    1998): pick 3 results that are RELEVANT to the probe (vec 0) but
    mutually DIVERSE — score = 0.5*rel - 0.5*max cos to the already-
    selected set. Greedy loop with bounded driver state (each step
    collects exactly ONE argmax row, like kmeans collects its k x d
    model); per step the corpus is scanned once with the selected
    vectors as plan literals. Exact-fold cosines keep the unrolled
    SQL oracle bit-exact — deterministic diversified retrieval, the
    standard re-rank after an ANN shortlist."""
    from breweries_data_pipeline_spark.operators.similarity import (
        exact_cosine,
        exact_norm,
        fold_norm,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    probe_vec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    ]

    def cos_to(vec: list[float]) -> Column:
        # the literal's norm is a driver constant; each row's is __n
        lit_vec = F.array(*[F.lit(float(x)) for x in vec])
        return exact_cosine(
            F.col("embedding"), lit_vec, F.col("__n"), F.lit(fold_norm(vec))
        )

    cand = (
        emb.filter(F.col("vec_id") != 0)
        .select("vec_id", "embedding", exact_norm(F.col("embedding")).alias("__n"))
        .withColumn("r", cos_to(probe_vec))
        .transform(_persist)
    )

    selected: list[tuple[int, float, list[float]]] = []
    for step in range(3):
        scored = cand
        if selected:
            sim_cols = [cos_to(svec) for _, _, svec in selected]
            max_sim = sim_cols[0]
            for c in sim_cols[1:]:
                max_sim = F.greatest(max_sim, c)
            scored = cand.withColumn("score", 0.5 * F.col("r") - 0.5 * max_sim)
        else:
            scored = cand.withColumn("score", F.col("r"))
        scored = scored.filter(
            ~F.col("vec_id").isin([s[0] for s in selected])
            if selected
            else F.lit(True)
        )
        top = (
            scored.orderBy(F.col("score").desc(), F.col("vec_id"))
            .limit(1)
            .select("vec_id", "r", "embedding")
            .collect()[0]
        )
        selected.append((top["vec_id"], top["r"], list(top["embedding"])))
    cand.unpersist()
    return spark.createDataFrame(
        [(i + 1, s[0], s[1]) for i, s in enumerate(selected)],
        "rank int, vec_id long, relevance double",
    )


REGISTRY["q_mmr_select"] = (q_mmr_select, _sql_mmr())


@register(
    "q_dataset_card",
    r"""
    WITH base AS (
      SELECT doc_id, lang, source, n_chars,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS f
      FROM documents
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(count(*) - count(DISTINCT f) AS BIGINT) AS n_exact_dups,
           CAST(((count(*) - count(DISTINCT f)) * 1000000
                 - (((count(*) - count(DISTINCT f)) * 1000000) % count(*)))
                // count(*) AS BIGINT) AS dup_rate_ppm,
           CAST(min(n_tokens) AS BIGINT) AS min_tokens,
           CAST(max(n_tokens) AS BIGINT) AS max_tokens
    FROM base
    """,
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row dataset card ("datasheet") a corpus release ships
    with: document/token/char volumes, language and source coverage,
    exact-duplicate count and rate — computed in ONE pass over the
    corpus (single aggregate; the two distinct-counts ride the same
    scan via partial aggregation). At 100 TB this is the cheapest
    query in the release pipeline and the first sanity gate before
    anything else runs; rate is exact-integer ppm."""
    docs = read_table(spark, sf_dir, "documents")
    from breweries_data_pipeline_spark.functions.text import (
        normalized_text,
        tokens as _tk,
    )

    base = docs.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.size(_tk("text")).alias("n_tokens"),
        F.md5(normalized_text("text")).alias("f"),
    )
    agg = base.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        (F.count("*") - F.countDistinct("f")).alias("n_exact_dups"),
        F.min("n_tokens").alias("min_tokens"),
        F.max("n_tokens").alias("max_tokens"),
    )
    return agg.select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_langs").cast("long").alias("n_langs"),
        F.col("n_sources").cast("long").alias("n_sources"),
        F.col("n_exact_dups").cast("long").alias("n_exact_dups"),
        _long_div(F.col("n_exact_dups") * 1000000, F.col("n_docs")).alias(
            "dup_rate_ppm"
        ),
        F.col("min_tokens").cast("long").alias("min_tokens"),
        F.col("max_tokens").cast("long").alias("max_tokens"),
    )


@register(
    "q_split_novelty",
    f"""
    WITH split AS (
      SELECT doc_id, text,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8))
               ::BIGINT % 100 AS b
      FROM documents
    ),
    train_g AS (
      SELECT DISTINCT unnest(list_distinct({_SQL_SHINGLES})) AS g
      FROM split WHERE b < 90
    ),
    test_g AS (
      SELECT DISTINCT unnest(list_distinct({_SQL_SHINGLES})) AS g
      FROM split WHERE b >= 95
    ),
    counts AS (
      SELECT (SELECT count(*) FROM test_g) AS n_test,
             (SELECT count(*) FROM test_g t
              WHERE t.g NOT IN (SELECT g FROM train_g)) AS n_novel
    )
    SELECT CAST(n_test AS BIGINT) AS n_test_grams,
           CAST(n_novel AS BIGINT) AS n_novel_grams,
           CAST(CASE WHEN n_test > 0 THEN
                  ((n_novel * 1000000) - ((n_novel * 1000000) % n_test))
                  // n_test
                ELSE 0 END AS BIGINT) AS novelty_ppm
    FROM counts
    """,
)
def q_split_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train->test n-gram novelty: the fraction of the held-out
    split's distinct 3-grams that never occur in the training split —
    the generalization-pressure counterpart of decontamination (high
    novelty = the eval actually tests composition, not recall). Same
    leakage-safe hash split as q_split_assign; the novel set comes
    from a left-anti join on the gram key (the correct big-big shape —
    compose with bloom_prune_join when the train side is huge);
    scalars attach declaratively."""
    from breweries_data_pipeline_spark.operators.corpus import hash_bucket
    docs = _ensure_parallelism(
        read_table(spark, sf_dir, "documents").select("doc_id", "text"),
        key="doc_id",
    ).withColumn("b", hash_bucket(F.col("doc_id"), "split", 100))
    train_g = (
        docs.filter(F.col("b") < 90)
        .select(F.explode(F.array_distinct(shingles("text", 3))).alias("g"))
        .distinct()
    )
    test_g = (
        docs.filter(F.col("b") >= 95)
        .select(F.explode(F.array_distinct(shingles("text", 3))).alias("g"))
        .distinct()
        .transform(_persist)
    )
    novel = test_g.join(train_g, "g", "left_anti")
    t = test_g.agg(F.count("*").alias("n_test"))
    n = novel.agg(F.count("*").alias("n_novel"))
    return (
        t.crossJoin(F.broadcast(n))
        .select(
            F.col("n_test").cast("long").alias("n_test_grams"),
            F.col("n_novel").cast("long").alias("n_novel_grams"),
            F.when(
                F.col("n_test") > 0,
                _long_div(F.col("n_novel") * 1000000, F.col("n_test")),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("novelty_ppm"),
        )
    )


@register(
    "q_tokenizer_fertility",
    r"""
    SELECT lang,
           CAST(sum(len(regexp_extract_all(text,
                '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))) AS BIGINT) AS bpe_tokens,
           CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
             AS words,
           CAST(((sum(len(regexp_extract_all(text,
                  '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))) * 1000000)
                 - ((sum(len(regexp_extract_all(text,
                      '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))) * 1000000)
                    % sum(len(regexp_split_to_array(trim(text), '\s+')))))
                // sum(len(regexp_split_to_array(trim(text), '\s+')))
                AS BIGINT) AS fertility_ppm
    FROM documents
    WHERE length(trim(text)) > 0
    GROUP BY lang
    """,
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish pre-tokens per
    whitespace word (exact ppm) — the compute-budget stat that decides
    how many training tokens a corpus really yields per language
    (high-fertility languages cost more context per sentence). One
    partial-aggregated pass; both tokenizations are the engine's
    standard regexes, so the oracle reproduces counts exactly."""
    from breweries_data_pipeline_spark.functions.text import (
        bpe_ish_tokens,
        tokens as _tk,
    )

    docs = read_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    agg = docs.groupBy("lang").agg(
        F.sum(F.size(bpe_ish_tokens("text"))).alias("bpe_tokens"),
        F.sum(F.size(_tk("text"))).alias("words"),
    )
    return agg.select(
        "lang",
        F.col("bpe_tokens").cast("long").alias("bpe_tokens"),
        F.col("words").cast("long").alias("words"),
        _long_div(F.col("bpe_tokens") * 1000000, F.col("words")).alias(
            "fertility_ppm"
        ),
    )


@register(
    "q_benford_audit",
    """
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                         1, 1) AS INTEGER) AS d
      FROM orders WHERE o_totalprice >= 1
    ),
    tot AS (SELECT count(*) AS n FROM digits)
    SELECT d, CAST(count(*) AS BIGINT) AS cnt,
           CAST(((count(*) * 1000000) - ((count(*) * 1000000) % t.n)) // t.n
                AS BIGINT) AS share_ppm
    FROM digits CROSS JOIN tot t
    GROUP BY d, t.n
    """,
)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit over order totals — the classic
    anomaly/fraud screen for financial columns (organic amounts
    follow log-uniform leading digits; fabricated ones don't). One
    hash aggregate over 9 digit groups + a one-row total attach;
    shares in exact ppm."""
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digits = o.select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("d")
    )
    tot = digits.agg(F.count("*").alias("n"))
    return (
        digits.groupBy("d")
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(tot))
        .select(
            "d",
            F.col("cnt").cast("long").alias("cnt"),
            _long_div(F.col("cnt") * 1000000, F.col("n")).alias("share_ppm"),
        )
    )


@register(
    "q_lsh_cost_model",
    f"""
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct({_SQL_SHINGLES})) AS s
      FROM documents
    ),
    sig AS (
      SELECT doc_id,
             {_sql_minhash_cols(16)}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      {_sql_minhash_bands(4, 4)}
    ),
    buckets AS (
      SELECT band, v0, v1, v2, v3, count(*) AS k
      FROM bands GROUP BY 1, 2, 3, 4, 5
    )
    SELECT band,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(max(k) AS BIGINT) AS max_bucket,
           CAST(sum(k * (k - 1) // 2) AS BIGINT) AS predicted_pairs
    FROM buckets GROUP BY band
    """,
)
def q_lsh_cost_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH tuning diagnostics: per band, the bucket count, the hottest
    bucket, and the candidate-pair volume the banding WILL generate
    (sum over buckets of k*(k-1)/2) — computed from bucket sizes
    alone, BEFORE running the pairing join. This is the cost model
    that picks bits-per-band at a new corpus scale (SCALE.md's
    bits ~ log2(N/target) rule, made measurable): if predicted_pairs
    blows up, re-band before paying for the join. One aggregate over
    the signature table; no pairs materialize.

    EXACT-COLLAPSE pre-pass (r9): signatures are a pure function of
    the text, so byte-identical docs are collapsed FIRST (group by
    text -> multiplicity w, smallest doc_id as the rep) and every md5
    runs once per DISTINCT document; bucket sizes then weight by w
    (k = sum of multiplicities), so n_buckets / max_bucket /
    predicted_pairs are IDENTICAL to the uncollapsed form — the
    oracle keeps the direct spelling as proof. On real web corpora
    (30-50% exact-dup mass) this cuts the dominant hash cost by the
    dup factor; on the 10x replicated soak corpus it is ~10x
    (measured: 17.7s -> ~4s sf1)."""
    docs = read_table(spark, sf_dir, "documents")
    uniq = min_id_groups(
        _ensure_parallelism(docs.select("doc_id", "text"), key="doc_id"),
        ["text"],
        "doc_id",
    )
    # the multiplicity w is constant per doc, so it rides the
    # signature's grouping key and the band keys
    sh = uniq.select(
        "doc_id", "w", F.explode(F.array_distinct(shingles("text", 3))).alias("s")
    )
    sig = md5_minhash_signatures(sh)
    buckets = lsh_band_keys(sig, 4, 4).groupBy("band", "band_hash").agg(
        F.sum("w").alias("k")
    )
    return buckets.groupBy("band").agg(
        F.count("*").cast("long").alias("n_buckets"),
        F.max("k").cast("long").alias("max_bucket"),
        F.sum(F.expr("(k * (k - 1)) div 2")).cast("long").alias("predicted_pairs"),
    )


# ---------------------------------------------------------------------------
# round 6c: time-series statistics (CUSUM, EWMA, KS test, autocorrelation)
# ---------------------------------------------------------------------------

_SQL_VALUE_MICRO = "CAST(round(value * 1000000) AS BIGINT)"


@register(
    "q_cusum_drift",
    f"""
    WITH v AS (
      SELECT event_id, user_id, ts,
             {_SQL_VALUE_MICRO} - 120000000 AS dev
      FROM events
    ),
    c AS (
      SELECT event_id, user_id, ts,
             sum(dev) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM v
    ),
    s AS (
      SELECT event_id, user_id, ts,
             cum - least(0, min(cum) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             )) AS cusum_micro
      FROM c
    )
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           cusum_micro
    FROM s WHERE cusum_micro > 400000000
    """,
)
def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM upward-drift detection per user (alarm rows where the
    one-sided cumulative sum of value deviations exceeds h) — the
    classic sequential change-point monitor for metric feeds. The
    textbook recursion s_i = max(0, s_{i-1} + d_i) looks inherently
    sequential, but the identity s_i = cum_i - min(0, min_{j<=i}
    cum_j) turns it into TWO stock window passes over the same
    (user)-partitioned ordering — one shuffle total, no
    applyInPandas, no recursion, and partial-frame running min/sum
    are O(1) per row. Deviations are exact integer micro-units, so
    the alarm cut is bit-identical cross-engine. At 100 TB this is
    one hash exchange on user_id; per-user state is a single long."""
    ev = read_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us, F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dev = (F.round(F.col("value") * 1000000).cast("long") - 120000000).alias("dev")
    cum = F.sum(dev).over(w)
    cusum = cum - F.least(F.lit(0).cast("long"), F.min(cum).over(w))
    return (
        ev.select(
            "event_id",
            "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            cusum.alias("cusum_micro"),
        )
        .where(F.col("cusum_micro") > 400000000)
    )


def _sql_ewma_lags() -> str:
    """DuckDB spelling of the 16-lag truncated EWMA numerator/denominator."""
    num_terms = " + ".join(
        f"coalesce(lag(v, {k}) OVER w, 0) * {1 << (15 - k)}" for k in range(16)
    )
    return f"""
    WITH v AS (
      SELECT event_id, user_id, ts, {_SQL_VALUE_MICRO} AS v
      FROM events
    ),
    e AS (
      SELECT event_id, user_id,
             {num_terms} AS num,
             65536 - (65536 >> CAST(least(16, row_number() OVER w) AS INTEGER))
               AS den
      FROM v
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    )
    SELECT event_id, user_id, num // den AS ewma_micro FROM e
    """


@register("q_ewma_smoothing", _sql_ewma_lags())
def q_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (alpha = 1/2) per user,
    truncated at 16 lags — metric smoothing with bounded memory. The
    geometric weights 2^-(k+1) are renormalized over however many
    lags exist near the partition start (den = 2^16 - 2^(16-m)), so
    every row has a well-defined exact value. Everything is integer:
    micro-unit inputs, power-of-two weights (max term 490e6 * 2^15
    ~ 1.6e13, far inside long), and a decimal floor division at the
    end — bit-identical cross-engine, no float accumulation order to
    worry about. Plan: ONE window pass over one shuffle on user_id;
    the 16 lag() calls share a single WindowExec frame, so per-row
    cost is 16 adds. The truncation is what makes this scale-honest:
    a full-history EWMA in exact arithmetic would need unbounded
    numerators, while 16 binary lags bound the state and the error
    (2^-17 of the oldest mass) below the micro quantum."""
    ev = read_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id").orderBy(us, F.col("event_id"))
    v = F.round(F.col("value") * 1000000).cast("long")
    num = None
    for k in range(16):
        term = F.coalesce(F.lag(v, k).over(w), F.lit(0).cast("long")) * F.lit(
            1 << (15 - k)
        ).cast("long")
        num = term if num is None else num + term
    m = F.least(F.lit(16), F.row_number().over(w)).cast("int")
    staged = ev.select(
        "event_id", "user_id", num.alias("num"), m.alias("m")
    )
    # PySpark's shiftright() wrapper only takes a literal shift; the
    # SQL function accepts a column expression.
    den = F.expr("CAST(65536 AS BIGINT) - shiftright(CAST(65536 AS BIGINT), m)")
    return staged.select(
        "event_id",
        "user_id",
        _long_div(F.col("num"), den).alias("ewma_micro"),
    )


@register(
    "q_ks_test",
    f"""
    WITH p AS (
      SELECT {_SQL_VALUE_MICRO} AS v,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g1,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS g2
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    d AS (SELECT v, sum(g1) AS c1, sum(g2) AS c2 FROM p GROUP BY v),
    r AS (
      SELECT v,
             sum(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum1,
             sum(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum2
      FROM d
    ),
    t AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM d),
    diffs AS (
      SELECT r.v, t.n1, t.n2,
             abs(cum1 * t.n2 - cum2 * t.n1) AS diff
      FROM r, t
    ),
    best AS (SELECT max(diff) AS mx FROM diffs)
    SELECT CAST(d.n1 AS BIGINT) AS n1,
           CAST(d.n2 AS BIGINT) AS n2,
           CAST(min(d.v) AS BIGINT) AS at_micro,
           CAST(d.diff * 1000000 // (d.n1 * d.n2) AS BIGINT) AS ks_ppm
    FROM diffs d, best b
    WHERE d.diff = b.mx
    GROUP BY d.n1, d.n2, d.diff
    """,
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic (click vs purchase
    value distributions) — the distribution-level A/B comparison that
    catches shape changes a mean test misses. D = max_v |F1(v) -
    F2(v)| evaluated at distinct-value granularity: per-value counts
    aggregate in one partial+final shuffle FIRST, so the ordered
    cumulative pass runs over the distinct micro-quantized values
    (bounded by quantization, not row count — the single-partition
    window is over the ~thousands-row distinct table, never the raw
    events). The statistic is an exact integer cross-product
    (|cum1*n2 - cum2*n1|, max ~2e12 at this SF) reported in ppm with
    a decimal floor divide; at_micro is the smallest value attaining
    the max, so the argmax is deterministic under ties."""
    ev = read_table(spark, sf_dir, "events")
    v = F.round(F.col("value") * 1000000).cast("long")
    p = ev.where(F.col("event_type").isin("click", "purchase")).select(
        v.alias("v"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("g1"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("g2"),
    )
    d = p.groupBy("v").agg(F.sum("g1").alias("c1"), F.sum("g2").alias("c2"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r = d.select(
        "v",
        F.sum("c1").over(w).alias("cum1"),
        F.sum("c2").over(w).alias("cum2"),
    )
    t = d.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    diffs = r.crossJoin(F.broadcast(t)).select(
        "v",
        "n1",
        "n2",
        F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1")).alias(
            "diff"
        ),
    )
    best = diffs.agg(F.max("diff").alias("mx"))
    return (
        diffs.crossJoin(F.broadcast(best))
        .where(F.col("diff") == F.col("mx"))
        .groupBy("n1", "n2", "diff")
        .agg(F.min("v").alias("at_micro"))
        .select(
            F.col("n1").cast("long").alias("n1"),
            F.col("n2").cast("long").alias("n2"),
            F.col("at_micro").cast("long").alias("at_micro"),
            _long_div(
                F.col("diff").cast("decimal(38,0)") * 1000000,
                (F.col("n1") * F.col("n2")).cast("decimal(38,0)"),
            ).alias("ks_ppm"),
        )
    )


@register(
    "q_autocorr_daily",
    """
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day, count(*) AS x
      FROM events GROUP BY 1
    ),
    pairs AS (
      SELECT x AS y, lag(x) OVER (ORDER BY day) AS x
      FROM daily
    ),
    sums AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(CAST(sum(x) AS HUGEINT) AS DOUBLE) AS sx,
             CAST(CAST(sum(y) AS HUGEINT) AS DOUBLE) AS sy,
             CAST(CAST(sum(x * x) AS HUGEINT) AS DOUBLE) AS sxx,
             CAST(CAST(sum(y * y) AS HUGEINT) AS DOUBLE) AS syy,
             CAST(CAST(sum(x * y) AS HUGEINT) AS DOUBLE) AS sxy
      FROM pairs WHERE x IS NOT NULL
    )
    SELECT CAST(n AS BIGINT) AS n_pairs,
           (n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
             AS autocorr_lag1
    FROM sums
    """,
)
def q_autocorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of the daily event-count series — the
    seasonality/momentum screen for feed volumes (near +1 = trending,
    near 0 = memoryless, negative = alternating). Same deterministic-
    Pearson discipline as q_corr_stats: the five moment sums
    accumulate EXACTLY over integer daily counts (decimal
    accumulators), and the final correlation is one fixed-order IEEE
    expression — bit-identical across engines. The series itself is
    tiny (one row per day), so after the one groupBy shuffle the lag
    window and moment aggregate are effectively free; at 100 TB the
    cost is the daily count aggregate, which partial-aggregates
    map-side to one long per (partition, day)."""
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count("*").alias("x")
    )
    w = Window.orderBy("day")
    pairs = daily.select(
        F.col("x").alias("y"), F.lag("x").over(w).alias("x")
    ).where(F.col("x").isNotNull())
    dec = "decimal(38,0)"
    sums = pairs.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).cast("double").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).cast("double").alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return sums.select(
        n.cast("long").alias("n_pairs"), corr.alias("autocorr_lag1")
    )


# ---------------------------------------------------------------------------
# round 6c: image perceptual-hash dedup, source-overlap matrix,
# file-compaction planning
# ---------------------------------------------------------------------------


@register(
    "q_image_ahash",
    """
    WITH m AS (
      SELECT doc_id AS media_id,
             (16 + doc_id % 17) * (16 + doc_id % 13) * (1 + doc_id % 3) AS n,
             (doc_id * 2654435761) % 4294967296 AS seed
      FROM documents
    ),
    s AS (
      SELECT media_id, CAST(t.i AS BIGINT) AS i,
             ((seed + ((CAST(t.i AS BIGINT) * n) // 64) * 40503) >> 3) & 255
               AS v
      FROM m, unnest(generate_series(0, 63)) AS t(i)
    ),
    tot AS (SELECT media_id, sum(v) AS total FROM s GROUP BY media_id),
    bits AS (
      SELECT s.media_id, s.i,
             CASE WHEN s.v * 64 > t.total THEN 1 ELSE 0 END AS b
      FROM s JOIN tot t USING (media_id)
    ),
    h AS (
      SELECT media_id,
             sum(CASE WHEN i < 32
                      THEN CAST(b AS BIGINT) << CAST(31 - i AS INTEGER)
                      ELSE 0 END) AS ahash_hi,
             sum(CASE WHEN i >= 32
                      THEN CAST(b AS BIGINT) << CAST(63 - i AS INTEGER)
                      ELSE 0 END) AS ahash_lo
      FROM bits GROUP BY media_id
    )
    SELECT media_id,
           CAST(ahash_hi AS BIGINT) AS ahash_hi,
           CAST(ahash_lo AS BIGINT) AS ahash_lo,
           CAST(count(*) OVER (PARTITION BY ahash_hi, ahash_lo) AS BIGINT)
             AS dup_group_size
    FROM h
    """,
)
def q_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image dedup candidates by perceptual average-hash: every blob
    hashed (operators/multimodal.py:image_ahash — 64 strided payload
    samples thresholded on their exact integer mean, packed into two
    32-bit halves), then grouped so dup_group_size > 1 flags
    re-encoded/resized copies that byte-level md5 would miss. The
    hash is a narrow Arrow-batched pass over the blobs (zero
    shuffle); the grouping shuffles 3 longs per image regardless of
    blob size — the blob itself never moves. Full oracle: the
    FAKEIMG1 payload is id-derived arithmetic, so DuckDB regenerates
    the sampled bytes and replays every bit of the hash."""
    from breweries_data_pipeline_spark.operators.multimodal import (
        image_ahash,
        media_from_ids,
    )

    docs = read_table(spark, sf_dir, "documents")
    h = image_ahash(media_from_ids(docs))
    w = Window.partitionBy("ahash_hi", "ahash_lo")
    return h.select(
        "media_id",
        "ahash_hi",
        "ahash_lo",
        F.count("*").over(w).cast("long").alias("dup_group_size"),
    )


@register(
    "q_source_overlap",
    f"""
    WITH g AS (
      SELECT DISTINCT source, gram
      FROM (
        SELECT source, unnest({_sql_shingles(5)}) AS gram
        FROM documents
      )
    ),
    sz AS (SELECT source, count(*) AS n FROM g GROUP BY source),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
      FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.src_a, i.src_b,
           CAST(i.inter AS BIGINT) AS inter,
           CAST(sa.n + sb.n - i.inter AS BIGINT) AS uni,
           CAST(i.inter * 1000000 // (sa.n + sb.n - i.inter) AS BIGINT)
             AS jaccard_ppm
    FROM inter i
    JOIN sz sa ON sa.source = i.src_a
    JOIN sz sb ON sb.source = i.src_b
    ORDER BY jaccard_ppm DESC, src_a, src_b LIMIT 20
    """,
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level corpus overlap matrix: Jaccard similarity of the
    distinct token-5-gram sets of every source pair (top 20) — the
    crawl-dedup planning view that tells a corpus team which feeds
    mirror each other BEFORE paying for document-level dedup between
    them. Plan: distinct (source, gram) in one partial-agg shuffle,
    per-source set sizes broadcast back, and the pair counts come
    from a self equi-join ON GRAM — per-gram fan-out is bounded by
    the number of sources carrying that gram (sources are feeds:
    dozens, not millions), so no quadratic blow-up exists at any
    corpus size. Zero-intersection pairs carry no signal and are
    (by construction of the equi-join) absent."""
    docs = read_table(spark, sf_dir, "documents")
    g = (
        docs.select("source", F.explode(shingles("text", 5)).alias("gram"))
        .distinct()
    )
    sz = g.groupBy("source").agg(F.count("*").alias("n"))
    a = g.alias("a")
    b = g.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    sa = sz.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    uni = F.col("na") + F.col("nb") - F.col("inter")
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            F.col("inter").cast("long").alias("inter"),
            uni.cast("long").alias("uni"),
            _long_div(
                F.col("inter").cast("decimal(38,0)") * 1000000,
                uni.cast("decimal(38,0)"),
            ).alias("jaccard_ppm"),
        )
        .orderBy(F.desc("jaccard_ppm"), "src_a", "src_b")
        .limit(20)
    )


@register(
    "q_compaction_plan",
    """
    WITH f AS (
      SELECT source, doc_id, n_chars AS bytes,
             coalesce(sum(n_chars) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS prior
      FROM documents
    )
    SELECT source,
           CAST(prior // 4096 AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(bytes) AS BIGINT) AS total_bytes,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM f GROUP BY source, prior // 4096
    """,
)
def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner — the lakehouse maintenance pass
    that groups a partition's many small files into ~target-size
    rewrite bins (documents stand in for the file listing: one file
    of n_chars bytes each, binned per source toward a 4 KiB target).
    Bin assignment is the streaming rule floor(exclusive-cumsum /
    target) over a deterministic file order: consecutive files share
    a bin until the target fills, every bin is contiguous (so the
    rewrite preserves sort order and min/max pruning), and the whole
    plan is ONE window pass + one aggregate — no driver-side loop
    over the file list, which is what makes it viable for a 100 TB
    table whose manifest alone has millions of entries."""
    docs = read_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = docs.select(
        "source",
        "doc_id",
        F.col("n_chars").alias("bytes"),
        F.coalesce(F.sum("n_chars").over(w), F.lit(0).cast("long")).alias(
            "prior"
        ),
    )
    return (
        staged.groupBy(
            "source", F.expr("prior div 4096").cast("long").alias("bin")
        )
        .agg(
            F.count("*").cast("long").alias("n_files"),
            F.sum("bytes").cast("long").alias("total_bytes"),
            F.min("doc_id").cast("long").alias("first_doc"),
            F.max("doc_id").cast("long").alias("last_doc"),
        )
    )


# ---------------------------------------------------------------------------
# round 6c: item-item similarity, retrieval eval (MRR), token-length
# histogram, l-diversity privacy audit
# ---------------------------------------------------------------------------


@register(
    "q_item_cosine",
    """
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    deg AS (SELECT l_partkey, count(*) AS n FROM b GROUP BY 1),
    co AS (
      SELECT a.l_partkey AS part_a, c.l_partkey AS part_b,
             count(*) AS co
      FROM b a JOIN b c
        ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    )
    SELECT co.part_a, co.part_b,
           CAST(co.co AS BIGINT) AS co,
           CAST(da.n AS BIGINT) AS n_a,
           CAST(db.n AS BIGINT) AS n_b,
           CAST(co.co * co.co * 1000000 // (da.n * db.n) AS BIGINT)
             AS cosine_sq_ppm
    FROM co
    JOIN deg da ON da.l_partkey = co.part_a
    JOIN deg db ON db.l_partkey = co.part_b
    ORDER BY cosine_sq_ppm DESC, part_a, part_b LIMIT 100
    """,
)
def q_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item cosine similarity from order co-occurrence — the
    normalized form of q_basket_pairs and the core of a
    collaborative-filtering recommender: cosine(a,b) = co(a,b) /
    sqrt(n_a * n_b), reported as the SQUARED cosine in exact integer
    ppm so no sqrt (and no libm) crosses an engine boundary. The
    self-join keys on l_orderkey, so fan-out per order is
    basket-size-squared (baskets are bounded: ~7 lines), never
    corpus-squared; the min-support HAVING prunes the pair table
    before the degree joins; degree table is small and hash-joined.
    One extra broadcast-scale join pair vs basket counting buys the
    popularity normalization that stops best-sellers dominating."""
    li = read_table(spark, sf_dir, "lineitem")
    b = li.select("l_orderkey", "l_partkey").distinct()
    deg = b.groupBy("l_partkey").agg(F.count("*").alias("n"))
    a = b.alias("a")
    c = b.alias("c")
    co = (
        a.join(
            c,
            (F.col("a.l_orderkey") == F.col("c.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("c.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("c.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("co"))
        .where(F.col("co") >= 2)
    )
    da = deg.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("n_a"))
    db = deg.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("n_b"))
    return (
        co.join(da, "part_a")
        .join(db, "part_b")
        .select(
            "part_a",
            "part_b",
            F.col("co").cast("long").alias("co"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            _long_div(
                F.col("co").cast("decimal(38,0)") * F.col("co") * 1000000,
                (F.col("n_a") * F.col("n_b")).cast("decimal(38,0)"),
            ).alias("cosine_sq_ppm"),
        )
        .orderBy(F.desc("cosine_sq_ppm"), "part_a", "part_b")
        .limit(100)
    )


@register(
    "q_mrr_eval",
    r"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
      FROM documents
    ),
    tf AS (SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2),
    queries AS (
      SELECT term FROM (
        SELECT term, sum(tf) AS total FROM tf GROUP BY term
        ORDER BY total DESC, term LIMIT 5
      )
    ),
    ranked AS (
      SELECT tf.term, tf.doc_id, tf.tf,
             row_number() OVER (
               PARTITION BY tf.term ORDER BY tf.tf DESC, tf.doc_id
             ) AS rnk
      FROM tf JOIN queries q ON q.term = tf.term
    )
    SELECT term,
           CAST(min(rnk) AS BIGINT) AS first_rel_rank,
           CAST(1000000 // min(rnk) AS BIGINT) AS rr_micro
    FROM ranked
    WHERE doc_id % 7 = 0
    GROUP BY term
    """,
)
def q_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation (reciprocal rank of the first
    relevant hit, per query) — the eval loop a RAG/curation pipeline
    runs after every index build. The 5 busiest corpus terms stand in
    for the query set; ranking is tf-desc with a doc_id tie-break;
    relevance is the deterministic doc_id % 7 label. RR is exact
    integer micro-units (1e6 // rank), so MRR aggregation downstream
    never touches floats. Plan: postings build is one explode +
    partial-agg shuffle; the 5-term query set prunes the postings via
    a broadcast semi-join BEFORE the per-term ranking window, so the
    window sorts only matching postings — the shape that keeps
    per-query eval cost independent of corpus size."""
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = tok.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    qs = (
        tf.groupBy("term")
        .agg(F.sum("tf").alias("total"))
        .orderBy(F.desc("total"), "term")
        .limit(5)
        .select("term")
    )
    ranked = tf.join(F.broadcast(qs), "term").select(
        "term",
        "doc_id",
        F.row_number()
        .over(Window.partitionBy("term").orderBy(F.desc("tf"), "doc_id"))
        .alias("rnk"),
    )
    return (
        ranked.where(F.col("doc_id") % 7 == 0)
        .groupBy("term")
        .agg(F.min("rnk").alias("first_rel_rank"))
        .select(
            "term",
            F.col("first_rel_rank").cast("long").alias("first_rel_rank"),
            _long_div(F.lit(1000000).cast("long"), F.col("first_rel_rank")).alias(
                "rr_micro"
            ),
        )
    )


@register(
    "q_token_histogram",
    r"""
    WITH n AS (
      SELECT CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
               AS n_tokens
      FROM documents
    )
    SELECT CAST(1 << CAST(length(bin(n_tokens)) - 1 AS INTEGER) AS BIGINT)
             AS bin_lo,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM n GROUP BY 1
    """,
)
def q_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two document-length histogram (docs per [2^k, 2^(k+1))
    token bucket, plus token mass per bucket) — the first chart in any
    corpus datasheet and the input to length-filter threshold
    decisions. The bucket is computed EXACTLY as 2^(bitlength-1) via
    the binary-string length — never floor(log2(double)), which
    misrounds at exact powers of two once counts exceed 2^53's
    precision at real corpus scale. One narrow projection + one tiny
    aggregate; bucket count is log2(max doc length) ~ 25 rows even
    for book-length documents."""
    docs = read_table(spark, sf_dir, "documents")
    n = docs.select(F.size(tokens("text")).cast("long").alias("n_tokens"))
    bin_lo = F.expr(
        "CAST(shiftleft(CAST(1 AS BIGINT), "
        "CAST(length(bin(n_tokens)) - 1 AS INT)) AS BIGINT)"
    )
    return n.groupBy(bin_lo.alias("bin_lo")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


@register(
    "q_l_diversity",
    """
    WITH classes AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
             count(*) AS k,
             count(DISTINCT c_mktsegment) AS l
      FROM customer GROUP BY 1, 2
    )
    SELECT l,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(k) AS BIGINT) AS n_rows,
           l < 3 AS at_risk
    FROM classes GROUP BY l
    """,
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — k-anonymity's necessary complement: a QI
    class can be large (k-safe) yet leak the sensitive attribute if
    every member shares one value. Here QI = (nation, balance band),
    sensitive = market segment; classes with l < 3 distinct segments
    are homogeneity-attack risks. One aggregate computes k and l
    together (count + count-distinct over the same grouping — Spark
    plans the distinct as an Expand, still a single shuffle family),
    then a ~tens-of-rows histogram. Same scale posture as
    q_k_anonymity: cost is one shuffle of |classes| rows."""
    cust = read_table(spark, sf_dir, "customer")
    classes = cust.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_band"),
    ).agg(
        F.count("*").alias("k"),
        F.countDistinct("c_mktsegment").alias("l"),
    )
    return classes.groupBy("l").agg(
        F.count("*").cast("long").alias("n_classes"),
        F.sum("k").cast("long").alias("n_rows"),
    ).select("l", "n_classes", "n_rows", (F.col("l") < 3).alias("at_risk"))


@register(
    "q_streaming_cusum",
    f"""
    WITH v AS (
      SELECT event_id, user_id, ts,
             {_SQL_VALUE_MICRO} - 120000000 AS dev
      FROM events
    ),
    c AS (
      SELECT event_id, user_id, ts,
             sum(dev) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum
      FROM v
    ),
    s AS (
      SELECT event_id, user_id, ts,
             cum - least(0, min(cum) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             )) AS cusum_micro
      FROM c
    )
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           cusum_micro
    FROM s WHERE cusum_micro > 400000000
    """,
)
def q_streaming_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming form of q_cusum_drift: the CUSUM alarm ledger
    maintained incrementally by a custom stateful operator
    (applyInPandasWithState, streaming/stateful.py:streaming_cusum)
    with 16 bytes of state per user. FULL oracle — integer
    micro-unit arithmetic makes the streamed alarms bit-identical to
    the batch window computation, so the SQL twin of the batch query
    replays the stream's output exactly. This is the monitoring shape
    that cannot wait for a batch job: the alarm fires in the
    micro-batch where the drift crosses h."""
    import tempfile

    from breweries_data_pipeline_spark.streaming import (
        read_events_stream,
        streaming_cusum,
    )

    sdf = read_events_stream(spark, sf_dir)
    __ck = tempfile.mkdtemp(prefix="bdp_scusum_")
    from breweries_data_pipeline_spark.streaming import state_partitions
    # small-state drain: cost is per-partition checkpoint I/O,
    # not data (see state_partitions)
    with state_partitions(spark, 8):
        q = (
            streaming_cusum(sdf)
            .writeStream.format("memory")
            .queryName("q_streaming_cusum")
            .outputMode("append")
            .option("checkpointLocation", __ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        _drop_scratch(__ck)
    return spark.table("q_streaming_cusum").select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "cusum_micro",
    )


@register(
    "q_ams_f2",
    r"""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
      FROM documents
    ),
    words AS (
      SELECT ('0x' || substr(md5(w || ':ams'), 1, 4))::BIGINT AS x
      FROM toks
    ),
    rs AS (SELECT unnest(range(0, 16)) AS r),
    lanes AS (
      SELECT rs.r, sum(((x >> CAST(rs.r AS INTEGER)) & 1) * 2 - 1) AS z
      FROM words CROSS JOIN rs GROUP BY rs.r
    ),
    est AS (
      SELECT CAST(sum(CAST(z AS HUGEINT) * z) // 16 AS BIGINT) AS f2_est
      FROM lanes
    ),
    exact AS (
      SELECT CAST(sum(CAST(c AS HUGEINT) * c) AS BIGINT) AS f2_exact
      FROM (SELECT w, count(*) AS c FROM toks GROUP BY w)
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens FROM toks)
    SELECT t.n_tokens, x.f2_exact, e.f2_est,
           abs(e.f2_est - x.f2_exact) * 1000000 // x.f2_exact AS err_ppm
    FROM tot t, exact x, est e
    """,
)
def q_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second-frequency-moment (F2) sketch vs exact — F2 = sum of
    squared token frequencies is the repeat-rate moment that predicts
    exact-dedup shrinkage, self-join candidate volume, and shuffle
    skew, and the sketch prices it in ONE narrow pass with 16 longs
    of mergeable state (lane-wise ±1 md5 signs, lower-median of
    squared lane sums) where the exact computation needs a full
    per-key shuffle. Estimate and exact are computed side by side
    with the deviation in ppm — the estimate is deterministic (md5
    lanes), so this is a full-oracle row, not a bounds assertion.
    Squares accumulate in decimal: Z is bounded by the stream length,
    so Z^2 overflows a long at ~3e9 tokens — real corpus scale."""
    from breweries_data_pipeline_spark.operators.sketch import ams_f2_sketch

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens("text")).alias("w"))
    lanes = ams_f2_sketch(toks, "w", lanes=16, salt="ams")
    dec = "decimal(38,0)"
    sq_sum = F.sum((F.col("z") * F.col("z")).cast(dec))
    est = lanes.agg(
        ((sq_sum - (sq_sum % 16)) / 16).cast("long").alias("f2_est")
    )
    exact = (
        toks.groupBy("w")
        .agg(F.count("*").alias("c"))
        .agg(
            F.sum(F.lit(1)).alias("_"),
            F.sum((F.col("c").cast(dec) * F.col("c"))).cast("long").alias(
                "f2_exact"
            ),
        )
        .select("f2_exact")
    )
    n = toks.agg(F.count("*").cast("long").alias("n_tokens"))
    return (
        n.crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(est))
        .select(
            "n_tokens",
            "f2_exact",
            "f2_est",
            _long_div(
                F.abs(F.col("f2_est") - F.col("f2_exact")) * 1000000,
                F.col("f2_exact"),
            ).alias("err_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# round 6c: sparse-vector cosine join, degree assortativity
# ---------------------------------------------------------------------------


@register(
    "q_sparse_cosine",
    r"""
    WITH tf AS (
      SELECT doc_id, term, count(*) AS tf FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        FROM documents
      ) GROUP BY 1, 2
    ),
    kept_terms AS (
      SELECT term FROM tf GROUP BY term
      HAVING count(*) BETWEEN 2 AND 50
    ),
    p AS (SELECT tf.* FROM tf JOIN kept_terms USING (term)),
    norms AS (SELECT doc_id, sum(tf * tf) AS n2 FROM p GROUP BY doc_id),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             sum(a.tf * b.tf) AS dot
      FROM p a JOIN p b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d.doc_a, d.doc_b,
           CAST(d.dot AS BIGINT) AS dot,
           CAST(d.dot * d.dot * 1000000 // (na.n2 * nb.n2) AS BIGINT)
             AS cosine_sq_ppm
    FROM dots d
    JOIN norms na ON na.doc_id = d.doc_a
    JOIN norms nb ON nb.doc_id = d.doc_b
    WHERE d.dot * d.dot * 1000000 // (na.n2 * nb.n2) >= 250000
    ORDER BY cosine_sq_ppm DESC, doc_a, doc_b LIMIT 50
    """,
)
def q_sparse_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-vector (tf-weighted) cosine similarity join over an
    inverted index — the third similarity modality next to set
    Jaccard (q_similarity_join_exact) and dense embeddings
    (q_dedup_embedding): document pairs whose term-frequency vectors
    have cos^2 >= 0.5, computed EXACTLY in integer arithmetic
    (dot^2 * 1e6 // (|a|^2 |b|^2) — no sqrt, no floats). The index is
    pruned to mid-frequency terms (2 <= df <= 50) before the
    posting-list self-join, which (a) removes ubiquitous terms that
    carry no discriminative signal and would dominate the join
    fan-out, and (b) caps per-term pair generation at df^2/2 — the
    same bounded-blocking non-negotiable as the LSH families: at
    100 TB the join volume is sum over kept terms of df^2, controlled
    by the df cap, never corpus^2. Norms are computed in the SAME
    pruned space, so the metric is internally consistent."""
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    kept = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= 50))
        .select("term")
    )
    p = tf.join(F.broadcast(kept), "term")
    norms = p.groupBy("doc_id").agg(F.sum(F.col("tf") * F.col("tf")).alias("n2"))
    a = p.alias("a")
    b = p.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.sum(F.col("a.tf") * F.col("b.tf")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2"))
    cos2 = _long_div(
        F.col("dot").cast("decimal(38,0)") * F.col("dot") * 1000000,
        (F.col("na2").cast("decimal(38,0)") * F.col("nb2")),
    )
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("dot").cast("long").alias("dot"),
            cos2.alias("cosine_sq_ppm"),
        )
        .where(F.col("cosine_sq_ppm") >= 250000)
        .orderBy(F.desc("cosine_sq_ppm"), "doc_a", "doc_b")
        .limit(50)
    )


@register(
    "q_degree_assortativity",
    """
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
      JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
      SELECT node, count(*) AS d FROM (
        SELECT src AS node FROM e UNION ALL SELECT dst FROM e
      ) GROUP BY node
    ),
    pairs AS (
      SELECT da.d AS x, db.d AS y FROM e
      JOIN deg da ON da.node = e.src
      JOIN deg db ON db.node = e.dst
    ),
    both_dirs AS (
      SELECT x, y FROM pairs UNION ALL SELECT y AS x, x AS y FROM pairs
    ),
    sums AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(CAST(sum(x) AS HUGEINT) AS DOUBLE) AS sx,
             CAST(CAST(sum(y) AS HUGEINT) AS DOUBLE) AS sy,
             CAST(CAST(sum(x * x) AS HUGEINT) AS DOUBLE) AS sxx,
             CAST(CAST(sum(y * y) AS HUGEINT) AS DOUBLE) AS syy,
             CAST(CAST(sum(x * y) AS HUGEINT) AS DOUBLE) AS sxy
      FROM both_dirs
    )
    SELECT CAST(n AS BIGINT) AS n_endpoints,
           (n * sxy - sx * sy)
             / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
             AS assortativity
    FROM sums
    """,
)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the part co-purchase graph — Newman's
    mixing coefficient (Pearson correlation of endpoint degrees over
    edges, both directions so the statistic is orientation-free):
    positive = hubs link to hubs (dense-core risk for partition-local
    graph algorithms), negative = hub-and-spoke. Deterministic-float
    discipline as q_corr_stats: exact decimal moment sums + one
    fixed-order IEEE expression. Plan: edges from the bounded
    basket self-join; degrees one hash aggregate; two broadcast-scale
    joins pin degrees onto edges; a single six-long partial+final
    aggregate finishes — no window, no driver loop."""
    li = read_table(spark, sf_dir, "lineitem")
    bk = li.select("l_orderkey", "l_partkey").distinct()
    a = bk.alias("a")
    b = bk.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .distinct()
    )
    deg = (
        e.select(F.col("src").alias("node"))
        .unionAll(e.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    da = deg.select(F.col("node").alias("src"), F.col("d").alias("x"))
    db = deg.select(F.col("node").alias("dst"), F.col("d").alias("y"))
    pairs = e.join(da, "src").join(db, "dst").select("x", "y")
    both = pairs.unionAll(pairs.select(F.col("y").alias("x"), F.col("x").alias("y")))
    dec = "decimal(38,0)"
    sums = both.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).cast("double").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).cast("double").alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return sums.select(
        n.cast("long").alias("n_endpoints"), corr.alias("assortativity")
    )


@register(
    "q_quantile_normalize",
    """
    WITH s AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (
               PARTITION BY source ORDER BY n_chars, doc_id
             ) AS rnk,
             count(*) OVER (PARTITION BY source) AS n
      FROM documents
    )
    SELECT doc_id, source,
           CAST(n_chars AS BIGINT) AS raw_score,
           CAST(CASE WHEN n > 1
                     THEN (rnk - 1) * 1000000 // (n - 1)
                     ELSE 500000 END AS BIGINT) AS quantile_ppm
    FROM s
    """,
)
def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile normalization of a raw quality score
    (n_chars stands in) — the calibration step that makes one
    threshold mean the same thing across sources whose raw score
    distributions differ (a 'keep top 40%' policy needs ranks, not
    raw values). quantile_ppm = (rank-1)/(n-1) in exact integer ppm
    with a doc_id tie-break, so the mapping is deterministic and
    engine-portable; single-member groups pin to the median. The
    per-source rank is the bucket-offset two-pass scheme
    (operators.windows.bucketed_row_number, n_chars DIV 64 as the
    order-respecting value bucket), so a skewed mega-source ranks at
    source x bucket parallelism instead of one task per source; the
    group count rides along from the offsets table — no second
    window."""
    from breweries_data_pipeline_spark.operators.windows import (
        bucketed_row_number,
    )

    docs = read_table(spark, sf_dir, "documents")
    ranked = bucketed_row_number(
        docs.select("doc_id", "source", "n_chars"),
        ["source"],
        [F.col("n_chars"), F.col("doc_id")],
        F.expr("n_chars DIV 64"),
        rank_name="__rnk",
        total_name="__n",
    )
    return ranked.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("raw_score"),
        F.when(
            F.col("__n") > 1,
            _long_div(
                (F.col("__rnk") - 1) * 1000000, F.col("__n") - 1
            ),
        )
        .otherwise(F.lit(500000).cast("long"))
        .alias("quantile_ppm"),
    )


@register(
    "q_burstiness",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS x
      FROM events GROUP BY 1, 2
    ),
    sums AS (
      SELECT event_type,
             count(*) AS n,
             sum(x) AS sx,
             sum(x * x) AS sxx
      FROM hourly GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_hours,
           CAST(sx AS BIGINT) AS n_events,
           CAST((n * sxx - sx * sx) * 1000000 // (n * sx) AS BIGINT)
             AS fano_ppm
    FROM sums
    """,
)
def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic burstiness per event type: the Fano factor
    (variance-to-mean ratio of hourly counts) in exact integer ppm —
    1e6 = Poisson-like arrivals, far above = bursty (thundering
    herds, retry storms), far below = rate-limited/metronomic. The
    variance is the exact integer identity (n*sxx - sx^2)/(n^2) over
    the hourly count series, folded with the mean sx/n into ONE
    integer expression (n*sxx - sx^2)*1e6 // (n*sx) so no float or
    intermediate division appears at all. Two hash aggregates; the
    first partial-aggregates map-side to one long per (partition,
    type, hour)."""
    ev = read_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").alias("x"))
    sums = hourly.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
    )
    dec = "decimal(38,0)"
    fano = _long_div(
        (
            F.col("n").cast(dec) * F.col("sxx")
            - F.col("sx").cast(dec) * F.col("sx")
        )
        * 1000000,
        F.col("n").cast(dec) * F.col("sx"),
    )
    return sums.select(
        "event_type",
        F.col("n").cast("long").alias("n_hours"),
        F.col("sx").cast("long").alias("n_events"),
        fano.alias("fano_ppm"),
    )


@register(
    "q_audio_energy",
    """
    WITH m AS (
      SELECT doc_id AS media_id,
             4000 + (doc_id % 37) * 160 AS n,
             (doc_id * 2654435761) % 4294967296 AS seed
      FROM documents
    ),
    s AS (
      SELECT media_id, CAST(t.i AS BIGINT) // 400 AS frame,
             (((seed + CAST(t.i AS BIGINT) * 40503) >> 3) & 255) - 128 AS v
      FROM m, unnest(generate_series(0, n - 1)) AS t(i)
    )
    SELECT media_id,
           frame,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(v * v) AS BIGINT) AS energy
    FROM s GROUP BY media_id, frame
    """,
)
def q_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-modality feature extraction: per-25ms-frame signal energy
    over fake PCM blobs (operators/multimodal.py:frame_energy) — the
    voice-activity-detection / silence-trim primitive an audio
    pipeline runs before transcription, with the same Spark shape as
    a real one: binary column in, typed (media_id, frame, energy)
    rows out, one narrow Arrow pass, blobs never leave the
    executors. Energy is the exact integer sum of squared
    zero-centered samples, so the DuckDB oracle regenerates the
    waveform from id arithmetic and replays every frame bit-for-bit
    (the same FULL-oracle discipline as the image stripe features)."""
    from breweries_data_pipeline_spark.operators.multimodal import (
        audio_from_ids,
        frame_energy,
    )

    docs = read_table(spark, sf_dir, "documents")
    return frame_energy(audio_from_ids(docs)).select(
        "media_id", "frame", "n_samples", "energy"
    )


# ---------------------------------------------------------------------------
# round 6c: attribution, replica checksums, moving median
# ---------------------------------------------------------------------------


@register(
    "q_attribution_linear",
    f"""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id, ts AS p_ts,
             {_SQL_VALUE_MICRO} AS value_micro
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT event_id AS click_id, user_id, ts AS c_ts
      FROM events WHERE event_type = 'click'
    ),
    touches AS (
      SELECT p.purchase_id, p.user_id, p.value_micro, c.click_id,
             row_number() OVER (
               PARTITION BY p.purchase_id ORDER BY c.c_ts, c.click_id
             ) AS touch_rank,
             count(*) OVER (PARTITION BY p.purchase_id) AS n_touches
      FROM p JOIN c
        ON c.user_id = p.user_id
       AND c.c_ts <= p.p_ts
       AND c.c_ts > p.p_ts - INTERVAL 7 DAY
    )
    SELECT purchase_id, click_id, user_id,
           CAST(touch_rank AS BIGINT) AS touch_rank,
           CAST(value_micro // n_touches
                + CASE WHEN touch_rank = 1
                       THEN value_micro % n_touches ELSE 0 END
             AS BIGINT) AS credit_micro
    FROM touches
    """,
)
def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (equal-credit) marketing attribution: every purchase's
    value split across the user's clicks in the preceding 7 days,
    integer-exactly — each touch gets value//n and the FIRST touch
    absorbs the remainder, so credits sum to the purchase value
    bit-for-bit (the invariant finance reconciliation checks). The
    touch join is a per-user interval join (equi on user_id + range
    on ts), so AQE/range-partitioning handles it like q_range_join —
    fan-out is clicks-per-user-per-week, never global. One window
    pass ranks touches inside each purchase's attribution set."""
    ev = read_table(spark, sf_dir, "events")
    v = F.round(F.col("value") * 1000000).cast("long")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        v.alias("value_micro"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    touches = p.join(
        c,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 7 DAY")),
    )
    w = Window.partitionBy("purchase_id").orderBy("c_ts", "click_id")
    wn = Window.partitionBy("purchase_id")
    staged = touches.select(
        "purchase_id",
        "click_id",
        "user_id",
        "value_micro",
        F.row_number().over(w).alias("touch_rank"),
        F.count("*").over(wn).alias("n_touches"),
    )
    base = F.expr("value_micro div n_touches")
    rem = F.col("value_micro") % F.col("n_touches")
    return staged.select(
        "purchase_id",
        "click_id",
        "user_id",
        F.col("touch_rank").cast("long").alias("touch_rank"),
        (base + F.when(F.col("touch_rank") == 1, rem).otherwise(F.lit(0)))
        .cast("long")
        .alias("credit_micro"),
    )


@register(
    "q_table_checksum",
    """
    SELECT 'orders' AS table_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(('0x' || substr(md5(
                  o_orderkey || '|' || o_custkey || '|' || o_orderstatus
                  || '|' || CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                            AS VARCHAR)
                ), 1, 15))::BIGINT AS HUGEINT))
                % 2305843009213693951 AS BIGINT)
             AS checksum
    FROM orders
    """,
)
def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table checksum — the replica/migration
    integrity audit: canonicalize each row to a string, md5 it, parse
    60 bits, and SUM modulo a Mersenne prime. Addition commutes, so
    the checksum is independent of row order, partitioning, and
    engine — two replicas match iff (modulo 2^-60 collisions
    per differing row) their contents match, and the check costs ONE
    narrow scan + map-side-combined aggregate per replica, no
    row-level comparison join. The money column is canonicalized to
    integer cents BEFORE hashing (float formatting differs across
    engines; integers don't). Sum accumulates in decimal: 1e12 rows
    x 2^60 summands overflow a long immediately."""
    o = read_table(spark, sf_dir, "orders")
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
    )
    h = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("decimal(38,0)")
    return o.agg(
        F.lit("orders").alias("table_name"),
        F.count("*").cast("long").alias("n_rows"),
        (F.sum(h) % F.lit(2305843009213693951).cast("decimal(38,0)"))
        .cast("long")
        .alias("checksum"),
    )


@register(
    "q_moving_median",
    """
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day, count(*) AS x
      FROM events GROUP BY 1
    ),
    framed AS (
      SELECT day, x,
             list(x) OVER (
               ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
             ) AS win
      FROM daily
    )
    SELECT strftime(day, '%Y-%m-%d') AS day_s,
           CAST(x AS BIGINT) AS x,
           CAST(list_sort(win)[(len(win) + 1) // 2] AS BIGINT)
             AS median7
    FROM framed
    """,
)
def q_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving MEDIAN of daily event counts — the robust
    smoother for volume monitoring (a moving mean chases the very
    spikes you want to flag; the median ignores them). The frame is
    7 rows, so the exact median is affordable as sort-of-7 per row:
    collect the ROWS frame, sort, take the lower middle ((m+1)//2,
    1-based) — deterministic for every frame length including the
    warm-up rows, no interpolation, no floats. The daily series is
    one row per day, so the global-ordered window is microscopic
    next to the count aggregate that feeds it (same argument as
    q_autocorr_daily)."""
    ev = read_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count("*").alias("x")
    )
    w = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    win = F.collect_list("x").over(w)
    med = F.element_at(
        F.sort_array(win), ((F.size(win) + 1) / 2).cast("int")
    )
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day_s"),
        F.col("x").cast("long").alias("x"),
        med.cast("long").alias("median7"),
    )


@register(
    "q_neardup_incremental",
    f"""
    WITH sh AS (SELECT doc_id, list_distinct({_SQL_SHINGLES}) AS s FROM documents),
    b AS (SELECT * FROM sh WHERE doc_id % 5 = 0),
    h AS (SELECT * FROM sh WHERE doc_id % 5 <> 0),
    p AS (
      SELECT b.doc_id AS bid, h.doc_id AS hid,
             (CAST(len(list_intersect(b.s, h.s)) AS BIGINT) * 1000000)
               // (CAST(len(b.s) AS BIGINT) + CAST(len(h.s) AS BIGINT)
                   - CAST(len(list_intersect(b.s, h.s)) AS BIGINT)) AS ppm
      FROM b, h
    ),
    m AS (
      SELECT bid, hid, ppm,
             row_number() OVER (PARTITION BY bid ORDER BY ppm DESC, hid) AS rk,
             count(*) OVER (PARTITION BY bid) AS n
      FROM p WHERE ppm >= 500000
    )
    SELECT b.doc_id,
           CAST(coalesce(m.n, 0) AS BIGINT) AS n_dups,
           CAST(m.hid AS BIGINT) AS best_match_id,
           CAST(m.ppm AS BIGINT) AS best_jaccard_ppm
    FROM b LEFT JOIN m ON m.bid = b.doc_id AND m.rk = 1
    """,
)
def q_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 incremental near-dup: the daily-ingest shape — a new batch
    (every 5th doc) annotated with its exact-Jaccard (>= 0.5)
    near-duplicates in the already-ingested corpus, via the bipartite
    AllPairs/PPJoin prefix filter (operators.dedup.
    near_dedup_incremental). EXACT threshold semantics — the oracle
    is brute-force all-pairs — while the Spark plan only ever joins
    on rarest-first prefix shingles (no crossJoin, no LSH recall
    loss). The history prefix table is the persistable index at real
    scale; see the operator docstring for the staleness argument."""
    docs = read_table(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 5 == 0)
    history = docs.where(F.col("doc_id") % 5 != 0)
    return near_dedup_incremental(batch, history, threshold=0.5)


@register(
    "q_neardup_index",
    f"""
    WITH sh AS (SELECT doc_id, list_distinct({_SQL_SHINGLES}) AS s FROM documents),
    b AS (SELECT * FROM sh WHERE doc_id % 5 = 0),
    h AS (SELECT * FROM sh WHERE doc_id % 5 <> 0),
    p AS (
      SELECT b.doc_id AS bid, h.doc_id AS hid,
             (CAST(len(list_intersect(b.s, h.s)) AS BIGINT) * 1000000)
               // (CAST(len(b.s) AS BIGINT) + CAST(len(h.s) AS BIGINT)
                   - CAST(len(list_intersect(b.s, h.s)) AS BIGINT)) AS ppm
      FROM b, h
    ),
    m AS (
      SELECT bid, hid, ppm,
             row_number() OVER (PARTITION BY bid ORDER BY ppm DESC, hid) AS rk,
             count(*) OVER (PARTITION BY bid) AS n
      FROM p WHERE ppm >= 500000
    )
    SELECT b.doc_id,
           CAST(coalesce(m.n, 0) AS BIGINT) AS n_dups,
           CAST(m.hid AS BIGINT) AS best_match_id,
           CAST(m.ppm AS BIGINT) AS best_jaccard_ppm
    FROM b LEFT JOIN m ON m.bid = b.doc_id AND m.rk = 1
    """,
)
def q_neardup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7 persisted-index near-dup: identical semantics (and oracle)
    to q_neardup_incremental, but the history index round-trips
    through BUCKETED catalog tables before the daily join — the
    production layout where the corpus prefix/sets/freq tables scan
    with no exchange and no sort on their side; the only shuffles per
    ingest are the (small) new batch's. The corpus-side shuffle is
    paid once at index-build, amortized over every daily run
    (tests/test_dedup.py plan-asserts the exchange-free corpus side).
    The index holds xxhash64 shingle fingerprints, its one form, so
    every table and join moves 8-byte longs. Timing this query
    therefore measures build + bucketed write + read-back + join: the
    true daily-ingest cost, not just the join. The index tables are
    scratch, named per session (``_session_table_prefix``):
    release_caches() drops them once the result is materialised.
    q_neardup_index_fp is the same cycle with collapse_exact on both
    sides."""
    from breweries_data_pipeline_spark.operators.dedup import (
        build_shingle_index,
        near_dedup_against_index,
        read_shingle_index_bucketed,
        write_shingle_index_bucketed,
    )

    docs = read_table(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 5 == 0)
    history = docs.where(F.col("doc_id") % 5 != 0)
    tbl = _session_table_prefix(spark, "t_q_neardup_index")
    for t in write_shingle_index_bucketed(
        build_shingle_index(history, threshold=0.5), tbl
    ):
        _track_table(spark, t)
    return near_dedup_against_index(
        batch, read_shingle_index_bucketed(spark, tbl), threshold=0.5
    )


@register(
    "q_png_decode",
    """
    SELECT doc_id AS media_id,
           CAST(8 + doc_id % 9 AS BIGINT) AS width,
           CAST(8 + doc_id % 7 AS BIGINT) AS height,
           CAST(1 + doc_id % 3 AS BIGINT) AS channels,
           CAST((8 + doc_id % 9) * (8 + doc_id % 7) * (1 + doc_id % 3)
                * (doc_id % 251) AS BIGINT) AS pixel_sum
    FROM documents
    """,
)
def q_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal REAL-codec round-trip: genuine zlib-compressed PNG
    blobs born executor-side (operators.multimodal.png_media_from_ids)
    and fully decoded back — header, inflate, scanline unfilter, pixel
    sum — via decode_real_image (PIL when present, the dependency-free
    stdlib PNG decoder otherwise). Dimensions and pixel bytes derive
    from the id, so the ENTIRE decode path is value-hash-oracled in
    closed form; only 5 longs per image ever cross an exchange. The
    plumbing twin q_multimodal_decode covers the fake codec; this one
    proves the real-bytes path end-to-end."""
    from breweries_data_pipeline_spark.operators.multimodal import (
        decode_png_pixels,
        png_media_from_ids,
    )

    docs = read_table(spark, sf_dir, "documents")
    return decode_png_pixels(png_media_from_ids(docs))


def _bpe_learn_parts(n_merges: int) -> list[str]:
    """Shared CTE parts for the BPE learning rounds — round r counts
    adjacent pairs over the round-r word strings, takes the argmax
    (cnt desc, lhs, rhs), and applies it with the SAME literal
    double-space replace the Spark operator uses (see
    operators.text.bpe_learn_merges for why replace() IS greedy BPE
    application). Generated, not handwritten, so the round count stays
    in one place; used by both the q_bpe_learn and q_bpe_encode
    oracles."""
    parts = [
        """
    w0 AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             '  ' || array_to_string(string_split(w, ''), '  ') || '  ' AS s
      FROM (
        SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        FROM documents
      ) GROUP BY w
    )"""
    ]
    for r in range(n_merges):
        parts.append(f"""
    p{r} AS (
      SELECT arr[i] AS a, arr[i + 1] AS b, CAST(sum(n) AS BIGINT) AS cnt
      FROM (SELECT n, regexp_split_to_array(trim(s), ' +') AS arr FROM w{r}),
           unnest(CASE WHEN len(arr) >= 2
                       THEN generate_series(1, len(arr) - 1)
                       ELSE CAST([] AS BIGINT[]) END) AS u(i)
      GROUP BY 1, 2
    ),
    m{r} AS (SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1)""")
        if r + 1 < n_merges:
            parts.append(f"""
    w{r + 1} AS (
      SELECT n,
             replace(s, ' ' || m.a || '  ' || m.b || ' ',
                        ' ' || m.a || m.b || ' ') AS s
      FROM w{r}, m{r} m
    )""")
    return parts


def _bpe_oracle_sql(n_merges: int) -> str:
    """Unrolled DuckDB oracle for :func:`q_bpe_learn` (see
    :func:`_bpe_learn_parts`)."""
    union = "\n    UNION ALL ".join(
        f"SELECT {r} AS merge_rank, a AS lhs, b AS rhs, cnt AS pair_count FROM m{r}"
        for r in range(n_merges)
    )
    return "WITH " + ",".join(_bpe_learn_parts(n_merges)) + "\n    " + union


def _bpe_encode_oracle_sql(n_merges: int) -> str:
    """Unrolled DuckDB oracle for :func:`q_bpe_encode`: learn the
    merges with the shared CTEs, then apply them to the distinct
    vocabulary (the same chained double-space replaces) and take the
    per-language frequency-weighted subtoken sum."""
    parts = list(_bpe_learn_parts(n_merges))
    parts.append("""
    dw AS (
      SELECT lang,
             unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
      FROM documents
    ),
    lw AS (
      SELECT lang, w, CAST(count(*) AS BIGINT) AS n
      FROM dw GROUP BY lang, w
    ),
    v0 AS (
      SELECT DISTINCT w,
             '  ' || array_to_string(string_split(w, ''), '  ') || '  ' AS s
      FROM dw
    )""")
    for r in range(n_merges):
        parts.append(f"""
    v{r + 1} AS (
      SELECT w,
             replace(s, ' ' || m.a || '  ' || m.b || ' ',
                        ' ' || m.a || m.b || ' ') AS s
      FROM v{r}, m{r} m
    )""")
    parts.append(f"""
    enc AS (
      SELECT w,
             CAST(len(regexp_split_to_array(trim(s), ' +')) AS BIGINT) AS n_sub
      FROM v{n_merges}
    )""")
    return (
        "WITH "
        + ",".join(parts)
        + """
    SELECT lang,
           CAST(sum(n * n_sub) AS BIGINT) AS bpe_tokens,
           CAST(sum(n) AS BIGINT) AS words,
           (CAST(sum(n * n_sub) AS BIGINT) * 1000000)
             // CAST(sum(n) AS BIGINT) AS fertility_ppm
    FROM lw JOIN enc USING (w)
    GROUP BY lang
    ORDER BY lang"""
    )


@register("q_bpe_learn", _bpe_oracle_sql(4))
def q_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING: learn the first 4 merges over the
    corpus — the iterative loop q_bpe_pair_counts is one round of
    (operators.text.bpe_learn_merges). Each round aggregates adjacent
    pairs over the VOCABULARY (word-frequency table, not the corpus),
    promotes the argmax deterministically (count desc, then
    lexicographic), and applies it as a literal double-space
    replace() — non-overlapping left-to-right replacement is exactly
    greedy BPE application, identical in Spark and DuckDB, so all
    four rounds oracle bit-for-bit."""
    from breweries_data_pipeline_spark.operators.text import bpe_learn_merges

    docs = read_table(spark, sf_dir, "documents")
    return bpe_learn_merges(docs, "text", n_merges=4)


@register("q_bpe_encode", _bpe_encode_oracle_sql(4))
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer INFERENCE: apply the 4 learned merges
    (q_bpe_learn's loop) to the corpus and report post-merge fertility
    (BPE tokens per word) per language in exact integer ppm — the
    other half of the tokenizer lifecycle, and the metric a tokenizer
    eval reads (q_tokenizer_fertility is the pre-merge regex proxy).
    Encoding runs on the per-(lang, word) frequency table, never the
    raw corpus: one explode + aggregate pass, a vocab-sized join, and
    a weighted per-lang sum (operators.text.bpe_encode_fertility)."""
    from breweries_data_pipeline_spark.operators.text import (
        bpe_encode_fertility,
    )

    docs = read_table(spark, sf_dir, "documents")
    return bpe_encode_fertility(docs, "text", "lang", n_merges=4)


@register(
    "q_drift_tv",
    """
    WITH bounds AS (
      SELECT CAST(min(epoch_us(ts)) AS BIGINT) AS t0,
             CAST(max(epoch_us(ts)) AS BIGINT) AS t1
      FROM events
    ),
    cells AS (
      SELECT event_type,
             CAST(sum(CASE WHEN 2 * epoch_us(ts) <= t0 + t1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_first,
             CAST(sum(CASE WHEN 2 * epoch_us(ts) <= t0 + t1 THEN 0 ELSE 1 END)
                  AS BIGINT) AS n_second
      FROM events, bounds
      GROUP BY event_type
    ),
    tot AS (
      SELECT CAST(sum(n_first) AS BIGINT) AS ta,
             CAST(sum(n_second) AS BIGINT) AS tb
      FROM cells
    )
    SELECT event_type,
           n_first,
           n_second,
           (n_first * 1000000) // ta AS share_first_ppm,
           (n_second * 1000000) // tb AS share_second_ppm,
           abs((n_first * 1000000) // ta
               - (n_second * 1000000) // tb) AS abs_delta_ppm
    FROM cells, tot
    ORDER BY event_type
    """,
)
def q_drift_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical distribution drift between the first and second
    half of the event stream's time range, per event type, in exact
    integer ppm — the total-variation drift monitor a training
    pipeline runs over feed composition (TV distance = sum of
    abs_delta_ppm / 2); the categorical complement of the numeric
    two-sample KS test (q_ks_test). All arithmetic is integer floor
    division on counts, so it hash-matches across engines — no libm
    KL/PSI logs. Plan: one scan, one hash aggregate on event_type,
    two one-row scalar attaches (time bounds, totals) — map-side
    combined, no shuffle of raw events beyond the type aggregate."""
    events = read_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    bounds = events.agg(
        F.min(us).alias("t0"), F.max(us).alias("t1")
    )
    first = (F.lit(2) * us <= F.col("t0") + F.col("t1")).cast("long")
    cells = (
        events.crossJoin(F.broadcast(bounds))
        .groupBy("event_type")
        .agg(
            F.sum(first).alias("n_first"),
            F.sum(F.lit(1) - first).alias("n_second"),
        )
    )
    tot = cells.agg(
        F.sum("n_first").alias("ta"), F.sum("n_second").alias("tb")
    )
    share_a = F.expr("n_first * 1000000 div ta")
    share_b = F.expr("n_second * 1000000 div tb")
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "n_first",
            "n_second",
            share_a.alias("share_first_ppm"),
            share_b.alias("share_second_ppm"),
            F.abs(share_a - share_b).alias("abs_delta_ppm"),
        )
        .orderBy("event_type")
    )


@register(
    "q_ngram_novelty",
    f"""
    WITH dg AS (
      SELECT DISTINCT doc_id, unnest({_sql_shingles(5)}) AS g
      FROM documents WHERE n_chars > 0
    ),
    first_seen AS (SELECT g, min(doc_id) AS first_doc FROM dg GROUP BY g)
    SELECT d.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN f.first_doc = d.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS novel_grams,
           (CAST(sum(CASE WHEN f.first_doc = d.doc_id THEN 1 ELSE 0 END)
                 AS BIGINT) * 1000000) // count(*) AS novelty_ppm
    FROM dg d JOIN first_seen f USING (g)
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the share of a doc's distinct
    5-grams whose FIRST occurrence (min doc_id over the corpus) is
    this doc — the diversity/curriculum signal that separates docs
    contributing new text from docs rehashing earlier ones (the
    document-level view of the corpus-level repeated-ngrams stats).
    Exact integer ppm. Plan: one explode + distinct on (doc, gram),
    a gram-keyed min aggregate (map-side combined), and a gram-keyed
    equi-join back — two shuffles on the gram key, raw text never
    shuffles; the same skew note as the substring-dedup family
    applies (boilerplate grams are the hot keys, collapsed map-side
    by the distinct/min aggregates before the join)."""
    docs = read_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    dg = docs.select(
        "doc_id", F.explode(F.array_distinct(shingles("text", 5))).alias("g")
    )
    first_seen = dg.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    novel = (F.col("first_doc") == F.col("doc_id")).cast("long")
    return (
        dg.join(first_seen, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(novel).alias("novel_grams"),
        )
        .select(
            "doc_id",
            "n_grams",
            "novel_grams",
            F.expr("novel_grams * 1000000 div n_grams").alias("novelty_ppm"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_table_diff",
    """
    WITH va AS (
      SELECT o_orderkey AS k,
             md5(concat_ws('|', o_orderstatus, CAST(o_totalprice AS VARCHAR),
                           o_orderpriority)) AS h
      FROM orders WHERE o_orderkey % 3 != 0
    ),
    vb AS (
      SELECT o_orderkey AS k,
             md5(concat_ws('|',
                           CASE WHEN o_orderkey % 5 = 0 THEN 'P'
                                ELSE o_orderstatus END,
                           CAST(o_totalprice AS VARCHAR),
                           o_orderpriority)) AS h
      FROM orders WHERE o_orderkey % 4 != 0
    )
    SELECT
      CASE WHEN va.k IS NULL THEN 'added'
           WHEN vb.k IS NULL THEN 'removed'
           ELSE 'changed' END AS status,
      CAST(count(*) AS BIGINT) AS n_keys,
      CAST(min(coalesce(va.k, vb.k)) AS BIGINT) AS min_key,
      CAST(max(coalesce(va.k, vb.k)) AS BIGINT) AS max_key
    FROM va FULL OUTER JOIN vb ON va.k = vb.k
    WHERE va.k IS NULL OR vb.k IS NULL OR va.h != vb.h
    GROUP BY 1
    ORDER BY status
    """,
)
def q_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the table-version comparison a lakehouse runs
    to validate a CDC merge or audit what a pipeline rewrite changed:
    per-key status (added / removed / changed) between two versions of
    a table, summarized. Versions are synthesized deterministically
    from orders (version A drops keys %3=0; version B drops %4=0 and
    flips status on %5=0), so the diff exercises all three statuses.
    Row identity compares via md5 of a canonical column concat — ONE
    hash per row crosses the join, not the payload. Plan: one full
    outer join on the key (sort-merge, AQE-skew-safe; both sides are
    single scans with the hash computed in-scan) + a tiny status
    aggregate. At 100 TB this is the standard two-snapshot
    reconciliation: cost is two scans + one key shuffle, independent
    of column count once hashed."""
    orders = read_table(spark, sf_dir, "orders")
    va = orders.where("o_orderkey % 3 != 0").select(
        F.col("o_orderkey").alias("k_a"),
        F.md5(
            F.concat_ws(
                "|",
                "o_orderstatus",
                F.col("o_totalprice").cast("string"),
                "o_orderpriority",
            )
        ).alias("h_a"),
    )
    vb = orders.where("o_orderkey % 4 != 0").select(
        F.col("o_orderkey").alias("k_b"),
        F.md5(
            F.concat_ws(
                "|",
                F.when(F.col("o_orderkey") % 5 == 0, F.lit("P")).otherwise(
                    F.col("o_orderstatus")
                ),
                F.col("o_totalprice").cast("string"),
                "o_orderpriority",
            )
        ).alias("h_b"),
    )
    joined = va.join(vb, va["k_a"] == vb["k_b"], "full_outer")
    status = (
        F.when(F.col("k_a").isNull(), F.lit("added"))
        .when(F.col("k_b").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
    )
    return (
        joined.where(
            F.col("k_a").isNull()
            | F.col("k_b").isNull()
            | (F.col("h_a") != F.col("h_b"))
        )
        .groupBy(status.alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.min(F.coalesce("k_a", "k_b")).alias("min_key"),
            F.max(F.coalesce("k_a", "k_b")).alias("max_key"),
        )
        .orderBy("status")
    )


def _kcore_oracle_sql(k: int, rounds: int) -> str:
    """Unrolled DuckDB oracle for :func:`q_kcore`: round r drops nodes
    with degree < k over the round-(r-1) surviving symmetric edge set.
    Generated so the round count lives in one place."""
    parts = [
        """
    e0 AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    )"""
    ]
    for r in range(rounds):
        parts.append(f"""
    k{r} AS (
      SELECT u FROM e{r} GROUP BY u HAVING count(*) >= {k}
    ),
    e{r + 1} AS (
      SELECT e.u, e.v FROM e{r} e
      JOIN k{r} a ON e.u = a.u
      JOIN k{r} b ON e.v = b.u
    )""")
    return (
        "WITH "
        + ",".join(parts)
        + f"""
    SELECT u AS node, CAST(count(*) AS BIGINT) AS degree
    FROM e{rounds} GROUP BY u ORDER BY node"""
    )


@register("q_kcore", _kcore_oracle_sql(60, 3))
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph cohesion pruning: 3-round k-core peel (k=60) of the part
    co-occurrence graph (parts sharing an order — the same edge set as
    q_bfs_hops), returning each surviving node with its in-core
    degree. Each round is one degree aggregate + two semi-join filters
    of the shrinking edge list (operators.graph.kcore_peel); the
    oracle unrolls the same three rounds."""
    from breweries_data_pipeline_spark.operators.graph import kcore_peel

    # distinct (order, part) BEFORE the self-join: the pair fan-out is
    # quadratic in per-order multiplicity, so collapsing duplicate
    # (order, part) rows first (a part ordered on several lines — or a
    # replicated soak table) keeps the join linear in basket content.
    # The r7 sf1 soak measured the undistincted form at 212s (100x
    # pair blowup on 10-copy data); distinct-first is the general rule
    # for any self-join whose output is distinct anyway.
    li = (
        read_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = li.select("l_orderkey", F.col("l_partkey").alias("src"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("dst"))
    # `<` (not `!=`): emit each undirected edge ONCE — the trailing
    # distinct shuffles half the rows, and the peel carries
    # |E| instead of 2|E| through every checkpoint and semi-join
    # (degrees via endpoint explode). Measured 2x faster cold at
    # sf0.1 than the symmetric both-directions form, same output.
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    return kcore_peel(edges, 60, rounds=3).orderBy("node")


# ---------------------------------------------------------------------------
# round-7c: weighted sampling, privacy, eval, clustering
# ---------------------------------------------------------------------------


@register(
    "q_priority_sample",
    """
    WITH t AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':prio'), 1, 8))::BIGINT
               % 2147483647 + 1 AS u
      FROM documents WHERE n_chars > 0
    ),
    q AS (
      SELECT doc_id, weight,
             CAST(weight * 2147483648 // u AS BIGINT) AS priority_fp
      FROM t
    ),
    r AS (
      SELECT *, row_number() OVER (ORDER BY priority_fp DESC, doc_id) AS rn
      FROM q
    )
    SELECT doc_id, weight, priority_fp,
           CAST(greatest(weight,
                COALESCE((SELECT priority_fp FROM r WHERE rn = 65), 0))
                AS BIGINT) AS est_w
    FROM r WHERE rn <= 64 ORDER BY doc_id
    """,
)
def q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (Duffield-Lund-Thorup): a weighted bottom-k
    sample WITHOUT replacement whose per-item estimator
    ``max(w_i, tau)`` (tau = the (k+1)-th priority) sums to an
    unbiased estimate of total weight — the subset-sum sample a
    pretraining-mix designer takes when one pass must serve any later
    "how many tokens would slice X contribute" question.
    q_weighted_sample is Bernoulli (independent coins, variable sample
    size); this is the fixed-size complement with the optimal-variance
    estimator.

    Priorities are exact integers: u is a 31-bit md5-derived uniform,
    priority_fp = w * 2^31 div u (the fixed-point spelling of w/u), so
    both engines rank the identical total order — no float division in
    the hashed output.

    Scale: the only ordered operation is top-(k+1), which Spark plans
    as TakeOrderedAndProject — per-partition heaps of 65 rows, then a
    65-row merge on the driver; NO global sort, no shuffle of the
    corpus. The rank/tau window then runs on the 65 surviving rows
    (single partition by construction, bounded by k+1)."""
    docs = read_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    digest = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":prio")))
    u = (
        F.conv(F.substring(digest, 1, 8), 16, 10).cast("long") % 2147483647 + 1
    ).alias("u")
    q = docs.select(
        "doc_id", F.col("n_chars").alias("weight"), u
    ).withColumn(
        "priority_fp",
        F.expr("weight * CAST(2147483648 AS BIGINT) DIV u"),
    )
    top = q.orderBy(F.desc("priority_fp"), F.asc("doc_id")).limit(65)
    w_rank = Window.orderBy(F.desc("priority_fp"), F.asc("doc_id"))
    w_full = w_rank.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tau = F.when(
        F.count(F.lit(1)).over(w_full) >= 65,
        F.min("priority_fp").over(w_full),
    ).otherwise(F.lit(0).cast("long"))
    return (
        top.withColumn("rn", F.row_number().over(w_rank))
        .withColumn("tau", tau)
        .filter(F.col("rn") <= 64)
        .select(
            "doc_id",
            "weight",
            "priority_fp",
            F.greatest(F.col("weight"), F.col("tau")).alias("est_w"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_t_closeness",
    """
    WITH b AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000.0) AS INTEGER) AS bucket
      FROM customer
    ),
    gb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS gcnt FROM b GROUP BY bucket),
    g AS (
      SELECT bucket,
             CAST(sum(gcnt) OVER (ORDER BY bucket) AS BIGINT) AS gcum,
             CAST(sum(gcnt) OVER () AS BIGINT) AS gtot,
             CAST(count(*) OVER () AS BIGINT) AS m
      FROM gb
    ),
    cc AS (
      SELECT c_nationkey, c_mktsegment, bucket, CAST(count(*) AS BIGINT) AS ccnt
      FROM b GROUP BY 1, 2, 3
    ),
    cls AS (
      SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS class_n
      FROM b GROUP BY 1, 2
    ),
    grid AS (
      SELECT cls.c_nationkey, cls.c_mktsegment, cls.class_n,
             g.bucket, g.gcum, g.gtot, g.m, COALESCE(cc.ccnt, 0) AS ccnt
      FROM cls CROSS JOIN g
      LEFT JOIN cc ON cc.c_nationkey = cls.c_nationkey
                  AND cc.c_mktsegment = cls.c_mktsegment
                  AND cc.bucket = g.bucket
    ),
    cum AS (
      SELECT *, CAST(sum(ccnt) OVER (PARTITION BY c_nationkey, c_mktsegment
                                     ORDER BY bucket) AS BIGINT) AS ccum
      FROM grid
    )
    SELECT c_nationkey, c_mktsegment, class_n,
           CAST(sum(abs(CAST(ccum * 1000000 AS BIGINT) // class_n
                        - CAST(gcum * 1000000 AS BIGINT) // gtot))
                // greatest(max(m) - 1, 1) AS BIGINT) AS emd_ppm
    FROM cum
    GROUP BY c_nationkey, c_mktsegment, class_n
    ORDER BY c_nationkey, c_mktsegment
    """,
)
def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li-Li-Venkatasubramanian): per QI class
    (nation, segment), the ordered earth-mover's distance between the
    class's sensitive-attribute distribution (account-balance bucket)
    and the global one — EMD = sum_i |P_cum(i) - Q_cum(i)| / (m-1)
    over the m global buckets. Completes the privacy-audit triple:
    q_k_anonymity (class size), q_l_diversity (distinct sensitive
    values), t-closeness (distributional skew — the attack the other
    two miss: a class whose values are diverse but all extreme).

    Exactness: cumulative shares are integer ppm (cum * 1e6 div
    total), the EMD numerator is a sum of |integer| and the final
    div (m-1) is integer too — no float division anywhere.

    Scale: two hash aggregates over customer (class x bucket, global
    bucket), then a per-class cumsum over an EXPLODED bucket grid.
    The grid is class_count x m rows where m is bounded by the
    balance range (<= ~12 buckets) — built by exploding a literal
    bucket array collected from the m-row global aggregate (bounded
    driver state, documented), never a cartesian of data-sized
    inputs. The global-cum window runs on m rows (single partition,
    bounded)."""
    cust = read_table(spark, sf_dir, "customer")
    b = cust.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / F.lit(1000.0)).cast("int").alias("bucket"),
    )
    # bounded collect: distinct balance buckets, <= (max-min)/1000 + 1
    # values (~12 on TPC-H-shaped balances) — model state, not data
    buckets = sorted(
        r["bucket"] for r in b.select("bucket").distinct().collect()
    )
    m = len(buckets)
    gbc = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("gcnt"))
    w_gcum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_gall = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    g = gbc.select(
        "bucket",
        F.sum("gcnt").over(w_gcum).alias("gcum"),
        F.sum("gcnt").over(w_gall).alias("gtot"),
    )
    cc = b.groupBy("c_nationkey", "c_mktsegment", "bucket").agg(
        F.count(F.lit(1)).alias("ccnt")
    )
    cls = cc.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("ccnt").alias("class_n")
    )
    grid = (
        cls.withColumn(
            "bucket", F.explode(F.array(*[F.lit(x) for x in buckets]))
        )
        .join(F.broadcast(g), "bucket")
        .join(cc, ["c_nationkey", "c_mktsegment", "bucket"], "left")
        .fillna(0, subset=["ccnt"])
    )
    w_cls = (
        Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.withColumn("ccum", F.sum("ccnt").over(w_cls))
    absdiff = F.abs(
        F.expr("ccum * 1000000 DIV class_n - gcum * 1000000 DIV gtot")
    )
    return (
        cum.groupBy("c_nationkey", "c_mktsegment", "class_n")
        .agg(F.sum(absdiff).alias("__num"))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "class_n",
            F.expr(f"__num DIV {max(m - 1, 1)}").cast("long").alias("emd_ppm"),
        )
        .orderBy("c_nationkey", "c_mktsegment")
    )


@register(
    "q_knn_classify",
    f"""
    WITH p AS (
      SELECT vec_id AS probe_id, embedding AS pe, label AS true_label
      FROM embeddings WHERE vec_id < 16
    ),
    s AS (
      SELECT p.probe_id, p.true_label, c.vec_id, c.label,
             {_SQL_DOT.format(a="c.embedding", b="pe")}
             / (sqrt({_SQL_DOT.format(a="c.embedding", b="c.embedding")})
                * sqrt({_SQL_DOT.format(a="pe", b="pe")})) AS cosine
      FROM embeddings c CROSS JOIN p
      WHERE c.vec_id >= 16
    ),
    nn AS (
      SELECT probe_id, true_label, label FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id
                                     ORDER BY cosine DESC, vec_id) AS rn
        FROM s) t
      WHERE rn <= 10
    ),
    v AS (
      SELECT probe_id, true_label, label, CAST(count(*) AS BIGINT) AS n_votes
      FROM nn GROUP BY 1, 2, 3
    )
    SELECT probe_id, true_label, label AS pred_label, n_votes,
           CAST(CASE WHEN label = true_label THEN 1 ELSE 0 END
                AS INTEGER) AS correct
    FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                                       ORDER BY n_votes DESC, label) AS rn2
          FROM v) t
    WHERE rn2 = 1 ORDER BY probe_id
    """,
)
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label classification — the standard embedding-quality eval
    (does the vector space separate classes?): the 16 held-out probes
    are classified by majority label of their k=10 exact-cosine
    nearest neighbors among the training split (vec_id >= 16), with a
    deterministic (votes desc, label asc) tie-break. Output is one row
    per probe with predicted vs true label — the confusion-matrix
    input, row-hashable.

    Exactness: cosines are the bit-exact pinned-order doubles of
    q_similarity_topk (Arrow left-fold kernel == DuckDB list_sum);
    they feed only a rank with a vec_id tie-break, and votes are
    integers, so the hashed output carries no float at all.

    Scale: same broadcast-probes x one-corpus-scan plan as
    q_similarity_topk (never corpus x corpus), one exchange keyed by
    probe_id for the per-probe top-k, then a 16x10-row vote
    aggregate. Corpus growth touches only the embarrassingly parallel
    scan."""
    emb = read_table(spark, sf_dir, "embeddings")
    train = emb.filter(F.col("vec_id") >= 16)
    probes = emb.filter(F.col("vec_id") < 16)
    nn = cosine_topk(train, probes, k=10)
    votes = (
        nn.join(train.select("vec_id", "label"), "vec_id")
        .groupBy("probe_id", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.desc("n_votes"), F.asc("label")
    )
    pred = votes.withColumn("rn2", F.row_number().over(w)).filter(
        F.col("rn2") == 1
    )
    truth = probes.select(
        F.col("vec_id").alias("probe_id"), F.col("label").alias("true_label")
    )
    return (
        pred.join(truth, "probe_id")
        .select(
            "probe_id",
            "true_label",
            F.col("label").alias("pred_label"),
            "n_votes",
            (F.col("label") == F.col("true_label"))
            .cast("int")
            .alias("correct"),
        )
        .orderBy("probe_id")
    )


@register(
    "q_kmeans_assign",
    """
    WITH s AS (
      SELECT vec_id AS cluster, embedding AS c FROM embeddings WHERE vec_id < 8
    ),
    d AS (
      SELECT e.vec_id,
             CAST(round(CAST(e.embedding[1] AS DOUBLE) * 1000000.0)
                  AS BIGINT) AS x0u,
             s.cluster,
             list_sum(list_transform(range(1, len(e.embedding) + 1),
               i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(s.c[i] AS DOUBLE))
                  * (CAST(e.embedding[i] AS DOUBLE) - CAST(s.c[i] AS DOUBLE))))
               AS dist
      FROM embeddings e CROSS JOIN s
    ),
    a AS (
      SELECT vec_id, x0u, cluster,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist, cluster) AS rn
      FROM d
    )
    SELECT cluster AS cluster_id, CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(x0u) AS BIGINT) AS sum_d0_micro
    FROM a WHERE rn = 1 GROUP BY cluster ORDER BY cluster_id
    """,
)
def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd assignment step (the E-step every distributed k-means
    iteration repeats): every vector is assigned to its nearest of
    k=8 fixed seed centroids by exact squared-L2, ties broken by
    cluster id, then reduced to per-cluster membership counts plus the
    dim-0 centroid-update numerator in integer micro-units — the
    M-step's partial-aggregate shape, proving the iteration's shuffle
    reduces exactly.

    Exactness: distances are pinned-order left-fold doubles
    (F.aggregate over zip_with == DuckDB list_sum over list_transform,
    the same fold equivalence q_similarity_topk pins); they feed only
    an argmin with an integer tie-break. The hashed output is all
    integers (round-to-micro uses the same IEEE away-from-zero round
    in both engines — q_embedding_dim_stats' discipline).

    Scale: the k centroids are bounded driver state (k x d floats —
    the same documented bounded-collect class as the k-means seeds
    inside semantic_dedup); they ship to executors as a broadcast
    literal, and the assignment is the similarity family's
    nearest-centroid step in its exact-fold lane
    (similarity.nearest_centroid_fold): one zero-shuffle array_min
    over (dist, cluster) structs per row. The only exchanges are the
    k-row partial aggregate and the final k-row sort. At 100 TB this
    is the canonical one-shuffle-per-iteration Lloyd plan; for large
    k x d the step's numpy lane (nearest_centroid_udf) is the form to
    use."""
    from breweries_data_pipeline_spark.operators.similarity import (
        nearest_centroid_fold,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    # bounded collect: k=8 seed vectors (k x 64 floats) — model state
    seeds = (
        emb.filter(F.col("vec_id") < 8)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    cluster = nearest_centroid_fold(
        [(int(r["vec_id"]), list(r["embedding"])) for r in seeds],
        F.col("embedding"),
    )
    return (
        emb.select(
            cluster.alias("cluster_id"),
            F.round(F.col("embedding")[0].cast("double") * 1000000.0)
            .cast("long")
            .alias("x0u"),
        )
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("x0u").alias("sum_d0_micro"),
        )
        .orderBy("cluster_id")
    )


@register(
    "q_kmeans_lloyd2",
    """
    WITH ev AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))
               AS xu
      FROM embeddings
    ),
    c0 AS (SELECT vec_id AS cluster, xu AS c FROM ev WHERE vec_id < 8),
    d1 AS (
      SELECT e.vec_id, e.xu, s.cluster,
             list_sum(list_transform(range(1, len(e.xu) + 1),
               i -> (e.xu[i] - s.c[i]) * (e.xu[i] - s.c[i]))) AS dist
      FROM ev e CROSS JOIN c0 s
    ),
    a1 AS (
      SELECT vec_id, xu, cluster,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist, cluster) AS rn
      FROM d1
    ),
    mstep AS (
      SELECT cluster, dim,
             CAST(sum(v) AS BIGINT) // CAST(count(*) AS BIGINT) AS cu
      FROM (SELECT cluster,
                   unnest(range(1, len(xu) + 1)) AS dim,
                   unnest(xu) AS v
            FROM a1 WHERE rn = 1)
      GROUP BY cluster, dim
    ),
    c1 AS (
      SELECT cluster, list(cu ORDER BY dim) AS c FROM mstep GROUP BY cluster
    ),
    d2 AS (
      SELECT e.vec_id, e.xu, s.cluster,
             list_sum(list_transform(range(1, len(e.xu) + 1),
               i -> (e.xu[i] - s.c[i]) * (e.xu[i] - s.c[i]))) AS dist
      FROM ev e CROSS JOIN c1 s
    ),
    a2 AS (
      SELECT vec_id, xu, cluster,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY dist, cluster) AS rn
      FROM d2
    )
    SELECT cluster AS cluster_id, CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(xu[1]) AS BIGINT) AS sum_d0_micro
    FROM a2 WHERE rn = 1 GROUP BY cluster ORDER BY cluster_id
    """,
)
def q_kmeans_lloyd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO full Lloyd iterations — E-step, distributed M-step
    (centroid recompute), E-step against the RECOMPUTED centroids —
    with an exact cross-engine oracle, extending q_kmeans_assign from
    one assignment step to the actual iterative algorithm.

    Exactness is the point: float centroid means are NOT
    cross-engine-reproducible (summation order), so the whole
    iteration runs in integer micro-units — vectors are
    round(x * 1e6) longs, distances are exact BIGINT squared-L2, and
    the M-step mean is integer truncating division (Spark ``div`` and
    DuckDB ``//`` both truncate toward zero — verified on all four
    sign combinations). Every intermediate is an integer, so banding,
    argmin tie-breaks (min cluster id) and the recomputed centroids
    are bit-identical in both engines. Empty clusters simply drop out
    of the M-step group-by in both engines.

    Scale (the spark.ml KMeans plan, re-derived): centroids are
    bounded driver state (k x d longs, the documented bounded-collect
    model-state class). Each E-step is the similarity family's
    nearest-centroid step in its exact-fold lane
    (similarity.nearest_centroid_fold: a zero-shuffle array_min over
    (integer dist, cluster) structs per row); the M-step is ONE
    exchange of (cluster, dim) partial sums — k x d cells, map-side
    combined — reassembled into arrays by a sort of k x d rows. Two
    iterations = two bounded collects + two k*d-cell aggregates; at
    100 TB per-iteration cost is one corpus scan + one k*d-row
    shuffle, exactly Lloyd's lower bound."""
    from breweries_data_pipeline_spark.operators.similarity import (
        nearest_centroid_fold,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    ev = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1000000.0).cast("long"),
        ).alias("xu"),
    )

    def _assign(cents: list[tuple[int, list[int]]]) -> DataFrame:
        # integer centroids: the fold runs in exact BIGINT arithmetic
        cluster = nearest_centroid_fold(cents, F.col("xu"))
        return ev.select("vec_id", "xu", cluster.alias("cluster"))

    # bounded collect #1: the k=8 seed vectors (k x 64 longs)
    seeds = ev.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    a1 = _assign([(r["vec_id"], r["xu"]) for r in seeds])
    # distributed M-step: k x d integer partial sums, truncating div
    m = (
        a1.select("cluster", F.posexplode("xu").alias("dim", "v"))
        .groupBy("cluster", "dim")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .withColumn("cu", F.expr("s div n"))
        .groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cu"))),
                lambda st: st["cu"],
            ).alias("c")
        )
    )
    # bounded collect #2: the recomputed centroids (<= k x 64 longs)
    cents1 = [(r["cluster"], r["c"]) for r in m.orderBy("cluster").collect()]
    a2 = _assign(cents1)
    return (
        a2.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.element_at("xu", 1)).alias("sum_d0_micro"),
        )
        .select(F.col("cluster").alias("cluster_id"), "n_members", "sum_d0_micro")
        .orderBy("cluster_id")
    )


@register(
    "q_rrf_fusion",
    r"""
    WITH t AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS len_score,
             CAST(len(list_distinct(regexp_split_to_array(trim(lower(text)),
                                                          '\s+')))
                  AS BIGINT) AS dtok
      FROM documents WHERE n_chars > 0
    ),
    r AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY len_score DESC, doc_id) AS rank_len,
             row_number() OVER (ORDER BY dtok DESC, doc_id) AS rank_div
      FROM t
    )
    SELECT doc_id, CAST(rank_len AS BIGINT) AS rank_len,
           CAST(rank_div AS BIGINT) AS rank_div,
           CAST(1000000 // (60 + rank_len) + 1000000 // (60 + rank_div)
                AS BIGINT) AS rrf_fp
    FROM r ORDER BY rrf_fp DESC, doc_id LIMIT 20
    """,
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack-Clarke-Buettcher) of two
    ranked views of the corpus — the standard way to merge retrieval
    signals without score calibration: each document's fused score is
    sum over signals of 1/(60 + rank). Here the two signals are
    length and lexical diversity (distinct-token count); a real
    pipeline fuses BM25 with embedding ranks the same way.

    Exactness: RRF terms are integer micro-units (1e6 div (60+rank))
    so the fused score is an exact integer in both engines; ties
    break on doc_id.

    Scale: both GLOBAL ranks run as bucket-offset two-pass rankings
    (operators.windows.bucketed_row_number with a negated value band,
    since the ranking is descending) — no single-task corpus sort —
    and the final cut is top-20 = TakeOrderedAndProject."""
    from breweries_data_pipeline_spark.operators.windows import (
        bucketed_row_number,
    )

    docs = read_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    t = docs.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("len_score"),
        F.size(F.array_distinct(tokens(F.lower(F.col("text")))))
        .cast("long")
        .alias("dtok"),
    )
    r1 = bucketed_row_number(
        t,
        [],
        [F.desc("len_score"), F.asc("doc_id")],
        F.expr("-(len_score DIV 64)"),
        rank_name="rank_len",
    )
    r2 = bucketed_row_number(
        r1,
        [],
        [F.desc("dtok"), F.asc("doc_id")],
        F.expr("-(dtok DIV 8)"),
        rank_name="rank_div",
    )
    return (
        r2.select(
            "doc_id",
            "rank_len",
            "rank_div",
            (
                _long_div(F.lit(1000000), F.lit(60) + F.col("rank_len"))
                + _long_div(F.lit(1000000), F.lit(60) + F.col("rank_div"))
            ).alias("rrf_fp"),
        )
        .orderBy(F.desc("rrf_fp"), F.asc("doc_id"))
        .limit(20)
    )


@register(
    "q_audio_dedup",
    """
    WITH m AS (
      SELECT doc_id AS media_id,
             4000 + ((doc_id % 97) % 37) * 160 AS n,
             ((doc_id % 97) * 2654435761) % 4294967296 AS seed
      FROM documents
    ),
    s AS (
      SELECT media_id, CAST(t.i AS BIGINT) // 400 AS frame,
             (((seed + CAST(t.i AS BIGINT) * 40503) >> 3) & 255) - 128 AS v
      FROM m, unnest(generate_series(0, n - 1)) AS t(i)
    ),
    e AS (
      SELECT media_id, frame, CAST(sum(v * v) AS BIGINT) AS energy
      FROM s GROUP BY media_id, frame
    ),
    d AS (
      SELECT media_id, frame, energy,
             lead(energy) OVER (PARTITION BY media_id ORDER BY frame)
               AS e_next
      FROM e
    ),
    f AS (
      SELECT media_id,
             CAST(count(*) AS BIGINT) AS n_frames,
             CAST(sum(CASE WHEN frame < 32 AND e_next IS NOT NULL
                                AND e_next > energy
                           THEN CAST(1 AS BIGINT) << frame
                           ELSE 0 END) AS BIGINT) AS fp
      FROM d GROUP BY media_id
    )
    SELECT fp, n_frames, CAST(count(*) AS BIGINT) AS n_copies,
           CAST(min(media_id) AS BIGINT) AS canonical_id
    FROM f GROUP BY fp, n_frames ORDER BY canonical_id
    """,
)
def q_audio_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio fingerprint dedup — the audio analog of q_image_ahash
    (and the simplified core of Chromaprint-style fingerprinting):
    each clip reduces to a 32-bit energy-delta signature (bit f set
    iff frame f+1 is louder than frame f) plus its frame count, and
    clips sharing (fingerprint, n_frames) collapse into one group
    with a deterministic canonical id. The test corpus plants a
    mirror-upload regime (waveform seeded by doc_id % 97, so ~97
    distinct clips re-uploaded under many ids).

    Exactness: frame energies are exact integer sums of squared
    zero-centered PCM samples (frame_energy's contract), the delta
    bits are pure comparisons, and the packed fingerprint is integer
    shifts — the DuckDB oracle regenerates every waveform from id
    arithmetic and replays all of it bit-for-bit.

    Scale: blobs are born and consumed executor-side in one narrow
    Arrow pass (never shuffled); what shuffles is 3 longs per frame
    for the lead() window keyed by media_id (key space = corpus
    size, no few-groups collapse — one exchange serves both the
    window and the fingerprint aggregate), then the dedup group-by
    moves 3 longs per CLIP."""
    from breweries_data_pipeline_spark.operators.multimodal import (
        audio_from_ids,
        frame_energy,
    )

    docs = read_table(spark, sf_dir, "documents").withColumn(
        "akey", F.col("doc_id") % 97
    )
    fe = frame_energy(audio_from_ids(docs, seed_col="akey"))
    w = Window.partitionBy("media_id").orderBy("frame")
    d = fe.withColumn("e_next", F.lead("energy").over(w))
    sig = d.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum(
            F.when(
                (F.col("frame") < 32)
                & F.col("e_next").isNotNull()
                & (F.col("e_next") > F.col("energy")),
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(frame AS INT))"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias("fp"),
    )
    return (
        sig.groupBy("fp", "n_frames")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("media_id").alias("canonical_id"),
        )
        .orderBy("canonical_id")
    )


@register(
    "q_streaming_late_drop",
    """
    WITH e AS (SELECT event_id, ts, event_type FROM events),
    wm1 AS (SELECT epoch_us(max(ts)) // 1000 - 600000 AS v
            FROM e WHERE event_id % 2 = 0),
    wmf AS (SELECT epoch_us(max(ts)) // 1000 - 600000 AS v FROM e),
    kept AS (
      SELECT e.* FROM e, wm1
      WHERE event_id % 4 != 3
         OR NOT (epoch_us(date_trunc('hour', ts) + INTERVAL 1 HOUR) // 1000
                 <= wm1.v)
    ),
    w AS (
      SELECT date_trunc('hour', ts) AS ws, event_type,
             CAST(count(*) AS BIGINT) AS n
      FROM kept GROUP BY 1, 2
    )
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type, n
    FROM w, wmf
    WHERE epoch_us(ws + INTERVAL 1 HOUR) // 1000 <= wmf.v
    ORDER BY window_start, event_type
    """,
)
def q_streaming_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10 watermark LATE-DATA semantics, full-oracle: a deterministic
    three-batch replay (staged_availablenow_drain — batch 1 the even
    events, batch 2 a carrier advancing the watermark, batch 3 an
    out-of-order replay) of an append-mode hourly windowed count with
    a 10-minute watermark. Batch 3's rows land AFTER their windows
    were finalized and evicted, so Spark drops them
    (numRowsDroppedByWatermark > 0) — the semantic every production
    streaming aggregation relies on for bounded state, and one a
    single-batch availableNow drain can never exercise because the
    watermark only advances between batches.

    The oracle replays the measured semantics exactly (verified
    against state-operator metrics): batch-3 rows are dropped iff
    their window end <= the watermark active when the window was
    evicted (max batch-1 event time, floored to Spark's millisecond
    watermark resolution, minus the 10-minute delay), and the final
    no-data batch emits every window whose end <= the final watermark
    (max over ALL events — watermark stats see even the dropped rows
    — minus delay). Timestamps compare in integer epoch-ms; counts
    are integers; no floats anywhere."""
    from breweries_data_pipeline_spark.streaming.windows import (
        staged_availablenow_drain,
    )

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type"
    )
    stages = [
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 4 == 1),
        ev.filter(F.col("event_id") % 4 == 3),
    ]

    def build(sdf: DataFrame) -> DataFrame:
        return (
            sdf.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    from breweries_data_pipeline_spark.streaming import state_partitions

    # 4 micro-batches x 32 state partitions of checkpoint file I/O
    # dwarfed the actual aggregate at bench SFs — see state_partitions
    with state_partitions(spark, 8):
        res = staged_availablenow_drain(spark, stages, build, "late_drop")
    return res.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
    ).orderBy("window_start", "event_type")


@register(
    "q_recall_at_k",
    f"""
    WITH p AS (
      SELECT vec_id AS probe_id, embedding AS pe, label AS true_label
      FROM embeddings WHERE vec_id < 16
    ),
    s AS (
      SELECT p.probe_id, p.true_label, c.vec_id, c.label,
             {_SQL_DOT.format(a="c.embedding", b="pe")}
             / (sqrt({_SQL_DOT.format(a="c.embedding", b="c.embedding")})
                * sqrt({_SQL_DOT.format(a="pe", b="pe")})) AS cosine
      FROM embeddings c CROSS JOIN p
      WHERE c.vec_id >= 16
    ),
    nn AS (
      SELECT probe_id, true_label, label FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id
                                     ORDER BY cosine DESC, vec_id) AS rn
        FROM s) t
      WHERE rn <= 10
    ),
    rel AS (
      SELECT p.probe_id, CAST(count(*) AS BIGINT) AS n_relevant
      FROM p JOIN embeddings c
        ON c.vec_id >= 16 AND c.label = p.true_label
      GROUP BY p.probe_id
    ),
    hits AS (
      SELECT probe_id, true_label,
             CAST(sum(CASE WHEN label = true_label THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_hits
      FROM nn GROUP BY probe_id, true_label
    )
    SELECT h.probe_id, h.true_label, h.n_hits,
           COALESCE(r.n_relevant, 0) AS n_relevant,
           CAST(CASE WHEN COALESCE(r.n_relevant, 0) > 0
                     THEN (h.n_hits * 1000000)
                          // least(CAST(10 AS BIGINT), r.n_relevant)
                     ELSE 0 END AS BIGINT) AS recall_ppm
    FROM hits h LEFT JOIN rel r ON h.probe_id = r.probe_id
    ORDER BY h.probe_id
    """,
)
def q_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 for labeled retrieval — the third leg of the eval
    triple (q_mrr_eval ranks the first relevant hit, q_knn_classify
    predicts, this measures coverage): per held-out probe, the share
    of its top-10 exact-cosine neighbors sharing its label, normalized
    by min(k, #relevant in the train split) so probes whose class has
    fewer than k members can still score 100%.

    Exactness: the same bit-exact pinned-order cosines as
    q_similarity_topk feed only a rank; hits, relevant counts and the
    ppm division are all integers.

    Scale: one broadcast-probes corpus scan for the top-k (salted
    two-phase rank, see similarity.refine_topk), one broadcast join
    for the per-class relevant counts — corpus growth touches only the
    embarrassingly parallel scan."""
    emb = read_table(spark, sf_dir, "embeddings")
    train = emb.filter(F.col("vec_id") >= 16)
    probes = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("probe_id"), F.col("label").alias("true_label")
    )
    nn = cosine_topk(
        emb.filter(F.col("vec_id") >= 16),
        emb.filter(F.col("vec_id") < 16),
        k=10,
    )
    hits = (
        nn.join(train.select("vec_id", "label"), "vec_id")
        .join(F.broadcast(probes), "probe_id")
        .groupBy("probe_id", "true_label")
        .agg(
            F.sum(
                F.when(F.col("label") == F.col("true_label"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_hits")
        )
    )
    class_sizes = train.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_relevant")
    )
    rel = probes.join(
        F.broadcast(class_sizes),
        probes["true_label"] == class_sizes["label"],
        "left",
    ).select("probe_id", "n_relevant")
    return (
        hits.join(rel, "probe_id", "left")
        .select(
            "probe_id",
            "true_label",
            "n_hits",
            F.coalesce(F.col("n_relevant"), F.lit(0))
            .cast("long")
            .alias("n_relevant"),
            F.when(
                F.coalesce(F.col("n_relevant"), F.lit(0)) > 0,
                _long_div(
                    F.col("n_hits") * 1000000,
                    F.least(F.lit(10).cast("long"), F.col("n_relevant")),
                ),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("recall_ppm"),
        )
        .orderBy("probe_id")
    )


@register(
    "q_streaming_session_timeout",
    """
    WITH e AS (SELECT event_id, ts, user_id FROM events),
    wm2 AS (SELECT epoch_us(max(ts)) // 1000 - 600000 AS v
            FROM e WHERE event_id % 4 != 3),
    wmf AS (SELECT epoch_us(max(ts)) // 1000 - 600000 AS v FROM e),
    kept AS (
      SELECT e.* FROM e, wm2
      WHERE event_id % 4 != 3 OR epoch_us(ts) >= wm2.v * 1000
    ),
    s AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             CAST(min(epoch_us(ts)) AS BIGINT) AS first_us,
             CAST(max(epoch_us(ts)) AS BIGINT) AS last_us
      FROM kept GROUP BY user_id
    )
    SELECT user_id, n_events, first_us, last_us
    FROM s, wm2, wmf
    WHERE greatest(last_us // 1000 + 1800000, wm2.v + 1) <= wmf.v
    ORDER BY user_id
    """,
)
def q_streaming_session_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10 stateful EVENT-TIME TIMEOUT, full-oracle: per-user
    inactivity sessions (30-minute gap) maintained in explicit group
    state and emitted ONLY when the watermark passes last-activity +
    gap — the one applyInPandasWithState surface (timers + self-
    freeing state) the other stateful ops never exercise, and the
    bounded-state pattern behind every production sessionizer. The
    same three-batch staged replay as q_streaming_late_drop drives
    the watermark forward between batches.

    The oracle replays the measured semantics (verified against the
    drained output at sf0.001 under all boundary-operator variants):
    batch-3 rows are dropped iff their event time < the batch-2
    watermark (per-ROW lateness, microseconds vs the ms-floored
    watermark — stateful ops filter on the row's own time, unlike the
    windowed aggregate's window-end rule); a user's session emits iff
    its timer max(last_kept + gap, wm2 + 1) <= the final watermark
    (users still active inside gap+delay of the stream's end hold
    open state and emit nothing). Assumes every user has input in
    every batch (true at all test SFs: users << events/4), so timers
    fire only in the final no-data batch. Integer microseconds
    throughout; no floats."""
    from breweries_data_pipeline_spark.streaming.stateful import (
        stateful_session_timeout,
    )
    from breweries_data_pipeline_spark.streaming.windows import (
        staged_availablenow_drain,
    )

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id"
    )
    stages = [
        ev.filter(F.col("event_id") % 2 == 0),
        ev.filter(F.col("event_id") % 4 == 1),
        ev.filter(F.col("event_id") % 4 == 3),
    ]
    from breweries_data_pipeline_spark.streaming import state_partitions

    # ADAPTIVE state sizing: the sessionizer's cost is the Arrow
    # per-key Python-state pass, which parallelizes by state
    # partition — unlike the windowed aggregates, whose floor is
    # per-partition checkpoint I/O. Too few partitions serializes the
    # kernel (sf10 A/B: 8 -> 163.6s, 32 -> 74.5s); too many pays the
    # q_stream_stream_join checkpoint-traffic floor (sf0.1: 32 ->
    # 7.3s, 8 -> 6.1s). Size by the table's file count — a
    # metadata-only proxy for data volume — clamped to the session's
    # core count.
    n_parts = min(
        int(spark.sparkContext.defaultParallelism),
        max(8, len(ev.inputFiles())),
    )
    with state_partitions(spark, n_parts):
        res = staged_availablenow_drain(
            spark,
            stages,
            lambda sdf: stateful_session_timeout(sdf),
            "session_timeout",
        )
    return res.select(
        "user_id", "n_events", "first_us", "last_us"
    ).orderBy("user_id")


@register(
    "q_dup_histogram",
    r"""
    WITH fp AS (
      SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS f
      FROM documents WHERE n_chars > 0
    ),
    sizes AS (SELECT CAST(count(*) AS BIGINT) AS sz FROM fp GROUP BY f)
    SELECT CAST(1 << CAST(length(bin(sz)) - 1 AS INTEGER) AS BIGINT)
             AS bin_lo,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(sz) AS BIGINT) AS n_docs,
           CAST(sum(sz - 1) AS BIGINT) AS removable_docs
    FROM sizes GROUP BY 1 ORDER BY bin_lo
    """,
)
def q_dup_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster-size spectrum: exact-dup clusters bucketed by
    power-of-two size, with cluster count, document mass and the
    removable-copy mass (size - 1 per cluster) per bucket — the chart
    that distinguishes a boilerplate flood (one giant cluster) from
    diffuse mirroring (many pairs), and sizes the payoff of running
    dedup at all. Complements q_dup_rate_by_source (who duplicates)
    with HOW duplication is shaped.

    Plan: text never shuffles — one md5 fingerprint projection, a
    skew-immune map-side-combined cluster-size aggregate, then a
    second tiny aggregate onto ~log2(max cluster) rows. The bucket is
    exact 2^(bitlength-1) via binary-string length (q_token_histogram
    discipline — never floor(log2(double)))."""
    from breweries_data_pipeline_spark.functions.text import normalized_text

    docs = read_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    sizes = (
        docs.select(F.md5(normalized_text(F.col("text"))).alias("f"))
        .groupBy("f")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    bin_lo = F.expr(
        "CAST(shiftleft(CAST(1 AS BIGINT), "
        "CAST(length(bin(sz)) - 1 AS INT)) AS BIGINT)"
    )
    return (
        sizes.groupBy(bin_lo.alias("bin_lo"))
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("sz").cast("long").alias("n_docs"),
            F.sum(F.col("sz") - 1).cast("long").alias("removable_docs"),
        )
        .orderBy("bin_lo")
    )


@register(
    "q_udtf_chunks",
    r"""
    WITH toks AS (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+') AS tk
      FROM documents WHERE n_chars > 0 AND trim(text) <> ''
    ), ix AS (
      SELECT doc_id, tk,
             unnest(range(0, CAST(ceil(len(tk)/32.0) AS BIGINT))) AS i
      FROM toks
    )
    SELECT doc_id,
           CAST(i AS INT) AS chunk_ix,
           array_to_string(tk[(i*32+1):(i*32+32)], ' ') AS chunk_text,
           CAST(len(tk[(i*32+1):(i*32+32)]) AS INT) AS chunk_tokens
    FROM ix
    """,
)
def q_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking via a Spark 4 Python UDTF in a
    LATERAL join — the context-window chunker every training-data
    pipeline runs before packing, and the registry's exercise of the
    UDTF API surface (the one Python-extension point not yet covered
    by the pandas-UDF / mapInPandas / applyInPandas / DataSource
    entries). Arrow-optimized (`useArrow=True`): documents stream
    through the worker one RecordBatch at a time and fan out to
    ~len/32 chunk rows with zero shuffle and zero driver
    materialization — at 100 TB this is scan-bound and rides the
    file-split parallelism, exactly like the narrow text operators.

    The source filter lives INSIDE the subquery so rows are dropped
    BEFORE the fan-out (a post-UDTF filter would chunk every doc
    first); plan shows Filter+Scan under ArrowEvalPythonUDTF.

    Tokenizer parity: the Python kernel splits on Java's ASCII
    `\\s+` class, matching the `split(trim(text), '\\s+')` convention
    every other text query uses, so the oracle (list-slice chunks in
    DuckDB) matches bit-for-bit including the last ragged chunk."""
    from breweries_data_pipeline_spark.operators.text import make_chunk_udtf

    spark.udtf.register("chunk_doc", make_chunk_udtf(32))
    docs = read_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_ix, c.chunk_text, c.chunk_tokens
        FROM (
          SELECT doc_id, text FROM __udtf_docs
          WHERE n_chars > 0 AND trim(text) <> ''
        ) d, LATERAL chunk_doc(d.text) c
        """
    )


@register(
    "q_variant_extract",
    """
    SELECT o_orderkey,
           o_orderstatus AS status,
           o_totalprice AS total,
           o_orderpriority AS priority
    FROM orders WHERE o_orderkey < 2000
    """,
)
def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT round-trip (Spark 4's binary
    semi-structured type): struct -> JSON text -> `parse_json` ->
    typed `variant_get` path extraction, including a nested path
    ($.meta.p). The open-format ingestion pattern for raw API/crawl
    payloads: store once as VARIANT, extract typed fields at query
    time without a fixed schema — `parse_json` tokenizes once into
    the binary encoding and every `variant_get` is a cheap binary
    path walk, unlike get_json_object's re-parse per path (compare
    q_json_extract, the string-path twin). Whole plan is one narrow
    codegen'd projection: filter + column pruning reach the scan,
    no shuffle at any scale.

    Oracle recomputes the expected OUTPUT directly from the table:
    doubles survive the JSON text round-trip bit-exact (shortest
    round-trip decimal on write, exact binary64 parse on read)."""
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    js = o.select(
        "o_orderkey",
        F.to_json(
            F.struct(
                F.col("o_orderstatus").alias("status"),
                F.col("o_totalprice").alias("total"),
                F.struct(F.col("o_orderpriority").alias("p")).alias("meta"),
            )
        ).alias("js"),
    )
    v = js.select("o_orderkey", F.parse_json("js").alias("v"))
    return v.select(
        "o_orderkey",
        F.variant_get("v", "$.status", "string").alias("status"),
        F.variant_get("v", "$.total", "double").alias("total"),
        F.variant_get("v", "$.meta.p", "string").alias("priority"),
    )


@register(
    "q_arrow_utf8_profile",
    """
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           CAST(length(text) AS BIGINT) AS n_codepoints,
           strlen(text) = length(text) AS is_ascii
    FROM documents
    """,
)
def q_arrow_utf8_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc UTF-8 byte/codepoint profile via ``mapInArrow`` — the
    registry's exercise of the pure-Arrow batch API (no pandas
    round-trip: pandas UDFs pay an Arrow->pandas->Arrow conversion
    with object-dtype strings; this path keeps the C++ Arrow buffers
    end-to-end and calls vectorized pyarrow.compute kernels). The
    training-data use: byte-vs-codepoint divergence flags non-ASCII
    density for tokenizer-budget math (pairs with q_bytes_per_char,
    the JVM-expression twin). Narrow map over the scan, column
    pruning reaches parquet, zero shuffle at any scale."""
    from breweries_data_pipeline_spark.operators.text import (
        UTF8_PROFILE_SCHEMA,
        utf8_profile_arrow,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInArrow(utf8_profile_arrow, UTF8_PROFILE_SCHEMA)


@register(
    "q_arrow_group_stats",
    """
    SELECT lang, count(*) AS n_docs,
           CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
           CAST(max(strlen(text)) AS BIGINT) AS max_bytes
    FROM documents GROUP BY lang
    """,
)
def q_arrow_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language byte stats via grouped ``applyInArrow`` — the
    last Python extension point (grouped pure-Arrow map: one shuffle
    on the group key, then each group reduced worker-side as a
    pyarrow Table with C++ compute kernels, zero pandas). The
    aggregates here are deliberately SQL-expressible so the surface
    gets a full oracle; the production use of this API is per-group
    logic SQL can't express (per-group model fits, custom
    quantizers) — for anything a groupBy().agg() CAN say, the JVM
    path wins (partial aggregation; no Python worker), which is why
    only this one registry entry routes a plain aggregate through
    it. Integer outputs only -> bit-exact cross-engine. Bounded
    group count (|langs|) keeps the single-task-per-group shape
    safe at any corpus size; corpus-keyed grouped maps in this
    registry all key on data-scaled ids."""
    from breweries_data_pipeline_spark.operators.text import (
        LANG_STATS_SCHEMA,
        lang_stats_arrow,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return docs.groupBy("lang").applyInArrow(lang_stats_arrow, LANG_STATS_SCHEMA)


# ---------------------------------------------------------------------------
# round 8: cross-document (corpus-global) sentence dedup
# ---------------------------------------------------------------------------


@register(
    "q_sentence_dedup_global",
    r"""
    WITH s AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(text,
                      '[.!?][ \t\n\x0b\f\r]+')) AS sent,
             generate_subscripts(regexp_split_to_array(text,
                      '[.!?][ \t\n\x0b\f\r]+'), 1) AS pos
      FROM documents
    ),
    w AS (
      SELECT doc_id, sent, pos,
             row_number() OVER (PARTITION BY sent
                                ORDER BY doc_id, pos) AS rn
      FROM s
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_sents,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           COALESCE(string_agg(CASE WHEN rn = 1 THEN sent END,
                               '. ' ORDER BY pos), '') AS cleaned
    FROM w GROUP BY doc_id
    """,
)
def q_sentence_dedup_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-GLOBAL sentence dedup — the actual CCNet scrub
    (Wenzek et al., "CCNet", LREC 2020 — hash every sentence across
    the WHOLE corpus, keep each sentence's first occurrence, rebuild
    documents), complementing q_sentence_dedup which dedups only
    WITHIN a document. This is the transformation that strips
    cross-site boilerplate (cookie banners, nav text, legal footers)
    that intra-doc dedup cannot see, and it is the heaviest-hitting
    single cleanup on raw web corpora.

    First occurrence = lowest (doc_id, pos) — a total order, so the
    survivor set is deterministic in both engines; a document whose
    every sentence is boilerplate seen earlier collapses to
    cleaned = '' with n_kept = 0 (COALESCE mirrors Spark's
    array_join-of-empty = '').

    Scale shape: explode is a narrow fan-out riding the scan; ONE
    shuffle keyed by sentence text ranks occurrences (row_number over
    a window whose partition key is the sentence — uniform unless one
    sentence dominates the corpus, in which case dedup is the point);
    ONE shuffle back on doc_id rebuilds documents via
    order-preserving collect + sort. At 100 TB both shuffles carry
    the sentence stream once; production would hash sentences to
    64-bit fingerprints before the exchange to cut shuffle bytes
    (kept as raw text here so the oracle is byte-faithful)."""
    docs = read_table(spark, sf_dir, "documents")
    sents = F.split("text", r"[.!?][ \t\n\x0b\f\r]+")
    s = docs.select(
        "doc_id", F.posexplode(sents).alias("pos0", "sent")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "sent")
    w = Window.partitionBy("sent").orderBy("doc_id", "pos")
    ranked = s.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sents"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("rn") == 1,
                            F.struct(F.col("pos"), F.col("sent")),
                        )
                    )
                ),
                lambda st: st["sent"],
            ),
            ". ",
        ).alias("cleaned"),
    )


@register(
    "q_mixture_temperature",
    """
    WITH per AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS s
      FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(sum(s) AS BIGINT) AS st,
                   CAST(sum(n_docs) AS BIGINT) AS nt FROM per)
    SELECT source, n_docs,
           CAST((n_docs * 1000000) // (SELECT nt FROM tot) AS BIGINT)
             AS natural_ppm,
           CAST((s * 1000000) // (SELECT st FROM tot) AS BIGINT)
             AS smoothed_ppm
    FROM per ORDER BY source
    """,
)
def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixture weights (tau = 0.5): sampling
    weight proportional to n^tau instead of n — the standard
    multilingual/multi-source smoothing (mBERT, XLM-R, mT5 all train
    on n^alpha-smoothed mixtures) that upweights small sources without
    letting them dominate. Complements q_mixture_weights (per-language
    inverse-share weights) with the temperature form.

    Exactness: n^0.5 goes through floor(sqrt(double)) — IEEE sqrt is
    correctly rounded in both engines and every n is exactly
    representable, so the BIGINT floor is engine-identical; weights
    then normalize in pure integer ppm (sums of per-source BIGINTs,
    no float accumulation). Safe from the r8 overflow class: s and
    n_docs are bounded by corpus row count (~1e10 at 100 TB),
    x 1e6 << 2^63.

    Scale: one map-side-combined count per source (a handful of
    groups), one broadcast scalar attach — a single cheap exchange at
    any corpus size."""
    docs = read_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    ).withColumn(
        "s",
        F.floor(F.sqrt(F.col("n_docs").cast("double"))).cast("long"),
    )
    tot = per.agg(
        F.sum("s").cast("long").alias("st"),
        F.sum("n_docs").cast("long").alias("nt"),
    )
    return (
        per.join(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.expr("(n_docs * 1000000) div nt").alias("natural_ppm"),
            F.expr("(s * 1000000) div st").alias("smoothed_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# round 9: fingerprint-before-exchange production variants
# ---------------------------------------------------------------------------


@register(
    "q_sentence_dedup_fp",
    r"""
    WITH s AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(text,
                      '[.!?][ \t\n\x0b\f\r]+')) AS sent,
             generate_subscripts(regexp_split_to_array(text,
                      '[.!?][ \t\n\x0b\f\r]+'), 1) AS pos
      FROM documents
    ),
    w AS (
      SELECT doc_id, sent, pos,
             row_number() OVER (
               PARTITION BY ('0x' || substr(md5(sent), 1, 15))::BIGINT
               ORDER BY doc_id, pos) AS rn
      FROM s
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_sents,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           COALESCE(string_agg(CASE WHEN rn = 1 THEN sent END,
                               '. ' ORDER BY pos), '') AS cleaned
    FROM w GROUP BY doc_id
    """,
)
def q_sentence_dedup_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FINGERPRINT-BEFORE-EXCHANGE form of the corpus-global
    sentence scrub — the production step q_sentence_dedup_global's
    docstring promises: hash every sentence to a 64-bit fingerprint
    in the narrow explode pass and DROP the text before any exchange.
    The rank shuffle then carries (fp, doc_id, pos) — ~20 bytes per
    sentence instead of the full sentence text — and the winners
    shuffle back as bare (doc_id, pos) keep-positions; documents are
    rebuilt by re-splitting the ORIGINAL text column locally and
    picking the kept positions, so sentence bytes cross at most ONE
    exchange (the doc-side rebuild join; zero with a doc_id-bucketed
    corpus layout) instead of two. Same first-occurrence total order
    (doc_id, pos) as the byte-faithful twin.

    The registered lane derives the fingerprint from md5's first 15
    hex chars (60 bits) so DuckDB replays it exactly — the same
    auditable-twin pattern as q_minhash_lsh vs the xxhash64 path;
    production would use xxhash64 (pure JVM, no digest allocation),
    identical plan shape. Fingerprinting changes semantics only on a
    60-bit collision between DISTINCT sentences (~2^-60 per pair;
    tests/test_dedup.py asserts the result matches the byte-faithful
    twin row-for-row on the fixture corpus and accounts collisions =
    distinct sentences minus distinct fingerprints = 0).

    When to use which twin (measured, SCALE.md round 10): at sf10 the
    fp form moves 47% fewer bytes through the rank exchange (95.4 vs
    179.5 MB) but runs ~40% slower — the extra hash pass costs more
    CPU than the saved in-memory I/O while the shuffle fits executor
    memory. Run the byte-faithful twin until shuffle bandwidth or
    sort memory binds; switch to this form in the exchange-bound
    regime (the index family measured fp halving spill there)."""
    docs = read_table(spark, sf_dir, "documents")
    sents = F.split("text", r"[.!?][ \t\n\x0b\f\r]+")
    # narrow pass: explode, fingerprint, DROP the text
    s = docs.select(
        "doc_id", F.posexplode(sents).alias("pos0", "sent")
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.expr(
            "cast(conv(substr(md5(sent), 1, 15), 16, 10) as bigint)"
        ).alias("__fp"),
    )
    w = Window.partitionBy("__fp").orderBy("doc_id", "pos")
    winners = (
        s.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("__keep"))
    )
    keep = F.coalesce(F.col("__keep"), F.expr("cast(array() as array<int>)"))
    # rebuild by FILTERING the split array on keep-position membership:
    # the split is the higher-order function's input, so it evaluates
    # ONCE per row by construction — transform(keep, p ->
    # element_at(sents, p)) would re-split the whole text per kept
    # sentence (O(s^2) regex work on long documents, and CollapseProject
    # re-inlines any precomputed column back into the lambda). filter
    # preserves array order = position order, identical to the sorted
    # element_at rebuild.
    return docs.join(winners, "doc_id", "left").select(
        "doc_id",
        F.size(sents).cast("long").alias("n_sents"),
        F.size(keep).cast("long").alias("n_kept"),
        F.array_join(
            F.filter(
                sents,
                lambda s, i: F.array_contains(keep, (i + 1).cast("int")),
            ),
            ". ",
        ).alias("cleaned"),
    )


@register(
    "q_neardup_index_fp",
    f"""
    WITH sh AS (SELECT doc_id, list_distinct({_SQL_SHINGLES}) AS s FROM documents),
    b AS (SELECT * FROM sh WHERE doc_id % 5 = 0),
    h AS (SELECT * FROM sh WHERE doc_id % 5 <> 0),
    p AS (
      SELECT b.doc_id AS bid, h.doc_id AS hid,
             (CAST(len(list_intersect(b.s, h.s)) AS BIGINT) * 1000000)
               // (CAST(len(b.s) AS BIGINT) + CAST(len(h.s) AS BIGINT)
                   - CAST(len(list_intersect(b.s, h.s)) AS BIGINT)) AS ppm
      FROM b, h
    ),
    m AS (
      SELECT bid, hid, ppm,
             row_number() OVER (PARTITION BY bid ORDER BY ppm DESC, hid) AS rk,
             count(*) OVER (PARTITION BY bid) AS n
      FROM p WHERE ppm >= 500000
    )
    SELECT b.doc_id,
           CAST(coalesce(m.n, 0) AS BIGINT) AS n_dups,
           CAST(m.hid AS BIGINT) AS best_match_id,
           CAST(m.ppm AS BIGINT) AS best_jaccard_ppm
    FROM b LEFT JOIN m ON m.bid = b.doc_id AND m.rk = 1
    """,
)
def q_neardup_index_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION persisted-index ingest cycle: q_neardup_index
    (whose index already holds xxhash64 shingle fingerprints — at sf3
    they halved the string form's spill, SCALE.md round 9) with
    **exact-collapse** on both sides (collapse_exact=True): one rep
    per distinct text with w multiplicities, the funnel's
    exact-dedup-before-near-dup order applied inside the operator —
    candidate volume scales with DISTINCT-text pairs, not copy². The
    two queries differ only in that switch.

    NOTE (r9 re-measurement): on gen_sf's DEFAULT adversarial replica
    collapse does NOT rescue sf10 on a single box — the per-copy
    suffix defeats exact collapse by design and the 100-copy cliques
    are TRUE near-dup pairs, so the verify stage is output-bound (~k²
    real pairs) and still exhausts local disk. On the
    density-controlled replica (gen_sf --doc-text distinct: k× more
    docs at the source corpus's own dup rate) the full sf10 cycle
    completes in 36s — see SCALE.md round 9.

    Same brute-force oracle as q_neardup_index: collapse is
    semantics-preserving (byte-identical docs have identical match
    sets; n_dups weights by w, best_match_id is the best group's min
    id = its rep; equality tested on a tripled corpus in
    tests/test_dedup.py). Timing it measures the whole collapsed
    build + bucketed write + read-back + join cycle. The index tables
    are scratch, dropped by release_caches() like q_neardup_index's."""
    from breweries_data_pipeline_spark.operators.dedup import (
        build_shingle_index,
        near_dedup_against_index,
        read_shingle_index_bucketed,
        write_shingle_index_bucketed,
    )

    docs = read_table(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 5 == 0)
    history = docs.where(F.col("doc_id") % 5 != 0)
    tbl = _session_table_prefix(spark, "t_q_neardup_index_fp")
    for t in write_shingle_index_bucketed(
        build_shingle_index(history, threshold=0.5, collapse_exact=True),
        tbl,
    ):
        _track_table(spark, t)
    return near_dedup_against_index(
        batch,
        read_shingle_index_bucketed(spark, tbl),
        threshold=0.5,
        collapse_exact=True,
    )


@register(
    "q_jpeg_decode",
    """
    SELECT doc_id AS media_id,
           CAST(8 + doc_id % 9 AS BIGINT) AS width,
           CAST(8 + doc_id % 7 AS BIGINT) AS height,
           CAST(1 AS BIGINT) AS channels,
           CAST((8 + doc_id % 9) * (8 + doc_id % 7) * (doc_id % 251)
                AS BIGINT) AS pixel_sum
    FROM documents
    """,
)
def q_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal real-codec round-trip, JPEG edition: genuine
    entropy-coded baseline JFIF blobs born executor-side
    (operators.multimodal.jpeg_media_from_ids) and fully decoded back
    — marker parse, DHT canonical-huffman decode, dequantize, inverse
    DCT, level shift, pixel sum — via decode_real_image (PIL when
    present, the dependency-free operators.jpeg_codec otherwise; the
    codec that retired the r7/r8 PIL-absent xfail). The oracle is
    closed-form because the fixtures ride the codec's bit-exact lane:
    flat grayscale images under the all-ones quantization table have
    DC-only blocks with an exactly-representable integer DC, so the
    lossy-format round-trip is lossless by construction (and libjpeg's
    DC-only shortcut reproduces the same pixels when PIL is present).
    Only 5 longs per image ever cross an exchange; the plan is the
    same zero-shuffle Arrow pass as q_png_decode."""
    from breweries_data_pipeline_spark.operators.multimodal import (
        decode_media_pixels,
        jpeg_media_from_ids,
    )

    docs = read_table(spark, sf_dir, "documents")
    return decode_media_pixels(jpeg_media_from_ids(docs))


@register(
    "q_jpeg_decode_prog",
    """
    SELECT doc_id AS media_id,
           CAST(8 + doc_id % 9 AS BIGINT) AS width,
           CAST(8 + doc_id % 7 AS BIGINT) AS height,
           CAST(1 AS BIGINT) AS channels,
           CAST((8 + doc_id % 9) * (8 + doc_id % 7) * (doc_id % 251)
                AS BIGINT) AS pixel_sum
    FROM documents
    """,
)
def q_jpeg_decode_prog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_jpeg_decode's PROGRESSIVE twin (round 10): the blobs are
    genuine multi-scan SOF2 streams (DC first/refine + per-component
    AC first/refine, successive approximation, EOB runs) and the
    decoder walks the full T.81 G.2 scan algebra — the common
    web-thumbnail encoding, previously a PIL-gated guard. The oracle
    stays the SAME closed form as the baseline twin because
    progressive and baseline encode identical quantized coefficients;
    on the flat-grayscale all-ones-DQT lane both round-trip the exact
    pixels (tests/test_multimodal.py pins the byte-for-byte decode
    equality). Same zero-shuffle Arrow plan as q_jpeg_decode."""
    from breweries_data_pipeline_spark.operators.multimodal import (
        decode_media_pixels,
        jpeg_media_from_ids,
    )

    docs = read_table(spark, sf_dir, "documents")
    return decode_media_pixels(jpeg_media_from_ids(docs, progressive=True))


@register(
    "q_jpeg_decode_rst",
    """
    SELECT doc_id AS media_id,
           CAST(8 + doc_id % 9 AS BIGINT) AS width,
           CAST(8 + doc_id % 7 AS BIGINT) AS height,
           CAST(1 AS BIGINT) AS channels,
           CAST((8 + doc_id % 9) * (8 + doc_id % 7) * (doc_id % 251)
                AS BIGINT) AS pixel_sum
    FROM documents
    """,
)
def q_jpeg_decode_rst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_jpeg_decode's RESTART-INTERVAL twin (round 11): every blob
    carries a DRI segment and real RSTm markers every 2 MCUs, so the
    decoder exercises segment re-sync, modulo-8 marker sequencing, and
    the per-segment DC-predictor reset on every image — the encoding
    camera firmware and libjpeg's error-resilient mode emit. A restart
    stream codes the same quantized coefficients as its restart-free
    twin (tests/test_multimodal.py pins the byte-for-byte decode
    equality), so the oracle is the SAME closed form as q_jpeg_decode;
    same zero-shuffle Arrow plan — 5 longs per image cross the
    exchange, blobs never leave the executor."""
    from breweries_data_pipeline_spark.operators.multimodal import (
        decode_media_pixels,
        jpeg_media_from_ids,
    )

    docs = read_table(spark, sf_dir, "documents")
    return decode_media_pixels(jpeg_media_from_ids(docs, restart_interval=2))


@register(
    "q_ccnet_buckets",
    rf"""
    WITH grams AS (
      SELECT doc_id, unnest({_SQL_BIGRAMS}) AS pair
      FROM documents WHERE n_chars > 0
    ),
    pc AS (
      SELECT pair, split_part(pair, ' ', 1) AS w1, count(*) AS n_pair
      FROM grams GROUP BY pair
    ),
    uni AS (
      SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_w1 FROM pc GROUP BY w1
    ),
    model AS (
      SELECT pair, (n_pair * 1000000) // n_w1 AS p_ppm
      FROM pc JOIN uni USING (w1)
    ),
    scores AS (
      SELECT doc_id, CAST(sum(p_ppm) AS BIGINT) // count(*) AS mean_p_ppm
      FROM grams JOIN model USING (pair)
      GROUP BY doc_id
    )
    SELECT s.doc_id, d.lang, s.mean_p_ppm,
           CASE ntile(3) OVER (PARTITION BY d.lang
                               ORDER BY s.mean_p_ppm DESC, s.doc_id)
             WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
           END AS bucket
    FROM scores s JOIN documents d USING (doc_id)
    """,
)
def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail partition (round 11): per
    language, documents are ranked by their corpus-LM score
    (q_doc_lm_score's exact fixed-point ppm bigram score — the
    self-model stand-in for CCNet's external KenLM perplexity) and
    split into terciles, best-scoring third = 'head'. This is the
    partition CCNet ships as its quality tiers and pretraining
    mixtures consume as sampling strata.

    Scale shape: the oracle's semantics is NTILE(3) OVER (PARTITION BY
    lang ORDER BY score DESC, doc_id) — but a per-lang window sort
    puts an entire language (most of a 100 TB crawl is one language)
    in ONE task. Instead the exact global rank comes from the
    bucket-offset two-pass scheme (operators.windows.
    bucketed_row_number: score-band buckets local-rank in parallel,
    broadcast exclusive bucket-count offsets lift to the global rank
    — result-identical for any deterministic total order), and NTILE
    reduces to pure integer arithmetic on (rank, group total):
    bucket = ((rn - 1) * 3) div n, sizes differing by at most one
    with big buckets first, exactly the SQL-standard NTILE fill.
    DuckDB's real ntile() over the same total order value-checks the
    decomposition end to end."""
    from breweries_data_pipeline_spark.operators.windows import (
        bucketed_row_number,
    )

    scores = q_doc_lm_score(spark, sf_dir).select("doc_id", "mean_p_ppm")
    langs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    ranked = bucketed_row_number(
        scores.join(langs, "doc_id"),
        ["lang"],
        [F.col("mean_p_ppm").desc(), F.col("doc_id")],
        # monotone band of the leading (DESC) order column: ascending
        # bucket id as the score descends; mean_p_ppm is in [0, 1e6]
        # by construction (p_ppm = n_pair*1e6 div n_w1 <= 1e6)
        F.expr("(1000000 - mean_p_ppm) div 4000"),
        rank_name="__rn",
        total_name="__n",
    )
    nt = F.expr("((__rn - 1) * 3) div __n")
    return ranked.select(
        "doc_id",
        "lang",
        "mean_p_ppm",
        F.when(nt == 0, "head")
        .when(nt == 1, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


@register(
    "q_winnowing",
    """
    WITH d AS (
      SELECT doc_id, regexp_split_to_array(text, '') AS chars
      FROM documents WHERE length(text) >= 8
    ),
    h AS (
      SELECT doc_id,
             list_transform(range(1, len(chars) - 5 + 2),
               i -> list_reduce(
                      list_prepend(CAST(7 AS BIGINT),
                        list_transform(chars[i:i+4],
                                       c -> CAST(ascii(c) AS BIGINT))),
                      (acc, x) -> (acc * 31 + x) % 2147483647)) AS hs
      FROM d
    ),
    s AS (
      SELECT doc_id, hs,
             list_distinct(list_transform(range(1, len(hs) - 4 + 2),
               j -> CAST(j + (4 - list_position(
                                list_reverse(hs[j:j+3]),
                                list_min(hs[j:j+3])) + 1) - 1
                         AS BIGINT))) AS pos
      FROM h
    )
    SELECT doc_id,
           CAST(len(hs) AS BIGINT) AS n_kgrams,
           CAST(len(pos) AS BIGINT) AS n_selected,
           CAST(list_sum(list_transform(pos,
                p -> hs[CAST(p AS INTEGER)])) AS BIGINT) AS fp_sum,
           list_min(list_transform(pos,
                p -> hs[CAST(p AS INTEGER)])) AS fp_min,
           list_max(list_transform(pos,
                p -> hs[CAST(p AS INTEGER)])) AS fp_max
    FROM s
    """,
)
def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (round 11; Schleimer et al.
    SIGMOD 2003 — the MOSS plagiarism-detection scheme, and the
    robust middle ground between whole-doc hashing and MinHash for
    substring-level dedup): k=5 char-gram polynomial hashes, window
    w=4, per-window minimum selected with rightmost tie-break.
    Winnowing's guarantee — every window yields a selection, so any
    shared substring of length >= w+k-1 = 8 chars between two docs
    shares a fingerprint DETERMINISTICALLY (density ~2/(w+1), vs
    0-in-p misses for modulo sampling). Output per doc: k-gram count,
    selected-set size, and the selected fingerprints' sum/min/max —
    all integer, hash-oracled bit-for-bit against DuckDB's list
    replay of the same fold/tie rules.

    Plan shape: one narrow projection of per-row array HOFs — no
    exchange at all until the driver collects; at 100 TB the operator
    is embarrassingly parallel and the downstream join on selected
    fingerprints (the dedup use) is an equi-join on 8-byte keys,
    the same bucketed discipline as the MinHash-LSH family. The HOF
    lane is the oracle-true exact path; its O(n*k) interpreted cost
    is bounded by k=5 (a production Arrow kernel would be the swap-in
    for hot loops, as with the similarity family's exact dot)."""
    from breweries_data_pipeline_spark.functions.text import (
        winnow_stats_udf,
    )

    docs = read_table(spark, sf_dir, "documents").where(
        F.length("text") >= 8
    )
    # Arrow-batched integer kernel (bit-identical to the HOF spec in
    # functions.text.kgram_hashes/winnow_positions — integer math has
    # no evaluation-order freedom; equivalence pinned in
    # tests/test_units.py): ~50x less interpreted work than the HOF
    # lane, zero shuffles either way
    return docs.select(
        "doc_id", winnow_stats_udf(k=5, w=4)(F.col("text")).alias("s")
    ).select("doc_id", "s.*")


def _sql_winnow_fps(k: int, w: int) -> str:
    """DuckDB CTE chain (d -> h -> s -> f) replaying kgram_hashes +
    winnow_positions + fingerprint projection at (k, w) — the same
    fold/tie rules as q_winnowing's oracle, parameterized so the dedup
    query can run at a discriminative k."""
    return f"""d AS (
      SELECT doc_id, regexp_split_to_array(text, '') AS chars
      FROM documents WHERE length(text) >= {k + w - 1}
    ),
    h AS (
      SELECT doc_id,
             list_transform(range(1, len(chars) - {k} + 2),
               i -> list_reduce(
                      list_prepend(CAST(7 AS BIGINT),
                        list_transform(chars[i:i+{k - 1}],
                                       c -> CAST(ascii(c) AS BIGINT))),
                      (acc, x) -> (acc * 31 + x) % 2147483647)) AS hs
      FROM d
    ),
    s AS (
      SELECT doc_id, hs,
             list_distinct(list_transform(range(1, len(hs) - {w} + 2),
               j -> CAST(j + ({w} - list_position(
                                list_reverse(hs[j:j+{w - 1}]),
                                list_min(hs[j:j+{w - 1}])) + 1) - 1
                         AS BIGINT))) AS pos
      FROM h
    ),
    f AS (
      SELECT doc_id,
             list_distinct(list_transform(pos,
                 p -> hs[CAST(p AS INTEGER)])) AS fps
      FROM s
    )"""


@register(
    "q_winnow_dedup",
    f"""
    WITH {_sql_winnow_fps(20, 8)},
    e AS (SELECT doc_id, len(fps) AS n_sel, unnest(fps) AS fp FROM f),
    dfc AS (SELECT fp FROM e GROUP BY fp HAVING count(*) BETWEEN 2 AND 10),
    ee AS (SELECT e.doc_id, e.n_sel, e.fp FROM e JOIN dfc USING (fp)),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.n_sel AS na, b.n_sel AS nb, count(*) AS n_shared
      FROM ee a JOIN ee b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared,
           CAST((n_shared * 1000000 - (n_shared * 1000000) % least(na, nb))
                // least(na, nb) AS BIGINT) AS overlap_ppm
    FROM cand
    WHERE (n_shared * 1000000 - (n_shared * 1000000) % least(na, nb))
          // least(na, nb) >= 500000
    """,
)
def q_winnow_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-fingerprint near-dup dedup (round 12; composes the
    r11 q_winnowing scheme into the dedup family per the r11 verdict) —
    the MOSS local-similarity complement to shingle-MinHash-LSH:
    candidates are generated by SHARED SELECTED FINGERPRINTS as an
    equi-join key, so partial-overlap / plagiarism shapes (one long
    shared passage inside otherwise-different documents) that dilute
    whole-document Jaccard below any LSH threshold are still caught —
    winnowing guarantees any shared substring of >= k+w-1 = 27 chars
    shares a selected fingerprint deterministically. k=20 makes a
    shared k-gram evidence rather than vocabulary (k=5 fingerprints of
    prose are common word fragments: measured df up to 398 of 500 docs,
    vs max df 6 at k=20 on the same corpus).

    Pipeline: per-doc distinct fingerprints via the vectorized int64
    Arrow kernel (functions.text.winnow_fingerprints_udf, bit-identical
    to the HOF spec — integer math has no evaluation-order freedom),
    explode, document-frequency cap (df in [2, 10]: df=1 can't pair,
    df>10 is boilerplate — the guard that bounds per-fingerprint pair
    volume to C(10,2)=45 at ANY corpus scale, the df-capped blocking
    discipline of q_sparse_cosine), self equi-join on the 8-byte
    fingerprint (plan-asserted: never a crossJoin), then per-pair
    verification by fingerprint-set containment: n_shared /
    min(|fps_a|, |fps_b|) >= 0.5 as an exact integer ppm. Cluster
    collapse of the emitted edges reuses the connected-components /
    bucket-star machinery of operators.dedup (q_dedup_text family).
    Oracle: full DuckDB list replay of the identical fold/tie/cap
    arithmetic — the 25 pairs it finds at sf0.01 are exactly the
    corpus's known near-dup pairs (q_minhash_lsh finds the same 25)."""
    from breweries_data_pipeline_spark.functions.text import (
        winnow_fingerprints_udf,
    )

    k, w = 20, 8
    docs = read_table(spark, sf_dir, "documents").where(
        F.length("text") >= k + w - 1
    )
    # expression shape matters: a plain select(size(fps), explode(fps))
    # re-references the UDF alias from two operators and Catalyst
    # duplicates the Arrow kernel (two stacked ArrowEvalPython stages —
    # the q_winnowing O(n^2) trap's python-UDF cousin). Folding both
    # consumers into ONE generator expression — explode(transform(fps,
    # x -> struct(size(fps), x))) — leaves a single kernel pass
    # (plan-asserted in tests/test_plans.py).
    e = (
        docs.select(
            "doc_id",
            winnow_fingerprints_udf(k=k, w=w)(F.col("text")).alias("fps"),
        )
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    "fps",
                    lambda x: F.struct(
                        F.size("fps").alias("n_sel"), x.alias("fp")
                    ),
                )
            ).alias("__e"),
        )
        .select(
            "doc_id",
            F.col("__e.n_sel").alias("n_sel"),
            F.col("__e.fp").alias("fp"),
        )
    )
    # df cap as a count-window over the fingerprint key: ONE exchange
    # on the 8-byte fp and ONE pass of the Arrow kernel (a
    # groupBy-count + join-back spelling re-evaluates the kernel
    # lineage once per branch — measured 2x the Python work); the
    # count window buffers no doc lists, so a pathological
    # million-doc boilerplate fingerprint costs a counter, not memory.
    # Persisted because the self-join consumes it twice; the persist
    # also pins the fp hash-partitioning, so the self-join below adds
    # sorts but NO further exchange on the big stream.
    from pyspark.sql import Window as W

    ee = _persist(
        e.withColumn("__df", F.count("*").over(W.partitionBy("fp")))
        .filter((F.col("__df") >= 2) & (F.col("__df") <= 10))
        .drop("__df")
    )
    a = ee.select(
        F.col("doc_id").alias("id_a"), F.col("n_sel").alias("na"), "fp"
    )
    b = ee.select(
        F.col("doc_id").alias("id_b"), F.col("n_sel").alias("nb"), "fp"
    )
    cand = (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count("*").alias("n_shared"))
    )
    ppm = _long_div(
        F.col("n_shared") * 1000000, F.least("na", "nb").cast("long")
    )
    return (
        cand.select(
            "id_a",
            "id_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            ppm.alias("overlap_ppm"),
        )
        .filter(F.col("overlap_ppm") >= 500000)
    )


_SQL_SENT_STOP = (
    r"len(list_filter(regexp_split_to_array(trim(sent), '\s+'), "
    "t -> list_contains({words}, t)))"
)


@register(
    "q_lang_segments",
    r"""
    WITH s AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(text,
                      '[.!?][ \t\n\x0b\f\r]+')) AS sent,
             generate_subscripts(regexp_split_to_array(text,
                      '[.!?][ \t\n\x0b\f\r]+'), 1) AS pos
      FROM documents
    ),
    p AS (
      SELECT doc_id, pos,
             CASE WHEN {en} > {es} THEN 'en'
                  WHEN {es} > {en} THEN 'es'
                  ELSE 'und' END AS lang_pred
      FROM s
    ),
    c AS (
      SELECT doc_id, pos, lang_pred,
             CASE WHEN lag(lang_pred) OVER (PARTITION BY doc_id
                                            ORDER BY pos)
                       IS DISTINCT FROM lang_pred
                  THEN 1 ELSE 0 END AS chg
      FROM p
    ),
    g AS (
      SELECT doc_id, pos, lang_pred,
             sum(chg) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS seg_idx
      FROM c
    )
    SELECT doc_id, CAST(seg_idx AS BIGINT) AS seg_idx, lang_pred,
           CAST(count(*) AS BIGINT) AS n_sentences,
           CAST(min(pos) AS BIGINT) AS start_pos,
           CAST(max(pos) AS BIGINT) AS end_pos
    FROM g GROUP BY doc_id, seg_idx, lang_pred
    """.replace(
        "{en}",
        _SQL_SENT_STOP.format(
            words="['the','a','of','and','to','in','is','that','it','for']"
        ),
    ).replace(
        "{es}",
        _SQL_SENT_STOP.format(
            words="['el','la','de','los','las','que','y','en','un','una']"
        ),
    ),
)
def q_lang_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document language segmentation (round 12) — the CCNet /
    crawl-curation step that splits MULTILINGUAL documents into
    contiguous same-language runs so each run can be routed to its
    language's corpus instead of the whole doc being kept or dropped
    on a single doc-level label. Per sentence (the q_sentence_dedup
    boundary class — engine-identical Java-ASCII regex), the
    q_langid_confusion stopword-profile heuristic classifies en/es/
    und; consecutive same-label sentences collapse into segments via
    the standard gaps-and-islands construction (change-flag lag window
    + running sum). Output per segment: label, sentence count, and the
    1-based [start_pos, end_pos] sentence span — all integer,
    hash-exact.

    Plan shape: split/classify is a pure narrow map riding the scan;
    the lag + running-sum windows and the final aggregate all key on
    doc_id (sentence count per doc is bounded, so no partition ever
    exceeds one document's sentences — skew-free at any corpus size),
    and Spark's window+aggregate share the one doc_id exchange."""
    from breweries_data_pipeline_spark.functions.text import (
        STOPWORDS_EN,
        STOPWORDS_ES,
        stopword_count,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    sents = F.split("text", r"[.!?][ \t\n\x0b\f\r]+")
    s = docs.select(
        "doc_id", F.posexplode(sents).alias("pos0", "sent")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "sent")
    en = stopword_count(F.col("sent"), STOPWORDS_EN)
    es = stopword_count(F.col("sent"), STOPWORDS_ES)
    p = s.select(
        "doc_id",
        "pos",
        F.when(en > es, F.lit("en"))
        .when(es > en, F.lit("es"))
        .otherwise(F.lit("und"))
        .alias("lang_pred"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("lang_pred").over(w)
    chg = F.when(
        prev.isNull() | (prev != F.col("lang_pred")), F.lit(1)
    ).otherwise(F.lit(0))
    g = p.withColumn(
        "seg_idx",
        F.sum(chg).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return g.groupBy("doc_id", "seg_idx", "lang_pred").agg(
        F.count("*").cast("long").alias("n_sentences"),
        F.min("pos").cast("long").alias("start_pos"),
        F.max("pos").cast("long").alias("end_pos"),
    ).select(
        "doc_id", F.col("seg_idx").cast("long").alias("seg_idx"),
        "lang_pred", "n_sentences", "start_pos", "end_pos",
    )


@register(
    "q_winnow_spans",
    f"""
    WITH {_sql_winnow_fps(20, 8)},
    e1 AS (
      SELECT doc_id, hs[CAST(u AS INTEGER)] AS fp, u AS pos
      FROM (SELECT doc_id, hs, unnest(pos) AS u FROM s)
    ),
    e2 AS (
      SELECT doc_id, fp, min(pos) AS pos
      FROM e1 GROUP BY doc_id, fp
    ),
    nsel AS (SELECT doc_id, count(*) AS n_sel FROM e2 GROUP BY doc_id),
    dfc AS (SELECT fp FROM e2 GROUP BY fp HAVING count(*) BETWEEN 2 AND 10),
    ee AS (
      SELECT e2.doc_id, e2.fp, e2.pos, nsel.n_sel
      FROM e2 JOIN dfc USING (fp) JOIN nsel USING (doc_id)
    ),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.n_sel AS na, b.n_sel AS nb, count(*) AS n_shared,
             min(a.pos) AS a_start, max(a.pos) AS a_end,
             min(b.pos) AS b_start, max(b.pos) AS b_end
      FROM ee a JOIN ee b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared,
           CAST(a_start AS BIGINT) AS a_start,
           CAST(a_end AS BIGINT) AS a_end,
           CAST(b_start AS BIGINT) AS b_start,
           CAST(b_end AS BIGINT) AS b_end
    FROM cand
    WHERE (n_shared * 1000000 - (n_shared * 1000000) % least(na, nb))
          // least(na, nb) >= 500000
    """,
)
def q_winnow_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS match LOCALIZATION (round 12) — the report step of the
    winnowing family: for every verified near-dup pair (the same
    df-capped candidates + >= 50% fingerprint-set containment rule as
    q_winnow_dedup), the 1-based k-gram position span of the shared
    fingerprints in EACH document ([a_start, a_end] x [b_start,
    b_end]) — what MOSS renders as the highlighted matched regions,
    and what a curation pipeline needs to excise a shared passage from
    one document instead of dropping the whole pair member. Positions
    ride the kernel output as struct<fp,pos> (first selected
    occurrence per fingerprint — winnow_fp_pos_udf), so localization
    costs no extra pass: the same ONE kernel run, the same fp window
    and self-join as the dedup form, with min/max position aggregates
    on top. All integer, full oracle."""
    from breweries_data_pipeline_spark.functions.text import (
        winnow_fp_pos_udf,
    )
    from pyspark.sql import Window as W

    k, w = 20, 8
    docs = read_table(spark, sf_dir, "documents").where(
        F.length("text") >= k + w - 1
    )
    e = (
        docs.select(
            "doc_id",
            winnow_fp_pos_udf(k=k, w=w)(F.col("text")).alias("fps"),
        )
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    "fps",
                    lambda x: F.struct(
                        F.size("fps").alias("n_sel"),
                        x["fp"].alias("fp"),
                        x["pos"].alias("pos"),
                    ),
                )
            ).alias("__e"),
        )
        .select("doc_id", "__e.n_sel", "__e.fp", "__e.pos")
    )
    ee = _persist(
        e.withColumn("__df", F.count("*").over(W.partitionBy("fp")))
        .filter((F.col("__df") >= 2) & (F.col("__df") <= 10))
        .drop("__df")
    )
    a = ee.select(
        F.col("doc_id").alias("id_a"), F.col("n_sel").alias("na"),
        F.col("pos").alias("pos_a"), "fp",
    )
    b = ee.select(
        F.col("doc_id").alias("id_b"), F.col("n_sel").alias("nb"),
        F.col("pos").alias("pos_b"), "fp",
    )
    cand = (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(
            F.count("*").alias("n_shared"),
            F.min("pos_a").alias("a_start"),
            F.max("pos_a").alias("a_end"),
            F.min("pos_b").alias("b_start"),
            F.max("pos_b").alias("b_end"),
        )
    )
    ppm = _long_div(
        F.col("n_shared") * 1000000, F.least("na", "nb").cast("long")
    )
    return (
        cand.filter(ppm >= 500000)
        .select(
            "id_a", "id_b",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.col("a_start").cast("long").alias("a_start"),
            F.col("a_end").cast("long").alias("a_end"),
            F.col("b_start").cast("long").alias("b_start"),
            F.col("b_end").cast("long").alias("b_end"),
        )
    )


@register(
    "q_winnow_dedup_star",
    f"""
    WITH RECURSIVE {_sql_winnow_fps(20, 8)},
    e AS (SELECT doc_id, unnest(fps) AS fp FROM f),
    grp AS (
      SELECT fp, min(doc_id) AS rep
      FROM e GROUP BY fp HAVING count(*) BETWEEN 2 AND 10
    ),
    star AS (
      SELECT DISTINCT g.rep AS u, e.doc_id AS v
      FROM e JOIN grp g USING (fp)
      WHERE e.doc_id <> g.rep
    ),
    sym AS (
      SELECT u, v FROM star
      UNION ALL
      SELECT v AS u, u AS v FROM star
    ),
    reach(u, v) AS (
      SELECT u, v FROM sym
      UNION
      SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
    ),
    minlab AS (
      SELECT u AS doc_id, least(u, min(v)) AS cluster_id
      FROM reach GROUP BY u
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d LEFT JOIN minlab m USING (doc_id)
    WHERE m.cluster_id IS NULL OR m.cluster_id = d.doc_id
    """,
)
def q_winnow_dedup_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LINEAR production twin of q_winnow_dedup — exactly the
    q_dedup_neardup -> q_dedup_lsh_buckets relationship, applied to
    winnowing: instead of emitting verified pairs (quadratic in clique
    size by output contract), each df-capped fingerprint bucket
    contributes STAR edges (bucket-min rep -> member), star components
    equal clique components (the executed-equivalence argument of
    lsh_bucket_star_edges, operators/dedup.py), and pointer-jumping
    connected components collapse them to min-id survivors. Candidate
    volume is LINEAR in corpus size: <= 9 star edges per capped
    fingerprint, never a pairwise join. Output: the surviving
    documents (cluster min), same shape as q_dedup_lsh_buckets, so a
    corpus pipeline can swap shingle-LSH for winnowing (partial-
    overlap/plagiarism shapes) without touching downstream stages.

    Plan: ONE Arrow kernel pass; rep + df in a single count/min window
    over the 8-byte fp (one exchange, no join-back re-evaluating the
    kernel lineage); the keep-min is the LSH dedup's own
    keep_component_min (operators/dedup.py): CC over the docs that
    have an edge (labeled on the driver when the edge list is small,
    else O(log diameter) rounds of bucketed equi-joins), then one
    anti-join. Oracle: DuckDB WITH RECURSIVE
    reachability over the same star edges proves the collapse is the
    true transitive closure, not just the pairing."""
    from breweries_data_pipeline_spark.functions.text import (
        winnow_fingerprints_udf,
    )
    from pyspark.sql import Window as W

    k, w = 20, 8
    docs = read_table(spark, sf_dir, "documents")
    e = (
        docs.where(F.length("text") >= k + w - 1)
        .select(
            "doc_id",
            winnow_fingerprints_udf(k=k, w=w)(F.col("text")).alias("fps"),
        )
        .select("doc_id", F.explode("fps").alias("fp"))
    )
    wfp = W.partitionBy("fp")
    edges = (
        e.withColumn("rep", F.min("doc_id").over(wfp))
        .withColumn("__df", F.count("*").over(wfp))
        .filter((F.col("__df") >= 2) & (F.col("__df") <= 10))
        .filter(F.col("doc_id") != F.col("rep"))
        .select(F.col("rep").alias("id_a"), F.col("doc_id").alias("id_b"))
        .distinct()
    )
    return keep_component_min(
        docs.select("doc_id", "lang", "source"), edges, "doc_id"
    )


_SQL_CDC_FPS = """d AS (
      SELECT doc_id, regexp_split_to_array(text, '') AS chars,
             length(text) AS n
      FROM documents WHERE length(text) >= 1
    ),
    g AS (
      SELECT doc_id, chars, n,
             CASE WHEN n >= 16 THEN
               list_transform(range(1, n - 16 + 2),
                 j -> list_reduce(
                        list_prepend(CAST(7 AS BIGINT),
                          list_transform(chars[j:j+15],
                                         c -> CAST(ascii(c) AS BIGINT))),
                        (acc, x) -> (acc * 31 + x) % 2147483647))
             ELSE [] END AS gh
      FROM d
    ),
    b AS (
      SELECT doc_id, chars, n,
             list_transform(
               list_filter(range(1, len(gh) + 1),
                           j -> gh[CAST(j AS INTEGER)] % 64 = 0),
               j -> j + 15) AS bpos
      FROM g
    ),
    spans AS (
      SELECT doc_id, chars,
             list_prepend(CAST(1 AS BIGINT),
                          list_transform(bpos, p -> CAST(p + 1 AS BIGINT))) AS ss,
             list_append(list_transform(bpos, p -> CAST(p AS BIGINT)),
                         CAST(n AS BIGINT)) AS es
      FROM b
    ),
    fps AS (
      SELECT doc_id,
             list_transform(
               list_filter(
                 list_transform(range(1, len(ss) + 1),
                   i -> {'s': ss[CAST(i AS INTEGER)],
                         'e': es[CAST(i AS INTEGER)]}),
                 x -> x.s <= x.e),
               x -> list_reduce(
                      list_prepend(CAST(7 AS BIGINT),
                        list_transform(chars[x.s:x.e],
                                       c -> CAST(ascii(c) AS BIGINT))),
                      (acc, y) -> (acc * 31 + y) % 2147483647)
                    * 2147483648
                  + list_reduce(
                      list_prepend(CAST(7 AS BIGINT),
                        list_transform(chars[x.s:x.e],
                                       c -> CAST(ascii(c) AS BIGINT))),
                      (acc, y) -> (acc * 131 + y) % 2147483647)) AS f
      FROM spans
    )"""


@register(
    "q_cdc_chunk_dedup",
    f"""
    WITH {_SQL_CDC_FPS},
    e AS (SELECT doc_id, unnest(f) AS fp FROM fps),
    cnt AS (SELECT fp, count(*) AS c FROM e GROUP BY fp)
    SELECT e.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(*) FILTER (cnt.c >= 2) AS BIGINT) AS n_dup_chunks,
           CAST((count(*) FILTER (cnt.c >= 2) * 1000000
                 - (count(*) FILTER (cnt.c >= 2) * 1000000) % count(*))
                // count(*) AS BIGINT) AS dup_chunk_ppm
    FROM e JOIN cnt USING (fp)
    GROUP BY e.doc_id
    """,
)
def q_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (round 12; LBFS — Muthitacharoen
    et al. SOSP 2001; FastCDC ATC 2016 is the optimized descendant) —
    the offset-robust complement to q_chunk_dedup's fixed 20-token
    grid: a boundary falls wherever the rolling w=16-char-gram hash
    satisfies H % 64 == 0 (expected chunk ~64 chars), so boundaries
    are a pure function of LOCAL content and a one-character insertion
    reshapes only the chunk it lands in — shared passages between
    documents chunk identically at ANY offset, which is what makes
    chunk-level dedup actually fire on shifted boilerplate
    (fixed-size grids miss it entirely; property-tested in
    tests/test_units.py). Per doc: chunk count, chunks whose
    fingerprint occurs >= 2 times corpus-wide, and the duplicated
    ratio in exact ppm. Fingerprints are two independent 31-bit Horner
    lanes packed into one long (collision needs a double collision,
    ~2^-62) — fully integer, so the DuckDB oracle replays the exact
    arithmetic.

    Plan shape: ONE Arrow kernel pass (masked-Horner batch kernel,
    functions.text.cdc_chunk_fps_udf — O(total chars) with every step
    a full-width numpy op), explode to (doc, fp), corpus-wide
    multiplicity as a count-window over the 8-byte fp (one exchange,
    no doc-list buffering), then one groupBy(doc_id). At 100 TB both
    exchanges move 16-byte rows and the hot chunk fingerprints
    (boilerplate) cost counters, not memory — the same discipline as
    q_winnow_dedup's df window."""
    from breweries_data_pipeline_spark.functions.text import (
        cdc_chunk_fps_udf,
    )
    from pyspark.sql import Window as W

    docs = read_table(spark, sf_dir, "documents").where(
        F.length("text") >= 1
    )
    e = docs.select(
        "doc_id", cdc_chunk_fps_udf()(F.col("text")).alias("f")
    ).select("doc_id", F.explode("f").alias("fp"))
    cnt = e.withColumn("__c", F.count("*").over(W.partitionBy("fp")))
    dup = (F.col("__c") >= 2).cast("long")
    agg = cnt.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum(dup).alias("n_dup_chunks"),
    )
    return agg.select(
        "doc_id",
        F.col("n_chunks").cast("long").alias("n_chunks"),
        F.col("n_dup_chunks").cast("long").alias("n_dup_chunks"),
        _long_div(
            F.col("n_dup_chunks") * 1000000, F.col("n_chunks")
        ).alias("dup_chunk_ppm"),
    )


@register(
    "q_cdc_containment",
    f"""
    WITH {_SQL_CDC_FPS},
    u AS (SELECT doc_id, list_distinct(f) AS fps FROM fps)
    SELECT a.doc_id AS id_a, a.doc_id + 1 AS id_b,
           CAST(len(a.fps) AS BIGINT) AS n_chunks_a,
           CAST(len(list_intersect(a.fps, b.fps)) AS BIGINT) AS n_shared,
           CAST((len(list_intersect(a.fps, b.fps)) * 1000000
                 - (len(list_intersect(a.fps, b.fps)) * 1000000)
                   % greatest(len(a.fps), 1))
                // greatest(len(a.fps), 1) AS BIGINT) AS containment_ppm
    FROM u a JOIN u b ON b.doc_id = a.doc_id + 1
    """,
)
def q_cdc_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level containment between consecutive docs (round 12) —
    q_containment's asymmetric near-dup signal re-based from 3-gram
    shingles onto content-defined chunks: |chunks(A) ∩ chunks(B)| /
    |chunks(A)| in exact integer ppm. Because CDC boundaries are
    offset-robust, a passage of A embedded ANYWHERE in B still yields
    shared chunk fingerprints (shingle containment sees this too but
    at ~64x the set size; fixed-grid chunk containment misses it
    entirely) — the cheap screen for A-inside-B shapes at 16 bytes per
    ~64-char chunk. Same consecutive-pair join shape as q_containment:
    an equi-join on doc_id+1, zero pair explosion, and the kernel's
    fingerprint arrays persist once for both join sides."""
    from breweries_data_pipeline_spark.functions.text import (
        cdc_chunk_fps_udf,
    )

    docs = read_table(spark, sf_dir, "documents").where(
        F.length("text") >= 1
    )
    u = _persist(
        docs.select(
            "doc_id",
            F.array_distinct(
                cdc_chunk_fps_udf()(F.col("text"))
            ).alias("fps"),
        )
    )
    nxt = u.select(
        (F.col("doc_id") - 1).alias("doc_id"), F.col("fps").alias("fps_b")
    )
    inter = F.size(F.array_intersect("fps", "fps_b")).cast("long")
    na = F.greatest(F.size("fps"), F.lit(1)).cast("long")
    return u.join(nxt, "doc_id").select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 1).alias("id_b"),
        F.size("fps").cast("long").alias("n_chunks_a"),
        inter.alias("n_shared"),
        _long_div(inter * 1000000, na).alias("containment_ppm"),
    )


@register(
    "q_streaming_cdc_ingest",
    f"""
    WITH {_SQL_CDC_FPS},
    u AS (SELECT doc_id, list_distinct(f) AS fps FROM fps),
    b0 AS (SELECT doc_id, fps, len(fps) AS n FROM u WHERE doc_id % 3 = 0),
    b1 AS (SELECT doc_id, fps, len(fps) AS n FROM u WHERE doc_id % 3 = 1),
    b2 AS (SELECT doc_id, fps, len(fps) AS n FROM u WHERE doc_id % 3 = 2),
    a0 AS (SELECT doc_id, fps, n, CAST(0 AS BIGINT) AS n_seen FROM b0),
    s1 AS (SELECT DISTINCT unnest(fps) AS fp FROM a0),
    e1 AS (SELECT doc_id, unnest(fps) AS fp FROM b1),
    m1 AS (SELECT e1.doc_id, count(s1.fp) AS n_seen
           FROM e1 LEFT JOIN s1 ON e1.fp = s1.fp GROUP BY e1.doc_id),
    a1 AS (SELECT b1.doc_id, b1.fps, b1.n, m1.n_seen
           FROM b1 JOIN m1 USING (doc_id)
           WHERE m1.n_seen * 1000000 < 500000 * b1.n),
    s2 AS (SELECT fp FROM s1
           UNION
           SELECT DISTINCT unnest(fps) AS fp FROM a1),
    e2 AS (SELECT doc_id, unnest(fps) AS fp FROM b2),
    m2 AS (SELECT e2.doc_id, count(s2.fp) AS n_seen
           FROM e2 LEFT JOIN s2 ON e2.fp = s2.fp GROUP BY e2.doc_id),
    a2 AS (SELECT b2.doc_id, b2.fps, b2.n, m2.n_seen
           FROM b2 JOIN m2 USING (doc_id)
           WHERE m2.n_seen * 1000000 < 500000 * b2.n),
    acc AS (
      SELECT doc_id, CAST(0 AS BIGINT) AS batch, n, n_seen FROM a0
      UNION ALL
      SELECT doc_id, CAST(1 AS BIGINT), n, n_seen FROM a1
      UNION ALL
      SELECT doc_id, CAST(2 AS BIGINT), n, n_seen FROM a2
    )
    SELECT doc_id, batch, CAST(n AS BIGINT) AS n_fps,
           CAST(n_seen AS BIGINT) AS n_seen,
           CAST((n_seen * 1000000 - (n_seen * 1000000) % n) // n
                AS BIGINT) AS seen_ppm
    FROM acc
    """,
)
def q_streaming_cdc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming chunk-level crawl-refresh ingest (round 12) — the CDC
    twin of q_streaming_corpus_ingest: three deterministic micro-
    batches (doc_id % 3 — the staged one-file-per-batch replay of
    q_streaming_late_drop) flow through foreachBatch; each batch's
    documents are REJECTED when >= 50% of their distinct content-
    defined-chunk fingerprints already appear in the accepted store
    (the re-crawled-page-with-one-edited-paragraph shape exact dedup
    cannot catch), and accepted docs publish their chunk sets through
    the manifest-committed version protocol. FULL oracle — the DuckDB
    side unrolls the three batches as CTE stages with the identical
    integer accept predicate (n_seen * 1e6 < 5e5 * n_fps), so the
    sequential store semantics are value-hash-checked end to end.
    Output: every accepted doc with its batch, chunk count, seen-chunk
    count, and seen ratio in exact ppm.

    Scale: store state is one distinct 8-byte fingerprint column
    (compacted index at 100 TB); the per-batch probe is a left-semi
    equi-join on it; kernel cost is one Arrow pass per batch."""
    import os
    import tempfile

    from breweries_data_pipeline_spark.streaming import (
        streaming_cdc_ingest,
    )
    from breweries_data_pipeline_spark.streaming.upsert import (
        committed_versions,
    )
    from breweries_data_pipeline_spark.streaming.windows import (
        stage_parquet_batches,
    )

    docs = (
        read_table(spark, sf_dir, "documents")
        .where(F.length("text") >= 1)
        .select("doc_id", "text")
    )
    stages = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    staged = stage_parquet_batches(stages)
    store = tempfile.mkdtemp(prefix="bdp_cdc_store_")
    ckpt = tempfile.mkdtemp(prefix="bdp_cdc_ckpt_")
    sdf = (
        spark.readStream.schema(stages[0].schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    streaming_cdc_ingest(sdf, store, checkpoint_dir=ckpt)
    _drop_scratch(ckpt)
    _drop_scratch(staged)
    out = None
    for v in sorted(committed_versions(store)):
        part = spark.read.parquet(os.path.join(store, f"v{v}")).withColumn(
            "batch", F.lit(v).cast("long")
        )
        out = part if out is None else out.unionByName(part)
    return out.select(
        "doc_id",
        "batch",
        F.col("n_fps").cast("long").alias("n_fps"),
        F.col("n_seen").cast("long").alias("n_seen"),
        _long_div(
            F.col("n_seen") * 1000000, F.col("n_fps").cast("long")
        ).alias("seen_ppm"),
    )


@register(
    "q_domain_cap",
    """
    WITH u AS (
      SELECT doc_id,
             lower((CASE WHEN doc_id % 5 = 0 THEN 'WWW.' ELSE 'www.' END)
                   || source || '.example.com') AS host
      FROM documents
    ),
    r AS (
      SELECT doc_id, host,
             row_number() OVER (
               PARTITION BY host
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS kept_rank
      FROM u
    )
    SELECT doc_id, host, CAST(kept_rank AS BIGINT) AS kept_rank
    FROM r WHERE kept_rank <= 50
    """,
)
def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (round 11) — the C4/RefinedWeb
    diversity control: no single host may contribute more than N docs
    to the corpus, with the kept subset chosen by deterministic hash
    order (md5 of doc_id — reproducible across runs/engines/
    partitionings, no RNG state; the same discipline as
    q_token_budget_sample). Hosts come from the same deterministic
    URL synthesis as q_url_dedup, case-folded.

    Scale shape: 'top-50 per host by hash order' is a rank-filter over
    a SKEWED partition key (a crawl's biggest host is millions of
    pages). The plan uses the bucket-offset two-pass rank
    (operators.windows.bucketed_row_number, keyed on the md5 sort
    key's first 2 hex chars -> 256-way parallel local ranks +
    broadcast offsets), so no reducer ever owns a whole domain —
    result-identical to the single-task window DuckDB replays."""
    from breweries_data_pipeline_spark.operators.windows import (
        bucketed_row_number,
    )

    d = read_table(spark, sf_dir, "documents")
    i = F.col("doc_id")
    u = d.select(
        i.alias("doc_id"),
        F.lower(
            F.concat(
                F.when(i % 5 == 0, F.lit("WWW.")).otherwise(F.lit("www.")),
                F.col("source"),
                F.lit(".example.com"),
            )
        ).alias("host"),
        F.md5(i.cast("string")).alias("__ord"),
    )
    ranked = bucketed_row_number(
        u,
        ["host"],
        [F.col("__ord"), F.col("doc_id")],
        F.substring("__ord", 1, 2),
        rank_name="kept_rank",
    )
    return ranked.where(F.col("kept_rank") <= 50).select(
        "doc_id", "host", "kept_rank"
    )


@register(
    "q_url_dedup",
    """
    WITH u AS (
      SELECT doc_id,
             (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTPS://' END)
             || (CASE WHEN doc_id % 5 = 0 THEN 'WWW.' ELSE 'www.' END)
             || source || '.example.com'
             || (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END)
             || '/articles/' || CAST(doc_id % 401 AS VARCHAR)
             || (CASE WHEN doc_id % 2 = 0
                 THEN '?page=' || CAST((doc_id % 401) % 2 AS VARCHAR)
                      || '&utm_source=feed&v=1'
                 ELSE '?v=1&utm_campaign=' || CAST(doc_id % 97 AS VARCHAR)
                      || '&page=' || CAST((doc_id % 401) % 2 AS VARCHAR)
                 END)
             || (CASE WHEN doc_id % 6 = 0 THEN '#section-2' ELSE '' END)
               AS raw_url
      FROM documents
    ),
    c AS (
      SELECT doc_id, regexp_replace(raw_url, '#.*$', '') AS nofrag FROM u
    ),
    p AS (
      SELECT doc_id,
             lower(regexp_extract(nofrag,
               '^([a-zA-Z][a-zA-Z0-9+.\\-]*)://', 1)) AS scheme,
             lower(regexp_extract(nofrag,
               '^[^:]+://([^/?#]+)', 1)) AS host0,
             regexp_extract(nofrag, '^[^:]+://[^/?#]+(.*)$', 1) AS rest
      FROM c
    ),
    q AS (
      SELECT doc_id, scheme,
             CASE WHEN scheme = 'http'
                    THEN regexp_replace(host0, ':80$', '')
                  WHEN scheme = 'https'
                    THEN regexp_replace(host0, ':443$', '')
                  ELSE host0 END AS host,
             regexp_extract(rest, '^([^?]*)', 1) AS path,
             regexp_extract(rest, '\\?(.*)$', 1) AS qstr
      FROM p
    ),
    k AS (
      SELECT doc_id, scheme, host, path,
             list_sort(list_filter(str_split(qstr, '&'),
               x -> x <> '' AND NOT regexp_matches(x,
                 '^(utm_|ref=|fbclid=|gclid=)'))) AS kept
      FROM q
    )
    SELECT scheme || '://' || host || path
           || (CASE WHEN len(kept) > 0
               THEN '?' || array_to_string(kept, '&') ELSE '' END) AS url,
           MIN(doc_id) AS keeper_id,
           CAST(COUNT(*) AS BIGINT) AS n_dups
    FROM k
    GROUP BY 1
    """,
)
def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup (round 11) — stage ZERO of a crawl-corpus
    funnel, before any content hashing: collapse refetch/tracking
    variants of the same page by URL canonicalization
    (operators.corpus.canonical_url — scheme/host lowercase, default
    port stripped per scheme, fragment dropped, utm_/ref/fbclid/gclid
    params dropped, surviving params sorted) and keep the min doc_id
    per canonical URL with the duplicate count. The URLs are
    synthesized deterministically from (doc_id, source) with every
    variant class represented — case-shifted scheme/host, explicit
    :443, tracking params in shuffled order, fragments — so the
    canonicalizer's whole surface is value-checked by the DuckDB
    oracle. Plan shape: one narrow whole-stage-codegen projection
    (regexp/array built-ins, zero UDFs) feeding a single groupBy
    exchange keyed on the canonical string — at 100 TB the exchange
    carries one short key + two longs per row, and the projection
    vectorizes for free."""
    from breweries_data_pipeline_spark.operators.corpus import canonical_url

    d = read_table(spark, sf_dir, "documents")
    i = F.col("doc_id")
    pid = (i % 401).cast("string")
    page = ((i % 401) % 2).cast("string")
    raw = F.concat(
        F.when(i % 2 == 0, F.lit("https://")).otherwise(F.lit("HTTPS://")),
        F.when(i % 5 == 0, F.lit("WWW.")).otherwise(F.lit("www.")),
        F.col("source"),
        F.lit(".example.com"),
        F.when(i % 3 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/articles/"),
        pid,
        F.when(
            i % 2 == 0,
            F.concat(F.lit("?page="), page, F.lit("&utm_source=feed&v=1")),
        ).otherwise(
            F.concat(
                F.lit("?v=1&utm_campaign="),
                (i % 97).cast("string"),
                F.lit("&page="),
                page,
            )
        ),
        F.when(i % 6 == 0, F.lit("#section-2")).otherwise(F.lit("")),
    )
    return (
        d.select(i.alias("doc_id"), canonical_url(raw).alias("url"))
        .groupBy("url")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count("*").alias("n_dups"),
        )
    )


# shared CTE chain for the bitext miner and its audit twin: cells ->
# candidates -> integer-micro cosines -> neighborhood averages ->
# margin -> best pair per x (see q_bitext_mine for the discipline)
_SQL_BITEXT_CTES = f"""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    s AS (SELECT vec_id AS cell, v AS c FROM e
          WHERE vec_id < GREATEST(8, (SELECT count(*) FROM e) // 250)),
    d AS (
      SELECT e.vec_id, e.v, s.cell,
             row_number() OVER (PARTITION BY e.vec_id ORDER BY
               list_sum(list_transform(range(1, len(e.v) + 1),
                 i -> (e.v[i] - s.c[i]) * (e.v[i] - s.c[i]))), s.cell
             ) AS rn
      FROM e CROSS JOIN s
    ),
    m AS (
      SELECT vec_id, v, cell,
             sqrt({_SQL_DOT_V.format(a="v", b="v")}) AS nrm
      FROM d WHERE rn = 1
    ),
    p AS (
      SELECT x.vec_id AS x_id, y.vec_id AS y_id,
             CAST(round({_SQL_DOT_V.format(a="x.v", b="y.v")}
                        / (x.nrm * y.nrm) * 1000000.0) AS BIGINT)
               AS cos_micro
      FROM m x JOIN m y ON x.cell = y.cell
      WHERE x.vec_id % 2 = 0 AND y.vec_id % 2 = 1
    ),
    rx AS (
      SELECT *, row_number() OVER (PARTITION BY x_id
                                   ORDER BY cos_micro DESC, y_id) AS r
      FROM p
    ),
    ax AS (
      SELECT x_id, CAST(sum(cos_micro) // count(*) AS BIGINT) AS ax_micro
      FROM rx WHERE r <= 4 GROUP BY x_id
    ),
    ry AS (
      SELECT *, row_number() OVER (PARTITION BY y_id
                                   ORDER BY cos_micro DESC, x_id) AS r
      FROM p
    ),
    ay AS (
      SELECT y_id, CAST(sum(cos_micro) // count(*) AS BIGINT) AS ay_micro
      FROM ry WHERE r <= 4 GROUP BY y_id
    ),
    g AS (
      SELECT p.x_id, p.y_id, p.cos_micro,
             CASE WHEN ax.ax_micro + ay.ay_micro > 0
                  THEN p.cos_micro * 2000000 // (ax.ax_micro + ay.ay_micro)
                  ELSE 0 END AS margin_ppm
      FROM p
      JOIN ax ON ax.x_id = p.x_id
      JOIN ay ON ay.y_id = p.y_id
    ),
    best AS (
      SELECT *, row_number() OVER (PARTITION BY x_id
                                   ORDER BY margin_ppm DESC, y_id) AS rn
      FROM g
    )
"""


@register(
    "q_bitext_mine",
    _SQL_BITEXT_CTES
    + """
    SELECT x_id, y_id AS best_y_id, cos_micro,
           CAST(margin_ppm AS BIGINT) AS margin_ppm,
           CAST(CASE WHEN margin_ppm >= 1050000 THEN 1 ELSE 0 END AS BIGINT)
             AS mined
    FROM best WHERE rn = 1
    """,
)
def q_bitext_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (the CCMatrix / LASER parallel-pair
    miner, ratio-margin variant): split the embedding store into two
    'language' sides (vec_id parity), generate candidates by IVF cell
    (shared deterministic seed centroids — the oracle lane's k=8
    lowest-id seeds, exactly q_kmeans_assign's discipline), score
    each candidate by cosine, and normalize by the neighborhood:
    margin(x,y) = 2*cos(x,y) / (avg_top4(x) + avg_top4(y)). Each x
    emits its best y with the margin and a mined flag at the standard
    1.05 cutoff — the pair-harvesting pass a multilingual pretraining
    pipeline runs over billions of sentences.

    Exactness: cell assignment is an argmin over pinned-order exact-
    fold L2 distances computed as a ZERO-SHUFFLE array_min over the
    broadcast seed literal (same doubles as DuckDB's CROSS JOIN +
    row_number replay); cosines are pinned-order fold doubles rounded
    to integer micro-units once, and every downstream step (top-4
    sums, averages, the margin itself) is signed integer arithmetic —
    Spark `div` and DuckDB `//` both truncate toward zero (verified),
    and a non-positive neighborhood denominator pins margin to the 0
    sentinel in both engines.

    Scale: the seeds are bounded model state (k x d floats, the
    documented bounded-collect class); assignment is codegen'd narrow
    map; the candidate join is an EQUI-join on cell (never x-corpus
    crossJoin — candidate volume is sum over cells of |X_c| x |Y_c|,
    controlled in production by growing k with N and probing n_probe
    cells, exactly q_similarity_ivf's knob); the two neighborhood
    windows and the final best-pair rank each reuse one hash exchange
    on their key. Margin scoring is output-bound in the candidate
    volume — the same contract as the LSH dedup family."""
    emb = read_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    # k ~ N / target_cell_size, the IVF knob that keeps candidate
    # volume (sum over cells of |X_c| x |Y_c|) LINEAR-ish as the
    # corpus grows; the oracle SQL computes k with the SAME formula,
    # so the whole exact-fold regime (k <= 16, i.e. stores up to
    # ~4,250 rows) is oracle-true, not just the k=8 floor (same
    # discipline as q_semantic_dedup)
    k = max(8, emb.count() // 250)
    # bounded collect: k seed vectors (k x 64 floats) — model state
    seeds = (
        e.filter(F.col("vec_id") < k).orderBy("vec_id").collect()
    )

    # ivf_l2_cell_column picks the nearest-centroid lane from k: the
    # exact-fold lane up to k = 16 (the oracle regime, same doubles
    # DuckDB's CROSS JOIN + row_number replays; the SQL computes k
    # with the SAME max(8, N//250) formula, so the 9-16 window is
    # oracle-true too), the numpy lane above (one pass for all
    # centroids, ties to the lowest cell id; not an IEEE-order replay
    # — cross-lane equivalence pinned by tests/test_similarity.py).
    from breweries_data_pipeline_spark.operators.similarity import (
        exact_cosine,
        exact_norm,
        ivf_l2_cell_column,
    )

    seed_cells = [(int(r["vec_id"]), list(r["v"])) for r in seeds]
    cell = ivf_l2_cell_column(seed_cells, F.col("v")).alias("cell")

    assigned = e.select("vec_id", "v", cell).withColumn(
        "nrm", exact_norm(F.col("v"))
    )
    x = assigned.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("x_id"),
        F.col("v").alias("xv"),
        "cell",
        F.col("nrm").alias("xn"),
    )
    y = assigned.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("y_id"),
        F.col("v").alias("yv"),
        "cell",
        F.col("nrm").alias("yn"),
    )
    from breweries_data_pipeline_spark.cache import track_persist

    # per-PAIR exact cosine through the Arrow exact-fold kernel
    # (bit-identical IEEE sequence to the interpreted HOF fold and
    # DuckDB's list fold) — the candidate volume makes interpreted
    # per-element folds the bottleneck here. Persisted because THREE
    # consumers read it (both neighborhood windows + the margin join).
    p = track_persist(
        x.join(y, "cell").select(
            "x_id",
            "y_id",
            F.round(
                exact_cosine(F.col("xv"), F.col("yv"), F.col("xn"), F.col("yn"))
                * 1000000.0
            )
            .cast("long")
            .alias("cos_micro"),
        )
    )
    wx = Window.partitionBy("x_id").orderBy(
        F.col("cos_micro").desc(), F.col("y_id")
    )
    wy = Window.partitionBy("y_id").orderBy(
        F.col("cos_micro").desc(), F.col("x_id")
    )
    ax = (
        p.withColumn("r", F.row_number().over(wx))
        .where(F.col("r") <= 4)
        .groupBy("x_id")
        .agg(
            F.expr("sum(cos_micro) div count(*)").cast("long").alias("ax_micro")
        )
    )
    ay = (
        p.withColumn("r", F.row_number().over(wy))
        .where(F.col("r") <= 4)
        .groupBy("y_id")
        .agg(
            F.expr("sum(cos_micro) div count(*)").cast("long").alias("ay_micro")
        )
    )
    g = (
        p.join(ax, "x_id")
        .join(ay, "y_id")
        .select(
            "x_id",
            "y_id",
            "cos_micro",
            F.when(
                F.col("ax_micro") + F.col("ay_micro") > 0,
                F.expr("cos_micro * 2000000L div (ax_micro + ay_micro)"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("margin_ppm"),
        )
    )
    wbest = Window.partitionBy("x_id").orderBy(
        F.col("margin_ppm").desc(), F.col("y_id")
    )
    return (
        g.withColumn("rn", F.row_number().over(wbest))
        .where(F.col("rn") == 1)
        .select(
            "x_id",
            F.col("y_id").alias("best_y_id"),
            "cos_micro",
            "margin_ppm",
            (F.col("margin_ppm") >= 1050000)
            .cast("long")
            .alias("mined"),
        )
    )


@register(
    "q_bitext_audit",
    _SQL_BITEXT_CTES
    + """
    , sel AS (
      SELECT x_id, y_id,
             CAST(CASE WHEN margin_ppm >= 1050000 THEN 1 ELSE 0 END
                  AS BIGINT) AS mined
      FROM best WHERE rn = 1
    )
    SELECT sel.mined,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN lx.label = ly.label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_same_label,
           CAST(sum(CASE WHEN lx.label = ly.label THEN 1 ELSE 0 END)
                * 1000000 // count(*) AS BIGINT) AS precision_ppm
    FROM sel
    JOIN embeddings lx ON lx.vec_id = sel.x_id
    JOIN embeddings ly ON ly.vec_id = sel.y_id
    GROUP BY sel.mined ORDER BY sel.mined
    """,
)
def q_bitext_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision instrument for the bitext miner: the synthetic
    embedding store carries cluster labels, so a mined pair whose two
    sides share a label is a 'true parallel' proxy — the audit reports
    pair counts and same-label precision (ppm, exact integral
    division) split by the mined flag, the readout that tells you
    whether the margin cutoff separates signal from noise on a corpus
    before a crawl-scale run commits to it. NOTE on the test store:
    its labels are uncorrelated with embedding geometry (the true-NN
    same-label rate is ~1/n_labels, measured 9.6%), so BOTH rows sit
    at the ~100k-ppm random baseline here — the expected reading for
    a noise-grade label column, which is itself the calibration check
    (an instrument that reported high precision on uncorrelated
    labels would be broken). Same
    linear-instrument contract as q_bucket_audit / q_lsh_recall_audit:
    one label lookup per EMITTED pair (output-bound), never a
    pairwise sweep. The label joins broadcast the two-column
    projection of the store; everything upstream is q_bitext_mine's
    plan verbatim."""
    labels = read_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    best = q_bitext_mine(spark, sf_dir).select(
        "x_id", "best_y_id", "mined"
    )
    same = (
        best.join(
            labels.select(
                F.col("vec_id").alias("x_id"), F.col("label").alias("lx")
            ),
            "x_id",
        )
        .join(
            labels.select(
                F.col("vec_id").alias("best_y_id"),
                F.col("label").alias("ly"),
            ),
            "best_y_id",
        )
        .select(
            "mined",
            F.when(F.col("lx") == F.col("ly"), 1).otherwise(0).alias("s"),
        )
    )
    return (
        same.groupBy("mined")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("s").cast("long").alias("n_same_label"),
            F.expr("sum(s) * 1000000 div count(*)")
            .cast("long")
            .alias("precision_ppm"),
        )
        .orderBy("mined")
    )
