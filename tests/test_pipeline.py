"""S10 + §2.7: YAML config loading and the config-driven pipeline
runner, proven against fixture configs in the reference pipeline's
own YAML shapes (tests/fixtures/reference_configs) and a
breweries-shaped stub API.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import types as T

from breweries_data_pipeline_spark.pipeline import (
    load_metadata,
    load_pipeline_config,
    run_pipeline,
)

REF_CONFIGS = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "fixtures", "reference_configs"
)

# a paginated stub API: mixed-case/whitespace strings, a duplicate id,
# a null name — exercising every silver cleaning rule
PAGES = [
    [
        {"id": "b1", "name": "  Alpha Brew  ", "brewery_type": "Micro",
         "city": "Austin", "state": "TX", "country": "US",
         "updated_at": "2025-01-01T00:00:00Z"},
        {"id": "b2", "name": "BETA", "brewery_type": "nano",
         "city": " Portland ", "state": "or", "country": "US",
         "updated_at": "2025-01-01T00:00:00Z"},
    ],
    [
        {"id": "b1", "name": "Alpha Brew DUPLICATE", "brewery_type": "micro",
         "city": "Austin", "state": "TX", "country": "US",
         "updated_at": "2025-01-02T00:00:00Z"},
        {"id": "b3", "name": None, "brewery_type": "brewpub",
         "city": "Denver", "state": "CO", "country": "US",
         "updated_at": "2025-01-01T00:00:00Z"},
        {"id": "b4", "name": "Delta", "brewery_type": "regional",
         "city": "Miami", "state": "FL", "country": "US",
         "updated_at": "2025-01-01T00:00:00Z"},
    ],
]


def stub_fetch_page(page: int, per_page: int):
    return PAGES[page - 1] if page <= len(PAGES) else []


def test_load_reference_metadata_schemas():
    ing = load_metadata(f"{REF_CONFIGS}/metadata/breweries_metadata_ingestion.yml")
    assert [f.name for f in ing.schema.fields] == [
        "id", "name", "brewery_type", "city", "state", "country",
        "updated_at", "ingestion_date",
    ]
    assert isinstance(ing.schema["updated_at"].dataType, T.TimestampType)
    assert isinstance(ing.schema["ingestion_date"].dataType, T.DateType)
    assert not ing.schema["id"].nullable
    assert ing.partition_by == ["state"]

    gold = load_metadata(f"{REF_CONFIGS}/metadata/breweries_metadata_gold.yml")
    # 'integer' maps to a real integral type, not the reference's
    # silent StringType fallback
    assert isinstance(gold.schema["total_breweries"].dataType, T.IntegerType)


def test_load_reference_pipeline_configs():
    ing = load_pipeline_config(f"{REF_CONFIGS}/breweries_ingestion_pipeline.yml")
    assert [s.task_id for s in ing.stages] == ["fetch_data_bronze", "transform_silver"]
    assert [s.kind for s in ing.stages] == ["ingest", "transform"]
    assert ing.stages[1].depends_on == ["fetch_data_bronze"]

    gold = load_pipeline_config(f"{REF_CONFIGS}/breweries_gold_pipeline.yml")
    assert [s.kind for s in gold.stages] == ["aggregate", "quality"]


def test_reference_ingestion_pipeline_end_to_end(spark, tmp_path):
    cfg = load_pipeline_config(f"{REF_CONFIGS}/breweries_ingestion_pipeline.yml")
    results = run_pipeline(
        spark,
        cfg,
        variables={"ds": "2025-01-01"},
        path_rewrites={
            "/opt/airflow/data": str(tmp_path / "data"),
            "/opt/airflow/configs": REF_CONFIGS,
        },
        fetch_page=stub_fetch_page,
    )
    assert results["fetch_data_bronze"]["records"] == 5

    silver = spark.read.parquet(results["transform_silver"]["output_path"])
    rows = {r.id: r for r in silver.collect()}
    # b1 deduped to one row; b3 dropped (null name); strings normalized
    assert sorted(rows) == ["b1", "b2", "b4"]
    assert rows["b1"].name == "alpha brew"
    assert rows["b2"].state == "or" and rows["b2"].city == "portland"
    # partitioned by state per the metadata declaration
    assert results["transform_silver"]["partition_by"] == ["state"]
    out = results["transform_silver"]["output_path"]
    part_dirs = [d for d in os.listdir(out) if d.startswith("state=")]
    assert len(part_dirs) == 3
    # one data file per partition directory
    for d in part_dirs:
        files = [f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)


def test_reference_gold_aggregate_stage(spark, tmp_path):
    """The reference gold config's aggregate stage over a silver-shaped
    fixture reproduces the union-of-views long format: discriminator
    column, missing-columns-null, stamp."""
    silver = spark.createDataFrame(
        [("tx", "micro"), ("tx", "nano"), ("or", "micro")],
        ["state", "brewery_type"],
    )
    silver.write.parquet(str(tmp_path / "silver"))

    cfg = load_pipeline_config(f"{REF_CONFIGS}/breweries_gold_pipeline.yml")
    agg_stage = [s for s in cfg.stages if s.kind == "aggregate"][0]
    from breweries_data_pipeline_spark.pipeline import PathResolver, run_aggregate_stage

    paths = PathResolver(
        {"ds": "2025-01-01"},
        {"/opt/airflow/data/silver/breweries/2025-01-01/": str(tmp_path / "silver"),
         "/opt/airflow/data/gold/breweries/2025-01-01/": str(tmp_path / "gold")},
    )
    run_aggregate_stage(spark, agg_stage, paths)

    gold = spark.read.parquet(str(tmp_path / "gold"))
    assert sorted(gold.columns) == [
        "aggregation", "brewery_count", "brewery_type", "state",
        "transformation_date",
    ]
    by_state = [r for r in gold.collect() if r.aggregation == "by_state"]
    by_type = [r for r in gold.collect() if r.aggregation == "by_type"]
    # missing-column-null topology: by_state rows have null brewery_type
    assert all(r.brewery_type is None for r in by_state)
    assert all(r.state is None for r in by_type)
    assert {(r.state, r.brewery_count) for r in by_state} == {("tx", 2), ("or", 1)}
    assert all(r.transformation_date == "2025-01-01" for r in gold.collect())


def test_engine_gold_pipeline_with_quality_report(spark, tmp_path):
    silver = spark.createDataFrame(
        [("tx", "micro"), ("tx", "nano"), ("or", "micro"), ("or", None)],
        ["state", "brewery_type"],
    )
    silver.write.parquet(str(tmp_path / "silver"))

    cfg = load_pipeline_config("configs/example_gold_pipeline.yml")
    results = run_pipeline(
        spark, cfg,
        variables={"ds": "2025-06-30", "base": str(tmp_path)},
    )
    report_path = results["validate_gold_quality"]["report_path"]
    with open(report_path) as f:
        report = json.load(f)
    by_rule = {r["rule_name"]: r for r in report}
    assert by_rule["Count > 0 for all views"]["passed"] is True
    assert by_rule["View discriminator present"]["invalid_count"] == 0


def _count(name="brewery_count"):
    return {"name": name, "expr": "count(*)"}


def _views_by_union(df, specs, stamp):
    """The per-view reference: one groupBy per view, each tagged with
    its name and stacked by column name, missing columns null."""
    from pyspark.sql import functions as F

    out = None
    for spec in specs:
        aggs = [F.expr(m["expr"]).alias(m["name"]) for m in spec["metrics"]]
        keys = spec.get("group_by", [])
        view = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)
        view = view.withColumn("aggregation", F.lit(spec["name"]))
        out = view if out is None else out.unionByName(view, allowMissingColumns=True)
    return out.withColumn("transformation_date", F.lit(stamp))


_VIEW_SPECS = {
    # a null brewery_type is a group of by_type, not "not grouped"
    "null_key": [
        {"name": "by_state", "group_by": ["state"], "metrics": [_count()]},
        {"name": "by_type", "group_by": ["brewery_type"], "metrics": [_count()]},
    ],
    # one key set, two views (declared in different key orders)
    "shared_key_set": [
        {"name": "by_country_type", "group_by": ["country", "brewery_type"],
         "metrics": [_count()]},
        {"name": "by_type_country", "group_by": ["brewery_type", "country"],
         "metrics": [_count()]},
        {"name": "by_state", "group_by": ["state"], "metrics": [_count()]},
    ],
    "grand_total": [
        {"name": "total", "group_by": [], "metrics": [_count()]},
        {"name": "by_type", "group_by": ["brewery_type"], "metrics": [_count()]},
    ],
    # per-view metric lists, one name with two expressions, and a
    # metric over another view's key, which must see the real states
    "per_view_metrics": [
        {"name": "by_state", "group_by": ["state"],
         "metrics": [_count(), {"name": "top_type", "expr": "max(brewery_type)"}]},
        {"name": "by_type", "group_by": ["brewery_type"],
         "metrics": [{"name": "n_states", "expr": "count(distinct state)"},
                     {"name": "brewery_count", "expr": "count(brewery_type)"}]},
        {"name": "by_country", "group_by": ["country"],
         "metrics": [_count(), {"name": "n_states", "expr": "count(distinct state)"}]},
    ],
}


@pytest.mark.parametrize("shape", sorted(_VIEW_SPECS))
def test_aggregate_views_matches_per_view_union(spark, shape):
    """One grouping-sets aggregate gives the per-view groupBy union's
    rows, column order and column types for every spec shape."""
    from collections import Counter

    from breweries_data_pipeline_spark.operators.aggregate import aggregate_views

    silver = spark.createDataFrame(
        [("tx", "micro", "us"), ("tx", None, "us"), ("tx", "nano", "us"),
         ("or", "micro", "us"), ("on", "micro", "ca"), (None, None, "ca")],
        "state string, brewery_type string, country string",
    )
    specs = _VIEW_SPECS[shape]
    got = aggregate_views(silver, specs, stamp_value="2025-01-01")
    want = _views_by_union(silver, specs, "2025-01-01")
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in want.schema
    ]
    assert Counter(map(tuple, got.collect())) == Counter(map(tuple, want.collect()))


def test_aggregate_views_gold_contract(spark):
    """The medallion gold views keep the gold table's column order, and
    a null brewery_type stays apart from the rows that do not group by
    it."""
    from breweries_data_pipeline_spark.operators.aggregate import aggregate_views

    silver = spark.createDataFrame(
        [("tx", None, "us"), ("tx", "micro", "us")],
        "state string, brewery_type string, country string",
    )
    gold = aggregate_views(
        silver,
        [
            {"name": "by_state", "group_by": ["state"], "metrics": [_count()]},
            {"name": "by_type", "group_by": ["brewery_type"], "metrics": [_count()]},
            {"name": "by_country_type", "group_by": ["country", "brewery_type"],
             "metrics": [_count()]},
        ],
        stamp_value="2025-01-01",
    )
    assert gold.columns == [
        "state", "brewery_count", "aggregation", "brewery_type", "country",
        "transformation_date",
    ]
    rows = {tuple(r[:5]) for r in gold.collect()}
    assert rows == {
        ("tx", 2, "by_state", None, None),
        (None, 1, "by_type", None, None),
        (None, 1, "by_type", "micro", None),
        (None, 1, "by_country_type", None, "us"),
        (None, 1, "by_country_type", "micro", "us"),
    }


def test_aggregate_views_rejects_bad_specs(spark):
    from breweries_data_pipeline_spark.operators.aggregate import aggregate_views

    df = spark.createDataFrame([("tx",)], "state string")
    with pytest.raises(ValueError, match="unique view names"):
        aggregate_views(df, [
            {"name": "v", "group_by": ["state"], "metrics": [_count()]},
            {"name": "v", "group_by": [], "metrics": [_count()]},
        ])
    with pytest.raises(ValueError, match="declares no metric"):
        aggregate_views(df, [{"name": "v", "group_by": ["state"], "metrics": []}])


def test_unknown_rule_type_raises(spark, tmp_path):
    spark.createDataFrame([(1,)], ["x"]).write.parquet(str(tmp_path / "t"))
    cfg = load_pipeline_config("configs/example_gold_pipeline.yml")
    q = [s for s in cfg.stages if s.kind == "quality"][0]
    q.quality_rules = [{"rule": "typo'd", "column": "x", "type": "not_nul"}]
    from breweries_data_pipeline_spark.pipeline import PathResolver, run_quality_stage

    paths = PathResolver({"base": str(tmp_path)}, {})
    q.parameters = {"input_path": str(tmp_path / "t"),
                    "report_path": str(tmp_path / "r.json")}
    with pytest.raises(ValueError, match="unknown quality rule"):
        run_quality_stage(spark, q, paths)


def test_dependency_cycle_detected():
    from breweries_data_pipeline_spark.pipeline import Stage, _topo_sort

    a = Stage("a", "quality", {}, [{"rule": "r", "column": "c", "type": "not_null"}], ["b"])
    b = Stage("b", "quality", {}, [{"rule": "r", "column": "c", "type": "not_null"}], ["a"])
    with pytest.raises(ValueError, match="cycle"):
        _topo_sort([a, b])


def test_pipeline_emits_per_stage_metrics(spark, tmp_path, caplog):
    """Every attempted stage yields one metric record with status /
    duration / rows_written (Observation-fed — no plan re-execution),
    and a matching structured JSON event in the log (closes the
    reference observability gap, src/libs/observability.py:9-89)."""
    import logging

    cfg = load_pipeline_config(f"{REF_CONFIGS}/breweries_ingestion_pipeline.yml")
    with caplog.at_level(
        logging.INFO, logger="breweries_data_pipeline_spark.pipeline"
    ):
        results = run_pipeline(
            spark,
            cfg,
            variables={"ds": "2025-01-01"},
            path_rewrites={
                "/opt/airflow/data": str(tmp_path / "data"),
                "/opt/airflow/configs": REF_CONFIGS,
            },
            fetch_page=stub_fetch_page,
        )
    assert [m["stage"] for m in results.metrics] == [
        "fetch_data_bronze", "transform_silver",
    ]
    by_stage = {m["stage"]: m for m in results.metrics}
    assert all(m["status"] == "success" for m in results.metrics)
    assert all(m["duration_sec"] >= 0 for m in results.metrics)
    assert by_stage["fetch_data_bronze"]["rows_written"] == 5
    # silver rows_written == what the Observation saw == what's on disk
    n_silver = spark.read.parquet(
        results["transform_silver"]["output_path"]
    ).count()
    assert by_stage["transform_silver"]["rows_written"] == n_silver

    events = [json.loads(r.message) for r in caplog.records
              if r.name == "breweries_data_pipeline_spark.pipeline"]
    kinds = [(e["event"], e["stage"]) for e in events]
    assert kinds == [
        ("stage_started", "fetch_data_bronze"),
        ("stage_finished", "fetch_data_bronze"),
        ("stage_started", "transform_silver"),
        ("stage_finished", "transform_silver"),
    ]


def test_pipeline_failure_metric_and_on_failure_hook(spark, tmp_path):
    """A failing stage records a failed metric, invokes the pluggable
    on_failure hook with it (reference src/libs/alerts.py:30-87), and
    still propagates the original exception — including when the hook
    itself raises."""
    cfg = load_pipeline_config(f"{REF_CONFIGS}/breweries_ingestion_pipeline.yml")
    alerts = []

    def bad_hook(metric):
        alerts.append(metric)
        raise RuntimeError("alert transport down")

    def broken_fetch(page, per_page):
        raise ConnectionError("api unreachable")

    with pytest.raises(Exception, match="api unreachable"):
        run_pipeline(
            spark,
            cfg,
            variables={"ds": "2025-01-01"},
            path_rewrites={
                "/opt/airflow/data": str(tmp_path / "data"),
                "/opt/airflow/configs": REF_CONFIGS,
            },
            fetch_page=broken_fetch,
            on_failure=bad_hook,
        )
    assert len(alerts) == 1
    assert alerts[0]["stage"] == "fetch_data_bronze"
    assert alerts[0]["status"] == "failed"
    assert "api unreachable" in alerts[0]["error"]


def test_tied_versions_give_the_same_silver_in_either_page_order(spark, tmp_path):
    """A declared dedup order that ties (two versions of one id with
    the same updated_at) is completed with the remaining schema
    columns, so the silver row kept does not depend on the order the
    API served the pages in."""
    tied = [
        {"id": "b1", "name": "Beta Brew", "brewery_type": "micro",
         "city": "Austin", "state": "TX", "country": "US",
         "updated_at": "2025-01-01T00:00:00Z"},
        {"id": "b2", "name": "Gamma", "brewery_type": "nano",
         "city": "Dallas", "state": "TX", "country": "US",
         "updated_at": "2025-01-01T00:00:00Z"},
    ]
    other = [
        {"id": "b1", "name": "Alpha Brew", "brewery_type": "brewpub",
         "city": "Austin", "state": "TX", "country": "US",
         "updated_at": "2025-01-01T00:00:00Z"},
    ]

    def silver_rows(pages, name):
        cfg = load_pipeline_config(f"{REF_CONFIGS}/breweries_ingestion_pipeline.yml")
        cfg.stages[1].parameters["normalize"]["dedup_order_by"] = ["updated_at"]
        results = run_pipeline(
            spark,
            cfg,
            variables={"ds": "2025-01-01"},
            path_rewrites={
                "/opt/airflow/data": str(tmp_path / name),
                "/opt/airflow/configs": REF_CONFIGS,
            },
            fetch_page=lambda page, per_page: pages[page - 1] if page <= len(pages) else [],
        )
        silver = spark.read.parquet(results["transform_silver"]["output_path"])
        return sorted(tuple(r) for r in silver.select(sorted(silver.columns)).collect())

    first = silver_rows([tied, other], "a")
    second = silver_rows([other, tied], "b")
    assert first == second
    assert len(first) == 2


def _run_ingest_only(spark, tmp_path, add_ingestion_date=True):
    """Run just the reference config's Bronze stage; return the stage
    result and the ids of the Spark jobs it launched."""
    from breweries_data_pipeline_spark.pipeline import PathResolver, run_ingest_stage

    cfg = load_pipeline_config(f"{REF_CONFIGS}/breweries_ingestion_pipeline.yml")
    stage = cfg.stages[0]
    stage.parameters["add_ingestion_date"] = add_ingestion_date
    paths = PathResolver({"ds": "2025-01-01"}, {"/opt/airflow/data": str(tmp_path)})
    sc = spark.sparkContext
    group = f"bronze-{tmp_path.name}"
    sc.setJobGroup(group, "ingest stage only")
    try:
        res = run_ingest_stage(spark, stage, paths, stub_fetch_page)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return res, list(sc.statusTracker().getJobIdsForGroup(group))


def test_ingest_stage_runs_no_spark_job_and_writes_one_file(spark, tmp_path):
    """Bronze is one stamped JSONL file, written without Spark."""
    res, jobs = _run_ingest_only(spark, tmp_path)
    assert jobs == []
    bronze_dir = os.path.dirname(res["raw_path"])
    assert os.listdir(bronze_dir) == [os.path.basename(res["raw_path"])]
    with open(res["raw_path"]) as f:
        lines = [json.loads(line) for line in f]
    assert res["records"] == len(lines) == 5
    assert all(r["ingestion_date"] == "2025-01-01" for r in lines)


def test_ingest_stage_without_stamp_writes_no_ingestion_date(spark, tmp_path):
    res, jobs = _run_ingest_only(spark, tmp_path, add_ingestion_date=False)
    assert jobs == []
    with open(res["raw_path"]) as f:
        lines = [json.loads(line) for line in f]
    assert len(lines) == 5
    assert not any("ingestion_date" in r for r in lines)


def test_silver_rows_carry_the_bronze_ingestion_date(spark, tmp_path):
    import datetime

    cfg = load_pipeline_config(f"{REF_CONFIGS}/breweries_ingestion_pipeline.yml")
    results = run_pipeline(
        spark,
        cfg,
        variables={"ds": "2025-01-01"},
        path_rewrites={
            "/opt/airflow/data": str(tmp_path / "data"),
            "/opt/airflow/configs": REF_CONFIGS,
        },
        fetch_page=stub_fetch_page,
    )
    silver = spark.read.parquet(results["transform_silver"]["output_path"])
    dates = [r.ingestion_date for r in silver.select("ingestion_date").collect()]
    assert len(dates) == 3
    assert set(dates) == {datetime.date(2025, 1, 1)}
