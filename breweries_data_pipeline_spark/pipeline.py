"""Config-driven pipeline runner (SURVEY.md §2.1 S10, §2.7).

Loads the reference's own YAML shapes — pipeline configs with a
``stages:`` list (reference configs/breweries_ingestion_pipeline.yml,
configs/breweries_gold_pipeline.yml; DAG builder
dags/breweries_ingestion_dag.py:41-101) and per-dataset schema
metadata (configs/metadata/*.yml) — and executes the declared stages
in dependency order inside ONE SparkSession.

Differences from the reference's Airflow execution model, on purpose:
- one process, one session: stages hand DataFrames through the
  filesystem only at declared layer boundaries, not because each task
  is a separate Python process.
- each stage runs at most one Spark action (the write); the
  reference's repeated ``df.count()`` re-executions
  (breweries_transform_silver_notebook.py:81,112) are dropped.
- Bronze is one JSONL file whose records carry the ``ingestion_date``
  stamp from the moment they are written, so the ingest stage runs no
  Spark job; the reference re-reads the raw file with schema
  inference and rewrites it as a second, stamped JSON copy
  (breweries_fetch_bronze_notebook.py:96-106).
- unknown quality-rule types raise instead of vacuously passing
  (reference breweries_data_quality_gold.py:32-33).

Stage kind is inferred from the parameters the reference uses:
``pagination``/``url`` -> ingest, ``normalize`` -> transform,
``aggregations`` -> aggregate, ``quality_rules`` -> quality.
"""

from __future__ import annotations

import json
import logging
import os
import re
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import yaml
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from breweries_data_pipeline_spark.operators.aggregate import aggregate_views
from breweries_data_pipeline_spark.operators.clean import (
    cast_columns,
    deduplicate,
    drop_null_required,
    normalize_strings,
)
from breweries_data_pipeline_spark.operators.quality import rules_dataframe
from breweries_data_pipeline_spark.schema import build_struct_type
from breweries_data_pipeline_spark.sources.rest_api import FetchPage, fetch_all
from breweries_data_pipeline_spark.sources.writers import (
    write_parquet,
    write_quality_report,
)

_TEMPLATE_RE = re.compile(r"\{\{\s*(\w+)\s*\}\}")


def load_yaml(path: str) -> dict[str, Any]:
    with open(path) as f:
        return yaml.safe_load(f)


@dataclass
class Metadata:
    """Compiled dataset metadata (reference configs/metadata/*.yml)."""

    dataset: dict[str, Any]
    schema: T.StructType
    partition_by: list[str]


def load_metadata(path: str) -> Metadata:
    raw = load_yaml(path)
    dataset = raw.get("dataset", {})
    part = dataset.get("partition_by") or []
    if isinstance(part, str):
        part = [part]
    return Metadata(
        dataset=dataset,
        schema=build_struct_type(raw["schema"]),
        partition_by=part,
    )


@dataclass
class Stage:
    task_id: str
    kind: str
    parameters: dict[str, Any]
    quality_rules: list[dict[str, Any]] = field(default_factory=list)
    depends_on: list[str] = field(default_factory=list)


@dataclass
class PipelineConfig:
    name: str
    stages: list[Stage]
    globals: dict[str, Any] = field(default_factory=dict)


def _infer_kind(params: dict[str, Any], quality_rules: list) -> str:
    if quality_rules:
        return "quality"
    if "aggregations" in params:
        return "aggregate"
    if "normalize" in params:
        return "transform"
    if "pagination" in params or "url" in params:
        return "ingest"
    raise ValueError(f"cannot infer stage kind from parameters: {sorted(params)}")


def load_pipeline_config(path: str) -> PipelineConfig:
    raw = load_yaml(path)
    stages = []
    for s in raw.get("stages", []):
        params = s.get("parameters", {}) or {}
        rules = s.get("quality_rules", []) or []
        stages.append(
            Stage(
                task_id=s["task_id"],
                kind=_infer_kind(params, rules),
                parameters=params,
                quality_rules=rules,
                depends_on=list(s.get("depends_on", []) or []),
            )
        )
    name = (raw.get("dag") or {}).get("dag_id", os.path.basename(path))
    return PipelineConfig(name=name, stages=stages, globals=raw.get("globals", {}) or {})


def _topo_sort(stages: list[Stage]) -> list[Stage]:
    by_id = {s.task_id: s for s in stages}
    seen: dict[str, int] = {}  # 0=visiting, 1=done
    out: list[Stage] = []

    def visit(s: Stage) -> None:
        state = seen.get(s.task_id)
        if state == 1:
            return
        if state == 0:
            raise ValueError(f"dependency cycle at stage {s.task_id!r}")
        seen[s.task_id] = 0
        for dep in s.depends_on:
            if dep in by_id:
                visit(by_id[dep])
        seen[s.task_id] = 1
        out.append(s)

    for s in stages:
        visit(s)
    return out


class PathResolver:
    """Renders ``{{ var }}`` templates and rewrites path prefixes so
    configs written for one environment (the reference's
    ``/opt/airflow/...``) run against local directories."""

    def __init__(
        self,
        variables: dict[str, str] | None = None,
        rewrites: dict[str, str] | None = None,
    ):
        self.variables = variables or {}
        # longest prefix first so overlapping rewrites resolve stably
        self.rewrites = sorted(
            (rewrites or {}).items(), key=lambda kv: -len(kv[0])
        )

    def resolve(self, path: str) -> str:
        path = _TEMPLATE_RE.sub(lambda m: str(self.variables.get(m.group(1), m.group(0))), path)
        for prefix, repl in self.rewrites:
            if path.startswith(prefix):
                return repl + path[len(prefix):]
        return path


def _string_columns(schema: T.StructType) -> list[str]:
    return [f.name for f in schema.fields if isinstance(f.dataType, T.StringType)]


def run_ingest_stage(
    spark: SparkSession,
    stage: Stage,
    paths: PathResolver,
    fetch_page: FetchPage,
) -> dict[str, Any]:
    """Bronze: paginated fetch -> JSONL stamped with ``ingestion_date``
    (``ds``) as each record is serialised -> atomic publish (reference
    breweries_fetch_bronze_notebook.py:113-130, which re-reads the
    file with Spark only to add the stamp). Runs no Spark job; silver
    reads the published file. The transport is injected — no network
    inside the engine."""
    p = stage.parameters
    pag = p.get("pagination", {}) or {}
    records = fetch_all(
        fetch_page,
        per_page=pag.get("per_page_value", 50),
        max_pages=pag.get("max_pages"),
        retries=p.get("retries", 3),
        backoff=p.get("backoff_seconds", 2.0),
    )
    stamp = (
        {"ingestion_date": paths.variables.get("ds")}
        if p.get("add_ingestion_date", True)
        else {}
    )
    raw_path = paths.resolve(p["target_path"])
    os.makedirs(os.path.dirname(raw_path) or ".", exist_ok=True)
    tmp = raw_path + ".tmp"
    with open(tmp, "w") as f:
        for r in records:
            f.write(json.dumps({**r, **stamp}, sort_keys=True) + "\n")
    os.rename(tmp, raw_path)  # atomic publish (reference S2)
    return {"raw_path": raw_path, "records": len(records)}


def run_transform_stage(
    spark: SparkSession, stage: Stage, paths: PathResolver
) -> dict[str, Any]:
    """Silver: schema-enforced JSON read + clean + partitioned parquet
    (reference breweries_transform_silver_notebook.py:94-118).

    Clean defaults derived from metadata when not declared:
    dedup key = first schema column; required = non-nullable schema
    columns present in the input; trim/lower = all string columns when
    the ``normalize`` flags are on. A declared ``dedup_order_by`` is
    completed with the remaining schema columns (ascending, nulls
    last) into a total order, so versions that tie on it resolve the
    same way on every run and in every page order."""
    p = stage.parameters
    meta = load_metadata(paths.resolve(p["metadata_path"]))
    norm = p.get("normalize", {}) or {}

    df = spark.read.schema(meta.schema).json(paths.resolve(p["input_path"]))

    dedup_keys = norm.get("dedup_keys") or [meta.schema.fields[0].name]
    required = norm.get("required") or [
        f.name for f in meta.schema.fields if not f.nullable
    ]
    order_by = norm.get("dedup_order_by")
    if order_by:
        order_by = list(order_by) + [
            F.col(f.name).asc_nulls_last()
            for f in meta.schema.fields
            if f.name not in dedup_keys and f.name not in order_by
        ]
    df = deduplicate(df, dedup_keys, order_by=order_by)
    df = drop_null_required(df, required)
    if norm.get("trim_strings") or norm.get("lowercase_cols"):
        df = normalize_strings(df, _string_columns(meta.schema))
    casts = {
        c: t.rstrip("?")
        for c, t in (norm.get("cast_types") or {}).items()
        if t.rstrip("?") != "string" and c in df.columns
    }
    if casts:
        df = cast_columns(df, casts)

    out = paths.resolve(p["output_path"])
    part = p.get("partition_by") or meta.partition_by
    if isinstance(part, str):
        part = [part]
    # row-count metric rides the write via Observation — zero extra
    # jobs, unlike the reference's triple re-execution
    # (breweries_transform_silver_notebook.py:81,112 recompute the
    # clean plan for every count)
    from pyspark.sql import Observation

    obs = Observation(f"silver_{stage.task_id}")
    df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    write_parquet(df, out, partition_by=part or None)
    return {"output_path": out, "partition_by": part, "rows": obs.get["rows"]}


def run_aggregate_stage(
    spark: SparkSession, stage: Stage, paths: PathResolver
) -> dict[str, Any]:
    """Gold: every declared aggregation view, stacked long-format with a
    view discriminator + stamp (reference
    breweries_aggregate_gold_notebook.py:32-68, realizing the declared
    config contract configs/breweries_gold_pipeline.yml:41-51).

    ``aggregate_views`` compiles the views into one grouping-sets
    aggregate, so silver is scanned and shuffled once whatever the
    number of views (the reference runs one groupBy, and one scan,
    per view). The gold write is the stage's one action; its row count
    rides it via ``Observation``."""
    p = stage.parameters
    df = spark.read.parquet(paths.resolve(p["input_path"]))
    gold = aggregate_views(
        df, p["aggregations"], stamp_value=paths.variables.get("ds")
    )
    out = paths.resolve(p["output_path"])
    from pyspark.sql import Observation

    obs = Observation(f"gold_{stage.task_id}")
    gold = gold.observe(obs, F.count(F.lit(1)).alias("rows"))
    write_parquet(gold, out)
    return {
        "output_path": out,
        "views": sorted(v["name"] for v in p["aggregations"]),
        "rows": obs.get["rows"],
    }


def run_quality_stage(
    spark: SparkSession, stage: Stage, paths: PathResolver
) -> dict[str, Any]:
    """Quality: ALL declared rules in ONE single-pass aggregate (the
    reference runs one Spark job per rule,
    breweries_data_quality_gold.py:28-33) -> atomic JSON report.

    Reference rule shape ``{rule: <label>, column, type}`` is
    normalized to the engine's ``{rule: <type>, column}``; labels are
    re-attached to the report rows."""
    p = stage.parameters
    df = spark.read.parquet(paths.resolve(p["input_path"]))
    engine_rules = [
        {**{k: v for k, v in r.items() if k not in ("rule", "type")},
         "rule": r["type"], "column": r["column"]}
        for r in stage.quality_rules
    ]
    labels = {
        (r["type"], r["column"]): r.get("rule", r["type"])
        for r in stage.quality_rules
    }
    rows = [r.asDict() for r in rules_dataframe(df, engine_rules).collect()]
    for row in rows:
        row["rule_name"] = labels.get((row["rule"], row["column"]), row["rule"])
    report_path = p.get("report_path") or os.path.join(
        paths.resolve(p["input_path"]).rstrip("/") + "_quality", "report.json"
    )
    write_quality_report(rows, paths.resolve(report_path))
    return {"report_path": paths.resolve(report_path), "results": rows}


_RUNNERS = {
    "transform": run_transform_stage,
    "aggregate": run_aggregate_stage,
    "quality": run_quality_stage,
}

_LOG = logging.getLogger("breweries_data_pipeline_spark.pipeline")


def _emit_event(event: str, **payload: Any) -> None:
    """Structured task-event log line (reference
    src/libs/dag_utils.py:5-57 logs task start/end as plain text;
    here every event is one sorted-key JSON object so downstream log
    pipelines parse it without regexes)."""
    _LOG.info(json.dumps({"event": event, **payload}, sort_keys=True, default=str))


class PipelineRun(dict):
    """``run_pipeline``'s return value: a plain dict of per-stage
    results keyed by task_id (drop-in for the old return shape) plus
    ``metrics`` — one record per ATTEMPTED stage, in execution order:
    ``{stage, kind, status: success|failed, duration_sec,
    rows_written, error}``. The reference records the same facts as
    MLflow runs (src/libs/observability.py:9-89); here they are
    process-local data, and row counts ride the stage's own write via
    ``Observation`` instead of re-executing plans for counts (the
    reference recomputes the clean plan 2-3x per stage for its
    counts — SURVEY §3.2)."""

    def __init__(self) -> None:
        super().__init__()
        self.metrics: list[dict[str, Any]] = []


def _rows_written(res: dict[str, Any]) -> int | None:
    if "rows" in res:
        return res["rows"]
    if "records" in res:
        return res["records"]
    if "results" in res:
        return len(res["results"])
    return None


def run_pipeline(
    spark: SparkSession,
    config: PipelineConfig,
    *,
    variables: dict[str, str] | None = None,
    path_rewrites: dict[str, str] | None = None,
    fetch_page: FetchPage | None = None,
    on_failure: Callable[[dict[str, Any]], None] | None = None,
) -> PipelineRun:
    """Execute a loaded pipeline config: stages in dependency order,
    one SparkSession, results keyed by task_id (see
    :class:`PipelineRun` for the attached per-stage metrics).
    ``fetch_page`` must be supplied when the pipeline declares an
    ingest stage.

    ``on_failure`` is the pluggable alert hook (the engine-policy
    replacement for the reference's email/Prometheus senders,
    src/libs/alerts.py:30-87 — transports stay out of the engine;
    wire one in the callback): called once with the failed stage's
    metric record before the exception propagates. A raising callback
    is logged and suppressed — alerting must never mask the root
    failure."""
    paths = PathResolver(variables, path_rewrites)
    run = PipelineRun()
    for stage in _topo_sort(config.stages):
        _emit_event(
            "stage_started",
            pipeline=config.name,
            stage=stage.task_id,
            kind=stage.kind,
        )
        t0 = time.monotonic()
        try:
            if stage.kind == "ingest":
                if fetch_page is None:
                    raise ValueError(
                        f"stage {stage.task_id!r} is an ingest stage; pass fetch_page"
                    )
                res = run_ingest_stage(spark, stage, paths, fetch_page)
            else:
                res = _RUNNERS[stage.kind](spark, stage, paths)
        except Exception as e:
            metric = {
                "stage": stage.task_id,
                "kind": stage.kind,
                "status": "failed",
                "duration_sec": round(time.monotonic() - t0, 3),
                "rows_written": None,
                "error": f"{type(e).__name__}: {e}",
            }
            run.metrics.append(metric)
            _emit_event("stage_failed", pipeline=config.name, **metric)
            if on_failure is not None:
                try:
                    on_failure(metric)
                except Exception:
                    _LOG.exception("on_failure callback raised; continuing")
            raise
        metric = {
            "stage": stage.task_id,
            "kind": stage.kind,
            "status": "success",
            "duration_sec": round(time.monotonic() - t0, 3),
            "rows_written": _rows_written(res),
            "error": None,
        }
        run.metrics.append(metric)
        _emit_event("stage_finished", pipeline=config.name, **metric)
        run[stage.task_id] = res
    return run
