"""The benchmark's workloads: inputs, one timed pass, and output checks.

A workload object owns its generated inputs and a work directory. Its
``run_pass`` is the timed unit and returns a small summary; the checks
run outside the timed passes. ``pass_problems`` is cheap and looks at
one pass's summary, ``output_problems`` runs Spark jobs over the last
pass's output and is called once per run.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq

import gen

HERE = os.path.dirname(os.path.abspath(__file__))


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, n))
               for r, _, names in os.walk(path) for n in names)


class Medallion:
    """Paginated ingest -> silver -> gold -> quality through
    ``pipeline.run_pipeline``, with the pages served from memory by an
    injected ``fetch_page``."""

    name = "medallion"

    def __init__(self, spark, work_dir: str, seed: int, distinct_ids: int = 5000):
        from breweries_data_pipeline_spark import pipeline

        self.spark = spark
        self.work_dir = work_dir
        self.data = gen.medallion_input(seed, distinct_ids)
        self.input_rows = len(self.data.records)
        self.config_dir = os.path.join(HERE, "medallion")
        self.config = pipeline.load_pipeline_config(
            os.path.join(self.config_dir, "pipeline.yml"))
        self.last_base: str | None = None
        self.silver_rows: list[int] = []

    def fetch_page(self, page: int, per_page: int) -> list[dict]:
        recs = self.data.records[(page - 1) * per_page: page * per_page]
        return [dict(r) for r in recs]

    def run_pass(self, i: int) -> dict[str, Any]:
        from breweries_data_pipeline_spark import pipeline

        base = os.path.join(self.work_dir, f"pass-{i}")
        run = pipeline.run_pipeline(
            self.spark, self.config,
            variables={"ds": "2025-01-01", "base": base, "config_dir": self.config_dir},
            fetch_page=self.fetch_page,
        )
        return {
            "base": base,
            "records": run["fetch_data_bronze"]["records"],
            "silver_rows": run["transform_silver"]["rows"],
            "gold_rows": run["aggregate_gold"]["rows"],
            "quality": [(r["rule"], r["column"], r["passed"])
                        for r in run["validate_gold_quality"]["results"]],
        }

    def finish_pass(self, result: dict[str, Any]) -> None:
        """Keep only the newest pass's output on disk."""
        self.silver_rows.append(result["silver_rows"])
        if self.last_base and self.last_base != result["base"]:
            shutil.rmtree(self.last_base, ignore_errors=True)
        self.last_base = result["base"]

    def pass_problems(self, result: dict[str, Any]) -> list[str]:
        d, out = self.data, []
        if result["records"] != len(d.records):
            out.append(f"ingested {result['records']} of {len(d.records)} records")
        if not d.silver_min <= result["silver_rows"] <= d.silver_max:
            out.append(f"silver rows {result['silver_rows']} outside "
                       f"[{d.silver_min}, {d.silver_max}]")
        failed = [q for q in result["quality"] if not q[2]]
        if failed or not result["quality"]:
            out.append(f"quality rules failed: {failed}")
        return out

    def report_lines(self) -> list[str]:
        d = self.data
        return [f"silver rows per pass {self.silver_rows}, generator bounds "
                f"[{d.silver_min}, {d.silver_max}] (ties in dedup order; see README)"]

    def write_amp(self, result: dict[str, Any]) -> float:
        """Bytes on disk across all layers of a pass / input JSON bytes."""
        return _dir_bytes(result["base"]) / self.data.input_bytes

    def output_problems(self, result: dict[str, Any]) -> list[str]:
        from pyspark.sql import functions as F

        base, out = result["base"], []
        silver = self.spark.read.parquet(os.path.join(base, "silver"))
        string_cols = [c for c in gen.STRING_COLS if c in silver.columns]
        row = silver.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("id").alias("ids"),
            F.sum(F.when(F.greatest(*[F.col(c).isNull() for c in gen.REQUIRED]), 1)
                  .otherwise(0)).alias("null_required"),
            F.sum(F.when(F.greatest(*[
                F.coalesce(F.col(c) != F.trim(F.lower(F.col(c))), F.lit(False))
                for c in string_cols]), 1).otherwise(0)).alias("unnormalised"),
        ).first()
        if row["n"] != result["silver_rows"]:
            out.append(f"silver holds {row['n']} rows, the stage reported {result['silver_rows']}")
        if row["ids"] != row["n"]:
            out.append(f"silver ids not unique: {row['ids']} distinct of {row['n']}")
        if row["null_required"]:
            out.append(f"{row['null_required']} silver rows with a null required field")
        if row["unnormalised"]:
            out.append(f"{row['unnormalised']} silver rows with unnormalised strings")
        gold = self.spark.read.parquet(os.path.join(base, "gold"))
        sums = {r["aggregation"]: r["s"] for r in
                gold.groupBy("aggregation").agg(F.sum("brewery_count").alias("s")).collect()}
        views = {a["name"] for s in self.config.stages
                 for a in s.parameters.get("aggregations", [])}
        if set(sums) != views:
            out.append(f"gold views {sorted(sums)}, expected {sorted(views)}")
        for view, s in sorted(sums.items()):
            if s != row["n"]:
                out.append(f"gold view {view} counts sum to {s}, silver has {row['n']}")
        with open(os.path.join(base, "quality", "gold_report.json")) as f:
            report = json.load(f)
        if not report or not all(r["passed"] for r in report):
            out.append(f"quality report does not pass: {report}")
        return out


class CorpusDedup:
    """``operators.dedup.exact_dedup`` then ``near_dedup_lsh_buckets``
    over a parquet corpus; the pass collects the kept document ids."""

    name = "corpus_dedup"

    def __init__(self, spark, work_dir: str, seed: int, base_docs: int = 2500):
        self.spark = spark
        self.data = gen.corpus_input(seed, base_docs)
        self.input_rows = len(self.data.docs)
        self.path = os.path.join(work_dir, "corpus.parquet")
        os.makedirs(work_dir, exist_ok=True)
        ids, texts = zip(*self.data.docs)
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                 "text": pa.array(texts, pa.string())}), self.path)
        self.first_hash: str | None = None
        self.kept: list[int] = []

    def run_pass(self, i: int) -> dict[str, Any]:
        from breweries_data_pipeline_spark.operators import dedup

        docs = self.spark.read.parquet(self.path)
        kept = dedup.near_dedup_lsh_buckets(dedup.exact_dedup(docs))
        ids = sorted(r[0] for r in kept.select("doc_id").collect())
        return {"kept": ids}

    def finish_pass(self, result: dict[str, Any]) -> None:
        from breweries_data_pipeline_spark.cache import release_caches

        release_caches()
        self.spark.catalog.clearCache()
        self.kept = result["kept"]

    def pass_problems(self, result: dict[str, Any]) -> list[str]:
        h = hashlib.sha256(json.dumps(result["kept"]).encode()).hexdigest()
        if self.first_hash is None:
            self.first_hash = h
        if h != self.first_hash:
            return [f"kept-id hash {h[:12]} differs from the first pass's {self.first_hash[:12]}"]
        return []

    def report_lines(self) -> list[str]:
        copies = sum(len(g) - 1 for g in self.data.near_groups)
        return [f"kept {len(self.kept)} of {self.input_rows} docs; near-dup recall "
                f"{self.near_recall(self.kept):.4f} over {copies} planted near copies"]

    def expected_exact_kept(self) -> list[int]:
        """Smallest id per normalised text: what exact dedup keeps."""
        best: dict[str, int] = {}
        for doc_id, text in self.data.docs:
            key = gen.normalized(text)
            if key not in best or doc_id < best[key]:
                best[key] = doc_id
        return sorted(best.values())

    def near_recall(self, kept: list[int]) -> float:
        """Share of planted near copies (all but each group's base)
        that the pass removed."""
        keep = set(kept)
        copies = [i for g in self.data.near_groups for i in g[1:]]
        return sum(i not in keep for i in copies) / max(1, len(copies))

    def output_problems(self, result: dict[str, Any]) -> list[str]:
        """Every planted exact duplicate is gone: the kept ids are a
        subset of what exact dedup must keep, and no exact group keeps
        two members."""
        out = []
        extra = set(result["kept"]) - set(self.expected_exact_kept())
        if extra:
            out.append(f"kept {len(extra)} ids that exact dedup removes, e.g. {min(extra)}")
        keep = set(result["kept"])
        for g in self.data.exact_groups:
            if sum(i in keep for i in g) > 1:
                out.append(f"exact duplicate group {g} not collapsed")
                break
        return out

    def useful_edge_frac(self, edges: list[tuple[int, int]]) -> float:
        """Star edges whose two ends are in one planted duplicate group,
        over all star edges."""
        group_of = {i: n for n, g in enumerate(self.data.exact_groups + self.data.near_groups)
                    for i in g}
        useful = sum(1 for a, b in edges
                     if a in group_of and group_of.get(b) == group_of[a])
        return useful / max(1, len(edges))


WORKLOADS = {w.name: w for w in (Medallion, CorpusDedup)}
