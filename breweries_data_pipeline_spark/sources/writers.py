"""Sink operators (SURVEY.md §2.1 S2, S6-S9).

Spark's output committer already gives task-level atomic publish; the
run-versioned-directory convention reproduces the reference's atomic
tmp-then-rename publish (breweries_fetch_bronze_notebook.py:71-85,
run_<HHMMSS> dirs at :103) at directory granularity.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame


def write_parquet(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Parquet sink; with ``partition_by`` -> hive-partitioned layout
    (reference breweries_transform_silver_notebook.py:85-92).

    A partitioned write first hash-partitions the rows by
    ``partition_by`` into ``spark.sql.shuffle.partitions`` tasks (an
    explicit count, which AQE does not coalesce back to one task). So
    each directory gets exactly one file per write, from one task;
    tasks write disjoint directories in parallel; and the file count is
    bounded by the directory count, not tasks x directories. The commit
    is the session's ``partitionOverwriteMode=dynamic``: a re-run
    replaces only the partitions its rows touch.

    Scale trade: the clustering is one more shuffle of every row, and
    the write runs at most one task per distinct partition value, so
    its parallelism is capped at the directory count (silver's ~43
    ``state,country`` directories are ~43 write tasks on any cluster),
    and every directory, large or small, is one task's work.
    ``spark.sql.files.maxRecordsPerFile`` bounds file size, not that
    task's work. Choose partition columns with bounded cardinality
    (state/country-like, O(10^2-10^4) values): high-cardinality
    partitionBy creates a small-files explosion.
    """
    if not partition_by:
        df.write.mode(mode).parquet(path)
        return
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    df.repartition(n, *partition_by).write.mode(mode).partitionBy(*partition_by).parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int,
    *,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed parquet table (catalog-registered): rows are hash-
    partitioned into ``n_buckets`` files by ``bucket_cols`` at write
    time, so a later join or aggregation on those columns needs NO
    exchange — the shuffle is paid once at write, amortized over every
    downstream read (tests/test_bucketing.py asserts the exchange-free
    join plan).

    The 100 TB join strategy for repeatedly-joined fact tables: bucket
    both sides by the join key with the same bucket count. Choose
    n_buckets so each bucket file lands in the 100 MB - 1 GB range."""
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table_name)


def compact_parquet(
    spark,
    path: str,
    target_file_bytes: int = 256 * 1024 * 1024,
) -> int:
    """Compact a small-files parquet directory: rewrite with
    ceil(total_bytes / target) output files, publish via
    write-new + swap. Returns the new file count.

    The small-files problem is the chronic failure mode of streaming /
    fine-grained-partition writes at 100 TB scale — metadata pressure
    and per-file open cost dominate scans. Repartition (not coalesce):
    coalesce would merge-read without a shuffle but pins parallelism
    of the WRITE stage to the target count and can skew file sizes;
    compaction is a rewrite anyway, so pay the shuffle for even files.
    """
    import math
    import shutil

    df = spark.read.parquet(path)
    total = sum(
        os.path.getsize(os.path.join(dirpath, f))
        for dirpath, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total / target_file_bytes))
    tmp = path.rstrip("/") + ".__compact__"
    df.repartition(n_files).write.mode("overwrite").parquet(tmp)
    bak = path.rstrip("/") + ".__old__"
    os.rename(path, bak)
    os.rename(tmp, path)
    shutil.rmtree(bak)
    return n_files


def write_quality_report(results: list[dict[str, Any]], path: str) -> str:
    """Quality-report JSON sink (reference
    breweries_data_quality_gold.py:39-42). Rule results are tiny
    (one record per rule) so a driver-side dump is correct at any
    scale; the heavy lifting happened in the single-pass rule agg.

    Writes atomically: tmp file + rename.
    """
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(results, f, indent=2, default=str)
    os.rename(tmp, path)
    return path


def write_zordered(
    df,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 8,
    bits: int = 16,
) -> str:
    """Z-order-clustered parquet layout: range-partition + sort by the
    Morton interleave of two columns, so each output file covers a
    small hyper-rectangle of (col_a, col_b) space and min-max data
    skipping works for range predicates on EITHER column — the
    OSS-Spark analog of table-format OPTIMIZE ZORDER BY. The key is
    dropped before writing (it is a layout device, not data); the
    range exchange samples the key distribution, so file sizes stay
    balanced under skew."""
    from pyspark.sql import functions as F

    from breweries_data_pipeline_spark.functions.zorder import (
        morton_key,
        normalize_to_domain,
    )

    # per-column bounds: one tiny aggregate action (four scalars of
    # model state — not data on the driver). Both columns are then
    # affine-mapped onto the full bit domain so neither dominates the
    # interleave (see normalize_to_domain).
    lo_a, hi_a, lo_b, hi_b = df.agg(
        F.min(col_a), F.max(col_a), F.min(col_b), F.max(col_b)
    ).first()
    keyed = df.withColumn(
        "__zkey",
        morton_key(
            normalize_to_domain(col_a, int(lo_a), int(hi_a), bits),
            normalize_to_domain(col_b, int(lo_b), int(hi_b), bits),
            bits,
        ),
    )
    (
        keyed.repartitionByRange(n_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


class AuditFailure(RuntimeError):
    """Raised when a write-audit-publish run fails its quality gate;
    carries the per-rule results for the report sink."""

    def __init__(self, results: list):
        super().__init__(
            "quality audit failed: "
            + ", ".join(r["rule"] + "(" + str(r.get("column")) + ")" for r in results if not r["passed"])
        )
        self.results = results


def write_audit_publish(
    df,
    rules: list,
    path: str,
    *,
    partition_by: list[str] | None = None,
    report_path: str | None = None,
):
    """Write-audit-publish: stage the data, run the declarative
    quality rules (ONE single-pass aggregate — see operators.quality),
    and only then atomically publish the staged directory; a failed
    audit raises :class:`AuditFailure` and leaves the previous
    published data untouched.

    This is the canonical safe-publish pattern for batch pipelines
    (the table-format implementations — Iceberg WAP, Delta
    constraints — do the same dance with snapshots): consumers can
    never observe a half-written or rule-violating table — though see
    the publish-step note below: the two-rename dir swap does expose
    a brief no-table window to a racing reader, which only a true
    snapshot commit (manifest / table format) eliminates. Staging
    goes through :func:`write_parquet` to a pid-suffixed
    ``path.<pid>.staging`` directory (published or removed before the
    call returns), and each individual rename is atomic on POSIX; on
    an object store, put a manifest commit in front (see
    streaming/upsert.py, which implements exactly that).

    The audit runs on the STAGED files, not the input frame — it
    validates what was actually written (catching any write-path
    surprise), and the staged scan is the same one-job single-pass
    aggregate.
    """
    import shutil

    from breweries_data_pipeline_spark.operators.quality import evaluate_rules

    spark = df.sparkSession
    tmp = f"{path}.{os.getpid()}.staging"
    write_parquet(df, tmp, partition_by=partition_by)

    staged = spark.read.parquet(tmp)
    results = evaluate_rules(staged, rules)
    if report_path:
        write_quality_report(results, report_path)
    if not all(r["passed"] for r in results):
        shutil.rmtree(tmp, ignore_errors=True)
        raise AuditFailure(results)

    # Publish. NOTE: the dir swap is TWO renames, not one atomic op —
    # a reader racing between them sees no table for an instant, and
    # this assumes a single writer on a POSIX filesystem (multi-writer
    # / object-store deployments should front this with a manifest
    # commit, as streaming/upsert.py does). What IS guaranteed: the
    # previously-published data is never lost — if the second rename
    # fails, the backup is restored before the error propagates.
    bak = None
    if os.path.exists(path):
        bak = f"{path}.{os.getpid()}.bak"
        os.rename(path, bak)
    try:
        os.rename(tmp, path)
    except BaseException:
        if bak:
            os.rename(bak, path)
        raise
    if bak:
        shutil.rmtree(bak, ignore_errors=True)
    return results
