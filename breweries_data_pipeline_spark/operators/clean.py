"""Cleaning operators (SURVEY.md §2.2 P1/P4/P5, §2.3 F1/F2).

These are the reference's Silver-stage semantics
(breweries_transform_silver_notebook.py:70-83) as pure DataFrame ->
DataFrame functions. All are narrow Column expressions except
deduplication, which is the stage's one shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def deduplicate(
    df: DataFrame,
    keys: list[str],
    order_by: list[str | Column] | None = None,
) -> DataFrame:
    """Keep one row per key group (reference F1:
    ``dropDuplicates(["id"])``, breweries_transform_silver_notebook.py:73).

    The reference keeps an *arbitrary* row. For testable/replayable
    pipelines pass ``order_by`` to keep the first row under that order
    (implemented as a ``row_number() = 1`` window — one shuffle on
    ``keys``, same cost shape as dropDuplicates' hash aggregate).
    ``order_by`` must be a total order within key groups: rows that tie
    on it are kept arbitrarily, exactly like dropDuplicates.

    Scale: both forms shuffle on the key columns. With heavily skewed
    keys prefer the window form — AQE skew-join handling does not apply
    to aggregates, but salting can be layered on the window
    partitioning if one key dominates.
    """
    if not order_by:
        return df.dropDuplicates(keys)
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def deduplicate_salted(
    df: DataFrame,
    keys: list[str],
    order_by: list[str | Column],
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-resistant form of ``deduplicate(..., order_by=...)``.

    A single window partitioned by ``keys`` sends EVERY row of a hot
    key to one task (AQE skew handling does not apply to
    windows/aggregates). Two-phase instead:

    1. rank within (keys, salt) — the hot key spreads over
       ``salt_buckets`` tasks; keep each bucket's first row;
    2. rank the <= salt_buckets survivors per key — a tiny exchange.

    ``order_by`` must be a total order within key groups (it
    determines the survivor in both phases); the salt assignment is
    row-arbitrary and never affects the result under that condition.
    """
    salt = F.pmod(F.monotonically_increasing_id(), F.lit(salt_buckets))
    w1 = Window.partitionBy(*keys, "__salt").orderBy(*order_by)
    w2 = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__salt", salt)
        .withColumn("__rn", F.row_number().over(w1))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .withColumn("__rn", F.row_number().over(w2))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__salt")
    )


def drop_null_required(df: DataFrame, required: list[str]) -> DataFrame:
    """Drop rows with nulls in required fields (reference F2:
    ``dropna(subset=[...])``, breweries_transform_silver_notebook.py:74).
    Expressed as a filter so it can be pushed into the scan."""
    pred = None
    for c in required:
        p = F.col(c).isNotNull()
        pred = p if pred is None else (pred & p)
    return df if pred is None else df.filter(pred)


def normalize_strings(df: DataFrame, columns: list[str]) -> DataFrame:
    """``trim(lower(col))`` per column (reference P4,
    breweries_transform_silver_notebook.py:75-79). One Project node —
    stays inside whole-stage codegen."""
    return df.withColumns({c: F.trim(F.lower(F.col(c))) for c in columns})


def cast_columns(df: DataFrame, casts: dict[str, T.DataType | str]) -> DataFrame:
    """Explicit metadata-driven casts (reference P5 realizes these via
    schema-on-read; this is the post-hoc form for already-loaded
    tables)."""
    return df.withColumns({c: F.col(c).cast(t) for c, t in casts.items()})


def add_literal(df: DataFrame, name: str, value) -> DataFrame:
    """Literal stamp column (reference P1-P3: ingestion_date /
    aggregation tag / transformation_date). The value is injected by
    the caller — never ``date.today()`` inside the operator — so runs
    are replayable and testable (FIXTURES.md determinism rules)."""
    return df.withColumn(name, F.lit(value))
