"""Cleaning operators (SURVEY.md §2.2 P1/P4/P5, §2.3 F1/F2).

These are the reference's Silver-stage semantics
(breweries_transform_silver_notebook.py:70-83) as pure DataFrame ->
DataFrame functions. All are narrow Column expressions except the
two deduplications (``deduplicate``, ``min_id_groups``), one shuffle
each.
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

    The window serves any total order (the silver stage's
    ``updated_at`` with nulls last, ``merge_upsert``'s descending
    version). To keep the smallest unique id per group use
    ``min_id_groups``: its aggregate combines map-side, where this
    window sends every row of a hot key to one partition.
    """
    if not order_by:
        return df.dropDuplicates(keys)
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def min_id_groups(df: DataFrame, keys: list[str], id_col: str) -> DataFrame:
    """Keep the smallest id of each group of identical content: one
    hash aggregate returning ``(keys..., id_col, w)`` with ``id_col``
    the group's min id and ``w`` its row count (bigint). Every
    exact-duplicate collapse in the engine (text, vector and key
    dedup) is this aggregate under the caller's own key; callers that
    need the kept rows re-attach them with one join on ``id_col``,
    callers that need a member -> rep map join the members on the key.

    Precondition: ``id_col`` is unique in ``df``, so the min-id row of
    a group IS that group's ``row_number() = 1`` row under
    ``order_by=[id_col]`` and the id join re-attaches exactly one row.

    Skew: min and count combine map-side, so a hot group (a
    boilerplate page repeated millions of times) shrinks to one row
    per map task before the exchange. The ``deduplicate`` window
    would send every row of that group to one partition, which AQE
    cannot split.
    """
    return df.groupBy(*keys).agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("w")
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
