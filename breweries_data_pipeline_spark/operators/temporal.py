"""Temporal joins Spark lacks as built-ins (BASELINE extension; the
classic examples of operators composed from existing DataFrame
primitives rather than custom physical operators).

- ``as_of_join``: for each left row, the latest right row with
  ``right.ts <= left.ts`` per key (backward as-of). Implemented with
  the union + carry-forward-window trick: tag both sides, sort by
  (key, ts, side) inside a single window partitioned by key, and
  ``last(value, ignorenulls)`` carries the most recent right value to
  each left row. ONE shuffle on the key — same exchange a sort-merge
  join would pay, no range explosion, no per-row lookups. (DuckDB's
  native ASOF JOIN is the oracle spelling.)

- ``as_of_join_forward``: the same composition reversed — the first
  right row with ``right.ts >= left.ts``, carried back over the
  following frame. It is the engine's only forward as-of: a cogrouped
  pandas ``merge_asof`` gives the same rows but pins each key to one
  task, so a hot key serializes.

- ``range_join``: key equality + a timestamp-band predicate. Spark
  plans the equi part as a hash/SMJ join and applies the band as a
  post-join filter — correct at scale as long as the band is narrow
  relative to the key cardinality (each key's rows meet anyway).

Scale notes: as_of_join's window holds one partition's rows per key in
sort order — skewed keys salt poorly here (carry-forward crosses salt
boundaries), so extreme-skew timelines should pre-bucket by (key,
coarse time) with boundary duplication instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    *,
    suffix: str = "_asof",
) -> DataFrame:
    """Backward as-of join (inclusive: a right row at exactly
    ``left_ts`` matches). Left rows with no prior right row keep
    nulls. ``value_cols`` are the right-side columns carried forward.

    Right rows must be unique per (key, right_ts) for deterministic
    results — pre-aggregate ties before calling (the oracle has the
    same requirement).
    """
    extra = [c for c in left.columns if c not in (key, left_ts)]
    lt = left.select(
        F.col(key),
        F.col(left_ts).alias("__t"),
        F.lit(1).alias("__is_left"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"{c}{suffix}") for c in value_cols],
        *[F.col(c) for c in extra],
    )
    rt = right.select(
        F.col(key),
        F.col(right_ts).alias("__t"),
        F.lit(0).alias("__is_left"),
        *[F.col(c).alias(f"{c}{suffix}") for c in value_cols],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in extra],
    )
    # right rows sort BEFORE left rows at equal timestamps, so an
    # exactly-simultaneous right row is visible to the left row
    w = (
        Window.partitionBy(key)
        .orderBy(F.col("__t"), F.col("__is_left"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = lt.unionByName(rt)
    for c in value_cols:
        carried = carried.withColumn(
            f"{c}{suffix}", F.last(F.col(f"{c}{suffix}"), ignorenulls=True).over(w)
        )
    return carried.filter(F.col("__is_left") == 1).drop("__is_left").withColumnRenamed(
        "__t", left_ts
    )


def as_of_join_forward(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str] | None = None,
    *,
    suffix: str = "_next",
    include_right_ts: bool = True,
) -> DataFrame:
    """FORWARD as-of join (inclusive: a right row at exactly
    ``left_ts`` matches): for each left row, the FIRST right row with
    ``right.ts >= left.ts`` per key. Same union + window composition
    as ``as_of_join`` with the direction reversed: sort ascending by
    (ts, left-before-right-at-ties) and carry the nearest FOLLOWING
    right value back with ``first(value, ignorenulls)`` over
    [currentRow, unboundedFollowing]. ONE shuffle on the key; the
    exchange is AQE-splittable, where a cogrouped pandas
    ``merge_asof`` would serialize a hot key into a single task.

    ``include_right_ts`` additionally carries the matched right
    timestamp as ``{right_ts}{suffix}``. Right rows must be unique per
    (key, right_ts) for deterministic results, as with ``as_of_join``.
    """
    value_cols = value_cols or []
    carried: list[tuple[str, object, str]] = []
    if include_right_ts:
        carried.append((right_ts, right.schema[right_ts].dataType, f"{right_ts}{suffix}"))
    carried += [(c, right.schema[c].dataType, f"{c}{suffix}") for c in value_cols]
    extra = [c for c in left.columns if c not in (key, left_ts)]
    lt = left.select(
        F.col(key),
        F.col(left_ts).alias("__t"),
        F.lit(1).alias("__is_left"),
        *[F.lit(None).cast(dt).alias(out) for (_, dt, out) in carried],
        *[F.col(c) for c in extra],
    )
    rt = right.select(
        F.col(key),
        F.col(right_ts).alias("__t"),
        F.lit(0).alias("__is_left"),
        *[F.col(src).alias(out) for (src, _, out) in carried],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in extra],
    )
    # left rows sort BEFORE right rows at equal timestamps (desc on the
    # flag), so an exactly-simultaneous right row is inside the left
    # row's forward frame
    w = (
        Window.partitionBy(key)
        .orderBy(F.col("__t"), F.col("__is_left").desc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    unioned = lt.unionByName(rt)
    for (_, _, out) in carried:
        unioned = unioned.withColumn(out, F.first(F.col(out), ignorenulls=True).over(w))
    return unioned.filter(F.col("__is_left") == 1).drop("__is_left").withColumnRenamed(
        "__t", left_ts
    )


def range_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    right_ts: str,
    lower: Column,
    upper: Column,
) -> DataFrame:
    """Key-equality join restricted to ``lower <= right.ts <= upper``
    (band bounds are expressions over the left side). The equi
    component keeps the plan a hash/SMJ join — never a cartesian."""
    return left.join(
        right,
        (left[key] == right[key])
        & (right[right_ts] >= lower)
        & (right[right_ts] <= upper),
    ).drop(right[key])


def range_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    band: str,
) -> DataFrame:
    """Scale variant of ``range_join`` for the band predicate
    ``left.ts - band <= right.ts <= left.ts``: both sides join on
    (key, coarse time bucket) with the left side duplicated into the
    two buckets its band can touch, then the exact inequality filters
    the fine boundary. With bucket width == band width, each left row
    meets only right rows from ~2 buckets instead of the key's whole
    timeline — on a key whose history spans years, the per-key fanout
    drops from O(|key rows|^2) to O(|key rows| x band density).

    ``band`` is an INTERVAL literal string (e.g. ``'30 MINUTES'``).
    Result-identical to the plain key-equality range join (executed
    equivalence test in tests/test_units.py); prefer this form when
    keys are long-lived and the band is narrow relative to history.
    """
    width = F.expr(f"INTERVAL {band}")
    # bucket index = floor(epoch / band_seconds); band_seconds derives
    # from the interval itself so callers pass ONE literal (extract
    # (epoch FROM interval) doesn't exist in Spark — anchor-subtract
    # instead; Catalyst constant-folds the whole expression)
    band_sec = F.expr(
        "unix_timestamp(timestamp '1970-01-02 00:00:00' + "
        f"INTERVAL {band}) - unix_timestamp(timestamp '1970-01-02 00:00:00')"
    )
    r = right.withColumn(
        "__bucket", F.floor(F.unix_timestamp(F.col(right_ts)) / band_sec).cast("long")
    )
    l_base = left.withColumn(
        "__b0", F.floor(F.unix_timestamp(F.col(left_ts)) / band_sec).cast("long")
    )
    l_dup = l_base.withColumn(
        "__bucket", F.explode(F.array(F.col("__b0") - 1, F.col("__b0")))
    ).drop("__b0")
    joined = l_dup.join(r, [key, "__bucket"]).drop("__bucket")
    return joined.filter(
        (F.col(right_ts) >= F.col(left_ts) - width)
        & (F.col(right_ts) <= F.col(left_ts))
    )
