"""CDC merge / upsert (changelog -> snapshot), the lakehouse MERGE
semantics a training-data pipeline needs for incrementally-updated
corpora. No reference analog (the reference overwrites whole layers).

``merge_upsert`` is latest-record-wins: union the base snapshot with
the change stream, keep the highest-version record per key (one
shuffle on the keys — identical cost shape to the engine's
deterministic dedup), then drop records whose final state is a delete
marker. Pure DataFrame composition: at scale this is exactly the
shuffle a MERGE INTO performs, minus transactional commit (pair with
the atomic-publish writers for snapshot isolation at the directory
level).

Skew note: a hot key concentrates its full history in one window
partition. The keep order is the highest version, not the smallest
unique id, so ``clean.min_id_groups``' map-side-combined aggregate
does not apply; a pathological key needs its max version aggregated
first and the winning rows joined back.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def merge_upsert(
    base: DataFrame,
    changes: DataFrame,
    keys: list[str],
    order_by: list[Column],
    *,
    delete_predicate: Column | None = None,
) -> DataFrame:
    """Merge ``changes`` into ``base``: per key, the first row under
    ``order_by`` (pass version/timestamp columns DESC) wins; if the
    winning row satisfies ``delete_predicate`` the key disappears from
    the snapshot."""
    merged = base.unionByName(changes)
    w = Window.partitionBy(*keys).orderBy(*order_by)
    latest = (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if delete_predicate is not None:
        latest = latest.filter(~delete_predicate)
    return latest


def merge_partial_aggs(
    base: DataFrame,
    delta: DataFrame,
    keys: list[str],
    merge_spec: dict[str, str],
) -> DataFrame:
    """Incremental materialized-aggregate maintenance: combine an
    existing aggregate table with the aggregate of a NEW partition
    without touching the already-aggregated history — the standard
    refresh path for a rollup over an append-only 100 TB fact table
    (recomputing from raw would re-shuffle the full history every
    load; merging shuffles only |keys| rows per side).

    ``merge_spec`` maps column -> combine fn over ALGEBRAIC partials:
    'sum' (also merges COUNT partials — counts add), 'min', 'max'.
    Non-algebraic aggregates (distinct counts, exact medians) don't
    merge; keep a sketch column (HLL / GK) instead and merge that.

    Plan: unionByName + one hash aggregate keyed by ``keys`` — partial
    (map-side) combine applies, and with both inputs bucketed on the
    keys the exchange disappears entirely."""
    fns = {"sum": F.sum, "min": F.min, "max": F.max}
    aggs = [fns[how](c).alias(c) for c, how in merge_spec.items()]
    return base.unionByName(delta).groupBy(*keys).agg(*aggs)
