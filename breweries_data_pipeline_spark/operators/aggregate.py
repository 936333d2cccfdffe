"""Aggregation operators (SURVEY.md §2.4 A1-A5, §2.5 U1).

``declarative_aggregate`` implements the reference's *declared* config
contract (configs/breweries_gold_pipeline.yml:41-51 — group_by list +
named metric exprs) which the reference's code never actually honours
(it hard-codes three groupBy-counts instead). ``aggregate_views``
reproduces the reference's distinctive Gold output shape: heterogeneous
declared views stacked long-format with a discriminator column and
missing-columns-as-nulls (breweries_aggregate_gold_notebook.py:37-60).

Scale notes: groupBy compiles to partial (map-side) + final hash
aggregation — the shuffle moves only group keys × partial states, not
rows. ``aggregate_views`` compiles every declared view into ONE
grouping-sets aggregate: one scan of the input feeds an Expand (one
copy of each row per distinct key set, the keys a set leaves out
nulled) and one partial + final hash aggregate keyed by the keys and
the grouping id. N views cost one scan and one shuffle instead of N
of each (Dremel's many aggregates from one columnar scan); the price
is K row copies per input row inside the map-side aggregate for K
distinct key sets, which is CPU, not I/O, and leaves the shuffle at
one partial state per (key set, group) per task. A DISTINCT metric
(``count(distinct x)``) adds Spark's distinct-aggregate rewrite: a
second Expand and a second shuffle keyed by the group and x.
"""

from __future__ import annotations

from collections.abc import Iterable
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def grouped_count(
    df: DataFrame, keys: list[str], count_name: str = "total_count"
) -> DataFrame:
    """Group-by count (reference A1-A3,
    breweries_aggregate_gold_notebook.py:37-53)."""
    return df.groupBy(*keys).agg(F.count("*").alias(count_name))


def declarative_aggregate(
    df: DataFrame,
    group_by: list[str],
    metrics: list[dict[str, str]],
) -> DataFrame:
    """Compile a declarative aggregation spec to groupBy().agg().

    ``metrics``: ``[{name: ..., expr: "count(*)"}, ...]`` — SQL
    expressions compiled with F.expr so they run JVM-side inside the
    hash aggregate (reference A4 contract,
    configs/breweries_gold_pipeline.yml:41-51).
    """
    aggs = [F.expr(m["expr"]).alias(m["name"]) for m in metrics]
    if not aggs:
        raise ValueError("declarative aggregate requires at least one metric")
    if group_by:
        return df.groupBy(*group_by).agg(*aggs)
    return df.agg(*aggs)


def _case(branches: Iterable[tuple[Column, Column]]) -> Column:
    """CASE WHEN cond THEN value ... END over ``(cond, value)`` pairs,
    null when no branch holds."""
    out = F
    for cond, value in branches:
        out = out.when(cond, value)
    return out


def aggregate_views(
    df: DataFrame,
    specs: list[dict[str, Any]],
    *,
    tag_column: str = "aggregation",
    stamp_column: str | None = "transformation_date",
    stamp_value: Any | None = None,
) -> DataFrame:
    """Every declared view of ``df`` in one long-format table, from one
    grouping-sets aggregate (reference U1 + P2/P3).

    ``specs``: ``[{name, group_by: [...], metrics: [{name, expr}]}]``,
    each view as ``declarative_aggregate`` would compute it. The result
    equals those views each tagged with a literal ``tag_column`` naming
    it and stacked with ``unionByName(allowMissingColumns=True)``: the
    columns are the views' group-by keys, metric names and the tag in
    first-declared order, a column a view does not produce is null in
    its rows, and ``stamp_column`` holds the injected ``stamp_value``
    (not ``date.today()``) when both are given.

    The distinct key sets become the grouping sets over one scan;
    ``grouping_id`` tells a null key value from a key the set leaves
    out, and maps each group to the view(s) declaring its key set
    (views that share a key set share its groups, one output row per
    view). Each distinct metric expression is aggregated once over
    every set, reading the input's real columns, never the Expand's
    nulled keys, then masked to the views that declare it under that
    name. Unlike a global ``df.agg``, a view with an empty ``group_by``
    has no row over an empty input (Spark's grouping-sets semantics).
    """
    names = [s["name"] for s in specs]
    if not specs or len(set(names)) != len(names):
        raise ValueError(f"aggregate views need unique view names, got {names}")
    for s in specs:
        if not s["metrics"]:
            raise ValueError(f"view {s['name']!r} declares no metric")

    def unique(items):
        return list(dict.fromkeys(items))

    keys = unique(k for s in specs for k in s.get("group_by", []))
    exprs = unique(m["expr"] for s in specs for m in s["metrics"])
    agg_col = {e: f"__m{i}" for i, e in enumerate(exprs)}
    views_of_set: dict[frozenset[str], list[str]] = {}
    for s in specs:
        views_of_set.setdefault(frozenset(s.get("group_by", [])), []).append(s["name"])

    grouped = df.groupingSets(
        [[k for k in keys if k in ks] for ks in views_of_set], *keys
    ).agg(
        *[F.expr(e).alias(agg_col[e]) for e in exprs],
        F.grouping_id().alias("__gid"),
    )
    # grouping_id: bit (n-1-i) is set when keys[i] is left out of the set
    tag = _case(
        (
            F.col("__gid")
            == sum(1 << (len(keys) - 1 - i) for i, k in enumerate(keys) if k not in ks),
            F.array(*map(F.lit, views)),
        )
        for ks, views in views_of_set.items()
    )
    tagged = grouped.select(
        *keys, *agg_col.values(), F.explode(tag).alias(tag_column)
    )

    metric_names = {m["name"] for s in specs for m in s["metrics"]}

    def column(name: str) -> Column:
        if name not in metric_names:
            return F.col(name)
        declared = {
            s["name"]: m["expr"]
            for s in specs for m in s["metrics"] if m["name"] == name
        }
        if len(declared) == len(specs) and len(set(declared.values())) == 1:
            return F.col(agg_col[declared[specs[0]["name"]]])
        return _case(
            (
                F.col(tag_column).isin([v for v, ve in declared.items() if ve == e]),
                F.col(agg_col[e]),
            )
            for e in unique(declared.values())
        )

    order = unique(
        c
        for s in specs
        for c in (*s.get("group_by", []), *(m["name"] for m in s["metrics"]), tag_column)
    )
    out = tagged.select(*[column(c).alias(c) for c in order])
    if stamp_column is not None and stamp_value is not None:
        out = out.withColumn(stamp_column, F.lit(stamp_value))
    return out


def mode_agg(df: DataFrame, keys: list[str], value_col: str, out: str = "mode") -> DataFrame:
    """Deterministic MODE (most frequent value, lexicographic
    tie-break) per key group — the engine's custom-aggregation surface
    in its SCALE form: a JVM-side partial ``groupBy(keys,
    value).count()`` (map-side combine, whole-stage codegen) reduces
    the input to one row per distinct (key, value) pair, the pairs are
    hash-repartitioned by key, and one ``mapInPandas`` pass does a
    fully VECTORIZED partition-local argmax (sort by count desc /
    value asc, ``drop_duplicates`` per key) — zero per-group
    JVM<->Python round-trips.

    Why not a grouped-agg pandas UDF (``mode_agg_grouped`` below)?
    Measured on this engine, ``AggregateInPandasExec`` ships ONE Arrow
    batch per GROUP — ~0.7 ms of round-trip per group regardless of
    group size, so wall time scales with the NUMBER OF KEYS (1500
    users -> ~1.3 s; 15k users -> ~10 s). This form's Python cost is
    one Arrow stream per partition with pandas-vectorized work inside,
    so it scales with distinct (key, value) pairs / parallelism.
    Memory is bounded by distinct pairs per partition (post-reduction,
    not raw rows) — skew-proof by construction.

    Null semantics (identical to the grouped form): null values never
    win; a key whose values are ALL null still appears with a null
    mode. The same result is expressible as count + row_number (zero
    Python); this surface exists for aggregates that DON'T reduce to
    SQL (weighted medians, sketches over ordered values)."""
    import pandas as pd

    counts = df.groupBy(*keys, value_col).agg(F.count("*").alias("__mode_n"))
    parts = counts.repartition(*[F.col(k) for k in keys])
    out_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.select(*keys).schema.fields
    )
    schema = f"{out_fields}, `{out}` string"
    klist = list(keys)

    def _finalize(batches):
        chunks = list(batches)  # bounded: distinct (key,value) pairs here
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        nn = pdf[pdf[value_col].notna()].sort_values(
            ["__mode_n", value_col], ascending=[False, True], kind="stable"
        )
        winners = nn.drop_duplicates(subset=klist, keep="first")[
            klist + [value_col]
        ].rename(columns={value_col: out})
        all_keys = pdf[klist].drop_duplicates()
        yield all_keys.merge(winners, on=klist, how="left")

    return parts.mapInPandas(_finalize, schema)


def mode_agg_grouped(
    df: DataFrame, keys: list[str], value_col: str, out: str = "mode"
) -> DataFrame:
    """MODE via a grouped-agg pandas UDF — the literal
    ``AggregateInPandasExec`` surface, kept for parity-testing that
    executor path. Two-level: JVM partial count first, so the UDAF's
    Arrow transfer is bounded by value cardinality per key, not row
    count. CAUTION at scale: Spark ships one Arrow batch per GROUP
    here (~0.7 ms/group measured), so wall time grows with the number
    of keys — prefer ``mode_agg`` (mapInPandas finalize) on high-
    cardinality keys."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    counts = df.groupBy(*keys, value_col).agg(F.count("*").alias("__mode_n"))

    def _argmax(v, n):
        # numpy, not pandas, inside the per-GROUP kernel: this runs
        # once per key, so fixed per-call pandas overhead (mask
        # Series, boolean indexing, .max() dispatch) dominates wall
        # time at high key cardinality — the structural per-group
        # Arrow round-trip is the cost this surface demonstrates; the
        # kernel shouldn't add to it
        vv = v.to_numpy()
        nn = n.to_numpy()
        mask = ~pd.isna(vv)
        vv, nn = vv[mask], nn[mask]
        if vv.size == 0:
            return None
        top = vv[nn == nn.max()]
        return min(top)

    _argmax.__annotations__ = {"v": pd.Series, "n": pd.Series, "return": str}
    return counts.groupBy(*keys).agg(
        pandas_udf("string")(_argmax)(F.col(value_col), F.col("__mode_n")).alias(out)
    )
