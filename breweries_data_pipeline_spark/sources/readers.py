"""Scan operators (SURVEY.md §2.1 S3-S5, S10).

All scans go through ``spark.read`` so Catalyst gets predicate
pushdown, column pruning and partition pruning for free. At 100 TB the
parquet scans here are the dominant cost — keep projections narrow and
filters early so they reach ``PushedFilters`` / ``ReadSchema`` in the
physical plan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_json(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    multiline: bool = False,
) -> DataFrame:
    """JSONL scan. With ``schema`` -> enforced-at-read (PERMISSIVE nulls
    on mismatch; reference breweries_transform_silver_notebook.py:64-68);
    without -> schema inference (reference
    breweries_fetch_bronze_notebook.py:96-98).

    At scale, prefer the schema-enforced path: inference is a full
    extra pass over the data.
    """
    reader = spark.read.option("multiline", "true" if multiline else "false")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    infer: bool = True,
) -> DataFrame:
    """CSV scan: header + schema inference by default, or enforced
    schema (PERMISSIVE nulls) when ``schema`` is given — same contract
    as read_json. At scale prefer an explicit schema: inference costs
    an extra pass, and CSV should only ever be an ingest boundary
    (rewrite to parquet at the first layer)."""
    reader = spark.read.option("header", "true" if header else "false")
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_parquet_evolved(spark: SparkSession, *paths: str) -> DataFrame:
    """Schema-evolution scan: merge the footers of every file across
    ``paths`` into one superset schema (by column NAME); files missing
    a column yield nulls for it. This is how a long-lived dataset whose
    writers added columns over time stays readable as one table.

    Scale note: mergeSchema reads every file footer up front (a
    driver-side listing + parallel footer fetch) — fine per layer
    publish, wasteful on hot paths; long-lived 100 TB tables should
    persist the merged schema in a catalog and pass it explicitly."""
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def evolving_parquet_fixture(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Two parquet generations under /tmp, once per sf_dir: v1 holds
    (o_orderkey, o_orderstatus) for keys < 500; v2 adds a column and
    drops another — (o_orderkey, o_totalprice) for keys 500..999.
    Atomic publish per generation."""
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    base = os.path.join("/tmp", "breweries_evolve_fixture", tag)
    v1, v2 = os.path.join(base, "gen1"), os.path.join(base, "gen2")
    for out, flt, cols in (
        (v1, "o_orderkey < 500", ["o_orderkey", "o_orderstatus"]),
        (v2, "o_orderkey >= 500 AND o_orderkey < 1000", ["o_orderkey", "o_totalprice"]),
    ):
        if not os.path.exists(out):
            df = read_table(spark, sf_dir, "orders").filter(flt).select(*cols)
            # per-process tmp path: two concurrent publishers must not
            # overwrite each other's half-written tmp before the rename
            tmp = f"{out}.{os.getpid()}.tmp"
            df.write.mode("overwrite").parquet(tmp)
            os.makedirs(os.path.dirname(out), exist_ok=True)
            try:
                os.rename(tmp, out)
            except OSError:
                # lost the publish race; winner's output is identical
                import shutil

                shutil.rmtree(tmp, ignore_errors=True)
    return v1, v2


# tables whose parquet files store TIMESTAMP(NANOS) — Spark reads them
# as long (spark.sql.legacy.parquet.nanosAsLong) and we convert to
# microsecond TimestampType here (truncation, matching how µs-native
# engines read the same files)
_NANOS_TS_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table: ``{sf_dir}/{name}.parquet``.

    Session-independent by design: any conf the read depends on is set
    here at runtime, so the same registry works under the engine's own
    ``get_spark()`` session AND a vanilla ``SparkSession.builder``
    session (the driver harness supplies the latter).
    """
    from pyspark.sql import functions as F

    if name in _NANOS_TS_COLUMNS:
        # TIMESTAMP(NANOS) parquet is unreadable without this runtime-
        # settable conf; read nanos as long, convert below.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for c in _NANOS_TS_COLUMNS.get(name, ()):
        if c not in df.columns:
            continue
        if isinstance(df.schema[c].dataType, T.LongType):
            # integer division: `/` would promote to double and lose
            # precision above 2^53 ns (any modern epoch)
            df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
        elif isinstance(df.schema[c].dataType, T.TimestampNTZType):
            # parquet timestamp[us] without tz info infers as NTZ, which
            # watermarks / unix_micros reject; the session tz is pinned
            # UTC so the cast is value-identical
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def json_fixture_from_events(spark: SparkSession, sf_dir: str) -> str:
    """Materialize a deterministic JSONL fixture (events with
    event_id < 1000, three columns) under /tmp, once per sf_dir, for
    the schema-inference scan path (S3). Atomic publish: write to a
    tmp dir then rename, so concurrent readers never see partial
    output."""
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    out = os.path.join("/tmp", "breweries_json_fixture", tag)
    if not os.path.exists(out):
        df = (
            read_table(spark, sf_dir, "events")
            .filter("event_id < 1000")
            .select("event_id", "event_type", "user_id")
        )
        tmp = f"{out}.{os.getpid()}.tmp"
        df.write.mode("overwrite").json(tmp)
        os.makedirs(os.path.dirname(out), exist_ok=True)
        try:
            os.rename(tmp, out)
        except OSError:
            # lost the publish race; winner's output is identical
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    return out


def corrupt_json_fixture(spark: SparkSession, sf_dir: str) -> str:
    """JSONL fixture with deterministic corruption: events with
    event_id < 1000, but every line whose event_id is a multiple of 10
    is truncated mid-object (invalid JSON). Exercises PERMISSIVE-mode
    reads where malformed lines land in ``_corrupt_record`` instead of
    failing the scan — the posture an ingest boundary needs when the
    upstream feed cannot be trusted."""
    import json as _json

    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    out = os.path.join("/tmp", "breweries_corrupt_fixture", tag, "raw.jsonl")
    if not os.path.exists(out):
        rows = (
            read_table(spark, sf_dir, "events")
            .filter("event_id < 1000")
            .select("event_id", "event_type", "user_id")
            .orderBy("event_id")
            .collect()
        )
        os.makedirs(os.path.dirname(out), exist_ok=True)
        tmp = f"{out}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            for r in rows:
                line = _json.dumps(
                    {"event_id": r.event_id, "event_type": r.event_type,
                     "user_id": r.user_id},
                    sort_keys=True,
                )
                if r.event_id % 10 == 0:
                    line = line[: len(line) // 2]  # truncate mid-object
                f.write(line + "\n")
        # single FILE publish: os.replace atomically overwrites, so a
        # concurrent-race loser just rewrites identical bytes
        os.replace(tmp, out)
    return out


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str = "row",
    schema: T.StructType | None = None,
) -> DataFrame:
    """XML scan (Spark 4 native source): one DataFrame row per
    ``row_tag`` element, schema inferred unless given. Same posture as
    JSON/CSV: an ingest-boundary format, rewritten to parquet at the
    first layer."""
    reader = spark.read.option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.xml(path)


def xml_fixture_from_orders(spark: SparkSession, sf_dir: str) -> str:
    """XML fixture (orders with o_orderkey < 1000, three columns)
    under /tmp, once per sf_dir. Atomic publish like the other
    fixtures."""
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    out = os.path.join("/tmp", "breweries_xml_fixture", tag)
    if not os.path.exists(out):
        df = (
            read_table(spark, sf_dir, "orders")
            .filter("o_orderkey < 1000")
            .select("o_orderkey", "o_orderstatus", "o_totalprice")
        )
        tmp = f"{out}.{os.getpid()}.tmp"
        df.write.mode("overwrite").option("rootTag", "orders").option(
            "rowTag", "order"
        ).xml(tmp)
        os.makedirs(os.path.dirname(out), exist_ok=True)
        try:
            os.rename(tmp, out)
        except OSError:
            # lost the publish race; winner's output is identical
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    return out


def csv_fixture_from_orders(spark: SparkSession, sf_dir: str) -> str:
    """Materialize a deterministic CSV fixture (orders with
    o_orderkey < 1000, three columns) under /tmp, once per sf_dir, for
    the CSV-inference scan path. Atomic publish like the JSON fixture."""
    from pyspark.sql import functions as F

    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    out = os.path.join("/tmp", "breweries_csv_fixture", tag)
    if not os.path.exists(out):
        df = (
            read_table(spark, sf_dir, "orders")
            .filter("o_orderkey < 1000")
            .select("o_orderkey", "o_orderstatus", F.col("o_totalprice"))
        )
        tmp = f"{out}.{os.getpid()}.tmp"
        df.write.mode("overwrite").option("header", "true").csv(tmp)
        os.makedirs(os.path.dirname(out), exist_ok=True)
        try:
            os.rename(tmp, out)
        except OSError:
            # lost the publish race; winner's output is identical
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    return out


def orc_fixture_from_orders(spark: SparkSession, sf_dir: str) -> str:
    """ORC fixture (orders with o_orderkey < 1000, three columns)
    under /tmp, once per sf_dir. Atomic publish like the other
    fixtures. ORC is Spark-built-in (no external module), columnar,
    and type-preserving — the round-trip is byte-exact, unlike the
    text formats."""
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    out = os.path.join("/tmp", "breweries_orc_fixture", tag)
    if not os.path.exists(out):
        df = (
            read_table(spark, sf_dir, "orders")
            .filter("o_orderkey < 1000")
            .select("o_orderkey", "o_orderstatus", "o_totalprice")
        )
        tmp = f"{out}.{os.getpid()}.tmp"
        df.write.mode("overwrite").orc(tmp)
        os.makedirs(os.path.dirname(out), exist_ok=True)
        try:
            os.rename(tmp, out)
        except OSError:
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    return out


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — native vectorized reader with predicate pushdown and
    column pruning, same scan posture as parquet."""
    return spark.read.orc(path)


def read_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """Raw line scan (``spark.read.text``): one string column
    ``value`` per line, no parsing — the entry point for custom text
    formats, where parsing happens as JVM column expressions
    (from_json / regexp) instead of in the source."""
    return spark.read.text(path)
