"""Session-level registry of persisted intermediates.

Several query/operator functions ``persist()`` an intermediate that
feeds multiple branches of the RETURNED (lazy) plan — an in-function
``unpersist()`` would defeat the cache before the caller ever executes
it, so the release has to happen after materialization. Every such
persist goes through :func:`track_persist` so a library user composing
query or operator functions in one long session can drop the
accumulated caches with one :func:`release_caches` call (the bench
calls ``spark.catalog.clearCache()`` between measurements, which
covers the same ground for its own process).

This lives one level below ``queries.py`` on purpose: the heaviest
caches are operator-level (MinHash signature tables, shingle-set
arrays, LSH band tables in ``operators/dedup.py`` /
``operators/similarity.py`` / ``operators/graph.py``), and a tracker
scoped to the query registry would miss exactly those when the
operators are used directly as a library.

Scratch catalog tables go through the same release: a query that
writes tables and returns a plan reading them registers them with
:func:`track_table`.

Operators that fully consume a cache within their own function body
(persist -> iterate -> unpersist, e.g. the BFS/PageRank frontier
loops) manage their own lifecycle and do NOT go through the tracker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED_CACHES: list[DataFrame] = []
_TRACKED_TABLES: list[tuple[object, str]] = []


def track_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` plus registration for later bulk release."""
    _TRACKED_CACHES.append(df)
    return df.persist()


def track_table(spark, name: str) -> None:
    """Register a scratch catalog table that a RETURNED (lazy) plan
    reads, so :func:`release_caches` drops it — table and warehouse
    directory — once the caller has materialised the result."""
    _TRACKED_TABLES.append((spark, name))


def release_caches() -> int:
    """Unpersist every tracked intermediate and drop every tracked
    table so far. Returns the number released. Idempotent; safe to
    call anytime after the consumers have collected/written their
    results (the caches only pay off through materialization)."""
    n = 0
    while _TRACKED_CACHES:
        df = _TRACKED_CACHES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # noqa: BLE001 — session may already be gone
            pass
    while _TRACKED_TABLES:
        spark, name = _TRACKED_TABLES.pop()
        try:
            _drop_table_and_stale_location(spark, name)
            n += 1
        except Exception:  # noqa: BLE001 — session may already be gone
            pass
    return n


def _drop_table_and_stale_location(spark, name: str) -> None:
    """DROP TABLE IF EXISTS, then clear any orphaned managed-table
    directory: a previous session with an in-memory metastore may have
    left the warehouse location behind, and saveAsTable refuses to
    reuse a location it has no catalog entry for
    (LOCATION_ALREADY_EXISTS). Uses the Hadoop FileSystem API so
    remote warehouses behave the same as local ones."""
    spark.sql(f"DROP TABLE IF EXISTS `{name}`")
    try:
        jvm = spark.sparkContext._jvm
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        wh = spark.conf.get("spark.sql.warehouse.dir")
        path = jvm.org.apache.hadoop.fs.Path(wh.rstrip("/") + "/" + name.lower())
        fs = path.getFileSystem(conf)
        if fs.exists(path):
            fs.delete(path, True)
    except Exception:  # noqa: BLE001 — best-effort; saveAsTable will
        pass           # surface a real problem if one remains
