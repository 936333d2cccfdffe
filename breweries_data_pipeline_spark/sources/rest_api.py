"""Paginated REST API source (SURVEY.md §2.1 S1).

The reference fetches pages driver-side in a sequential ``requests``
loop with retry/backoff (breweries_fetch_bronze_notebook.py:27-66).
That is correct for a 10^4-row API but is the one part of the
reference that cannot scale, so this engine provides two modes:

- ``fetch_all``: sequential driver-side loop (small sources, unknown
  page count) — semantics identical to the reference: page until an
  empty page, exponential-backoff retry, HTTP 429 honoured.
- ``fetch_distributed``: when the page count is known (or bounded),
  fan the page range out over executors with ``mapInPandas`` so a
  1000-executor cluster pulls 1000 pages concurrently.

These two modes are the whole of S1: both share the ``FetchPage``
transport and the retry policy. The pipeline's ingest stage writes
``fetch_all``'s records straight to the Bronze JSONL, and Spark first
touches them when Silver reads that file under the enforced schema.

The HTTP transport is injectable (``fetch_page``) so tests use a stub
and no network access is required.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession

# fetch_page(page_number, per_page) -> list of record dicts ([] = past end)
FetchPage = Callable[[int, int], list[dict[str, Any]]]


class RetryableFetchError(Exception):
    """Transient fetch failure (HTTP 5xx / 429 / timeout)."""

    def __init__(self, message: str, retry_after: float | None = None):
        super().__init__(message)
        self.retry_after = retry_after


def _fetch_with_retry(
    fetch_page: FetchPage,
    page: int,
    per_page: int,
    retries: int,
    backoff: float,
    sleep: Callable[[float], None] = time.sleep,
) -> list[dict[str, Any]]:
    """Retry policy matching the reference: ``retries`` attempts with
    exponential backoff ``backoff * 2**attempt``; 429-style responses
    honour the server-provided delay
    (breweries_fetch_bronze_notebook.py:37-60)."""
    last: Exception | None = None
    for attempt in range(retries + 1):
        try:
            return fetch_page(page, per_page)
        except RetryableFetchError as exc:
            last = exc
            if attempt < retries:
                sleep(exc.retry_after if exc.retry_after is not None else backoff * (2**attempt))
    raise RuntimeError(f"page {page} failed after {retries} retries") from last


def fetch_all(
    fetch_page: FetchPage,
    *,
    per_page: int = 50,
    max_pages: int | None = None,
    retries: int = 3,
    backoff: float = 2.0,
    sleep: Callable[[float], None] = time.sleep,
) -> list[dict[str, Any]]:
    """Sequential pagination until an empty page (reference semantics)."""
    out: list[dict[str, Any]] = []
    page = 1
    while max_pages is None or page <= max_pages:
        records = _fetch_with_retry(fetch_page, page, per_page, retries, backoff, sleep)
        if not records:
            break
        out.extend(records)
        page += 1
    return out


def fetch_distributed(
    spark: SparkSession,
    fetch_page: FetchPage,
    n_pages: int,
    *,
    per_page: int = 50,
    retries: int = 3,
    backoff: float = 2.0,
    tasks: int | None = None,
) -> DataFrame:
    """Parallel page fetch: ``spark.range(n_pages)`` repartitioned so
    each executor task pulls a slice of the page range. Records come
    back as JSON strings; parse with ``spark.read.json(ds)`` or
    ``from_json`` with an enforced schema downstream.

    Returns a DataFrame with a single ``json`` string column — keeping
    the payload opaque here lets the Silver stage apply its declarative
    schema enforcement exactly as for the sequential path.
    """
    import pandas as pd  # local import: executors only need it here

    def fetch_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for page in pdf["id"].tolist():
                records = _fetch_with_retry(fetch_page, int(page) + 1, per_page, retries, backoff)
                rows.extend(json.dumps(r, sort_keys=True) for r in records)
            yield pd.DataFrame({"json": rows})

    n_tasks = tasks or min(n_pages, int(spark.sparkContext.defaultParallelism))
    pages = spark.range(n_pages).repartition(n_tasks)
    return pages.mapInPandas(fetch_partition, schema="json string")

