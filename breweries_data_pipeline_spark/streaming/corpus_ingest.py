"""Streaming corpus ingestion with incremental exact dedup — the
streaming half of ``operators/dedup.dedup_incremental`` (BASELINE
LLM-pipeline surface; the reference has no streaming).

Each micro-batch of documents is collapsed within-batch by
``exact_dedup`` (md5 of normalized text, keep the smallest id),
anti-joined on that fingerprint against everything the store has
already accepted, and the survivors are published as one committed
version of the store — the continuous form of the daily-crawl dedup
shape (collapsing first keeps the same rows: the anti-join drops
whole fingerprint groups).

Commit protocol: versions publish through the same ``_commits``
manifest as the snapshot store (streaming/upsert.py) — data directory
first, one-line marker last — so readers never see a half-written
addition and the publish is object-store-safe. Idempotency: a
redelivered batch id is detected via the manifest and skipped BEFORE
any dedup runs; without that guard a replayed batch would anti-join
against its own prior output, emit zero survivors, and overwrite the
good version with an empty one.

Scale notes: the anti-join carries only the fingerprint column of the
accepted corpus (uniform md5 key — no skew); at 100 TB the store keeps
a compacted fingerprint index table alongside the document versions
instead of re-reading every version's fingerprints per batch (same
semantics, one narrow column scan).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from breweries_data_pipeline_spark.operators.dedup import exact_dedup
from breweries_data_pipeline_spark.streaming.upsert import (
    commit_snapshot_version,
    committed_versions,
)


def read_corpus(spark: SparkSession, store_dir: str) -> DataFrame | None:
    """Union of every committed addition version (manifest-resolved),
    i.e. the accepted corpus so far."""
    versions = committed_versions(store_dir)
    if not versions:
        return None
    return spark.read.parquet(
        *[os.path.join(store_dir, f"v{v}") for v in versions]
    )


def streaming_corpus_ingest(
    sdf: DataFrame,
    store_dir: str,
    *,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Drain ``sdf`` (a stream of documents) with availableNow,
    appending each micro-batch's genuinely-new documents to the store.
    Read the accepted corpus back with ``read_corpus``."""

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_id in committed_versions(store_dir):
            return  # redelivered batch: already published, skip
        fresh = exact_dedup(batch_df, text_col, id_col)
        existing = read_corpus(spark, store_dir)
        if existing is not None:
            seen = existing.select("fingerprint").distinct()
            fresh = fresh.join(seen, "fingerprint", "left_anti")
        fresh.write.mode("overwrite").parquet(
            os.path.join(store_dir, f"v{batch_id}")
        )
        commit_snapshot_version(store_dir, batch_id)

    q = (
        sdf.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_cdc_ingest(
    sdf: DataFrame,
    store_dir: str,
    *,
    checkpoint_dir: str,
    threshold_ppm: int = 500_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Chunk-level streaming ingest — the CDC twin of
    streaming_corpus_ingest: each micro-batch's documents are
    fingerprinted at content-defined-chunk granularity
    (functions.text.cdc_chunk_fps_udf — offset-robust boundaries), a
    document is REJECTED when >= threshold_ppm of its distinct chunk
    fingerprints already appear in the accepted store (near-dup /
    mostly-boilerplate refresh pages), and accepted documents publish
    with their chunk sets through the same manifest-committed version
    protocol. This is the crawl-refresh shape exact dedup can't serve:
    a re-crawled page with one edited paragraph shares every other
    chunk and is dropped, while a genuinely new page sails through.

    Scale notes: the store-side state is ONE distinct 8-byte
    fingerprint column (compacted index at 100 TB, as with the exact
    ingest); the per-batch membership probe is a left-semi equi-join
    on that key, and the accept predicate is pure integer arithmetic
    (n_seen * 1e6 < threshold * n_fps — no float, no rounding drift
    vs the SQL oracle)."""
    from pyspark.sql import functions as F

    from breweries_data_pipeline_spark.functions.text import (
        cdc_chunk_fps_udf,
    )

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        from breweries_data_pipeline_spark.operators.dedup import (
            _ensure_parallelism,
        )

        spark = batch_df.sparkSession
        if batch_id in committed_versions(store_dir):
            return  # redelivered batch: already published, skip
        # a staged replay micro-batch is ONE parquet file, which scans
        # as 1-2 splits — without a repartition the chunking kernel
        # serializes onto those tasks (at sf1: a 17k-doc batch on 2 of
        # 32 cores). _ensure_parallelism is a no-op whenever the batch
        # already scans with >= cores splits (real ingest at scale).
        fresh = _ensure_parallelism(
            batch_df.select(id_col, text_col), key=id_col
        ).select(
            id_col,
            F.array_distinct(
                cdc_chunk_fps_udf()(F.col(text_col))
            ).alias("fps"),
        ).withColumn("n_fps", F.size("fps"))
        # the fingerprinted batch feeds BOTH the membership probe (the
        # explode below) and the final accept join — without a persist
        # the Arrow chunking kernel runs twice per batch (self-join
        # plan shape: Spark plans have no common-subtree reuse).
        # Batch-scoped: released before the next trigger.
        fresh = fresh.persist()
        try:
            existing = read_corpus(spark, store_dir)
            if existing is not None:
                seen = existing.select(F.explode("fps").alias("fp")).distinct()
                e = fresh.select(id_col, F.explode("fps").alias("fp"))
                m = (
                    e.join(seen, "fp", "left_semi")
                    .groupBy(id_col)
                    .agg(F.count("*").alias("n_seen"))
                )
                out = fresh.join(m, id_col, "left").fillna(0, ["n_seen"])
            else:
                out = fresh.withColumn("n_seen", F.lit(0).cast("long"))
            accepted = out.filter(
                F.col("n_seen") * 1_000_000
                < F.lit(threshold_ppm) * F.col("n_fps")
            )
            accepted.write.mode("overwrite").parquet(
                os.path.join(store_dir, f"v{batch_id}")
            )
            commit_snapshot_version(store_dir, batch_id)
        finally:
            fresh.unpersist()

    q = (
        sdf.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents parquet (schema from a
    footer-only batch peek, as with read_events_stream)."""
    path = os.path.join(sf_dir, "documents.parquet")
    schema = spark.read.parquet(path).schema
    # directory-of-part-files layout (soak replicas) vs single-file
    # layout (driver testdata) — see read_events_stream; the glob form
    # silently lists zero files on the directory layout
    if os.path.isdir(path):
        return spark.readStream.schema(schema).parquet(path)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
