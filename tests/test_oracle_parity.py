"""The engine's main correctness gate, mirroring the driver: every
registry query with an oracle must hash-match DuckDB on the same
parquet tables."""

from __future__ import annotations

import pytest

from breweries_data_pipeline_spark.queries import REGISTRY
from tests.parity import compare

ORACLE_QUERIES = sorted(name for name, (_, sql) in REGISTRY.items() if sql is not None)
ROWS_ONLY_QUERIES = sorted(name for name, (_, sql) in REGISTRY.items() if sql is None)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, sf_dir, name):
    fn, sql = REGISTRY[name]
    result = compare(fn(spark, sf_dir), sql, sf_dir)
    assert result["match"], f"{name}: {result['detail']}"


# sha256 of the JSON list of sorted (name, oracle SQL) pairs: 300
# queries, 289 with an oracle. A refactor of query code must leave every
# oracle string byte-identical; a change to one re-pins this digest.
_ORACLE_SHA256 = "b7474b371859de6ab7613d7de6132c5c5098951432d7c0a6a543c686c707bae3"


def test_oracle_strings_are_pinned():
    import hashlib
    import json

    pairs = sorted((name, sql) for name, (_, sql) in REGISTRY.items())
    assert (len(pairs), len(ORACLE_QUERIES)) == (300, 289)
    assert hashlib.sha256(json.dumps(pairs).encode()).hexdigest() == _ORACLE_SHA256


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_queries_run(spark, sf_dir, name):
    fn, _ = REGISTRY[name]
    df = fn(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


# the registry's md5 twins of the LSH pipeline in operators/dedup.py
LSH_TWINS = [
    "q_bucket_audit",
    "q_corpus_funnel",
    "q_corpus_funnel_buckets",
    "q_dedup_ledger",
    "q_dedup_lsh_buckets",
    "q_lsh_cost_model",
    "q_lsh_recall_audit",
    "q_lsh_recall_audit_sampled",
    "q_minhash_lsh",
]


@pytest.fixture
def no_broadcast(spark):
    """Drop the dedup frequency-table broadcast hint and size-based
    broadcasts, so the shared LSH, prefix-filter and similarity steps
    run their sort-merge join paths (the ones used at scale) on the
    small test tables; the Spark session's settings are restored
    afterwards."""
    overrides = {
        "spark.breweries.dedup.broadcastFreq": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    yield
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


@pytest.mark.parametrize("name", LSH_TWINS)
def test_lsh_twin_parity_without_broadcast(spark, sf_dir, no_broadcast, name):
    fn, sql = REGISTRY[name]
    result = compare(fn(spark, sf_dir), sql, sf_dir)
    assert result["match"], f"{name}: {result['detail']}"


# the prefix-filter similarity join family (operators/dedup.py
# _verified_prefix_pairs) and the oracled users of the nearest-centroid
# step (operators/similarity.py)
SIMILARITY_FAMILY = [
    "q_bitext_mine",
    "q_kmeans_assign",
    "q_kmeans_lloyd2",
    "q_neardup_incremental",
    "q_neardup_index",
    "q_neardup_index_fp",
    "q_semantic_dedup",
    "q_similarity_join_exact",
]


@pytest.mark.parametrize("name", SIMILARITY_FAMILY)
def test_similarity_parity_without_broadcast(spark, sf_dir, no_broadcast, name):
    fn, sql = REGISTRY[name]
    result = compare(fn(spark, sf_dir), sql, sf_dir)
    assert result["match"], f"{name}: {result['detail']}"


# the oracled queries whose result goes through connected components
# (operators/graph.py); the default run above takes the driver path at
# this size, this leg the distributed label-propagation loop
CC_BACKED = [
    "q_cluster_best",
    "q_corpus_funnel_buckets",
    "q_dedup_clusters",
    "q_dedup_lsh_buckets",
    "q_dedup_neardup",
    "q_winnow_dedup_star",
]


@pytest.mark.parametrize("name", CC_BACKED)
def test_cc_parity_on_distributed_path(spark, sf_dir, distributed_cc, name):
    fn, sql = REGISTRY[name]
    result = compare(fn(spark, sf_dir), sql, sf_dir)
    assert result["match"], f"{name}: {result['detail']}"
