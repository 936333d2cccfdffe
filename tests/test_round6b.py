"""Behavioral tests for the round-6 second-wave operators, beyond the
oracle hash parity in test_oracle_parity.py: planted-case semantics
(does semantic dedup actually drop a planted duplicate? does BFS
respect the hop bound?) and the mathematical guarantees (CMS never
underestimates; algebraic agg merge == one-shot aggregate)."""

from __future__ import annotations

from pyspark.sql import functions as F

from breweries_data_pipeline_spark.operators.graph import (
    bfs_distances,
    label_propagation,
    node_jaccard,
)
from breweries_data_pipeline_spark.operators.merge import merge_partial_aggs
from breweries_data_pipeline_spark.operators.similarity import semantic_dedup
from breweries_data_pipeline_spark.operators.sketch import cms_build, cms_estimate
from breweries_data_pipeline_spark.operators.corpus import dsir_weights
from breweries_data_pipeline_spark.sources import read_table


def test_semantic_dedup_drops_planted_duplicate(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    clone = emb.filter(F.col("vec_id") == 20).withColumn(
        "vec_id", F.lit(900000).cast(emb.schema["vec_id"].dataType)
    )
    aug = emb.unionByName(clone)
    kept = semantic_dedup(aug, k=8, tau=0.25, n_iter=0)
    ids = {r["vec_id"] for r in kept.collect()}
    # identical vectors have cosine 1.0 >= tau, so at most one twin can
    # survive (both may fall if an earlier-ranked neighbor also reaches
    # tau against them — rank-ordered pruning is transitive-free)
    assert not (20 in ids and 900000 in ids)
    # and with a tau nothing reaches, both twins survive
    all_kept = semantic_dedup(aug, k=8, tau=1.1, n_iter=0)
    ids2 = {r["vec_id"] for r in all_kept.collect()}
    assert 20 in ids2 and 900000 in ids2


def test_semantic_dedup_keeps_all_below_tau(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings").limit(50)
    kept = semantic_dedup(emb, k=4, tau=1.1, n_iter=0)  # nothing reaches tau
    assert kept.count() == 50


def test_cms_never_underestimates(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("w"))
    sketch = cms_build(toks, "w", depth=4, width=64)
    truth = toks.groupBy("w").agg(F.count("*").alias("true_cnt"))
    est = cms_estimate(sketch, truth.select("w"), "w", depth=4, width=64)
    joined = truth.join(est, "w")
    assert joined.filter(F.col("est_cnt") < F.col("true_cnt")).isEmpty()


def test_cms_depth_tightens_estimates(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("w"))
    probes = toks.distinct()
    err = {}
    for depth in (1, 4):
        sketch = cms_build(toks, "w", depth=depth, width=64)
        est = cms_estimate(sketch, probes, "w", depth=depth, width=64)
        truth = toks.groupBy("w").agg(F.count("*").alias("t"))
        err[depth] = (
            truth.join(est, "w")
            .agg(F.sum(F.col("est_cnt") - F.col("t")).alias("e"))
            .collect()[0]["e"]
        )
    # min over more independent rows can only reduce total overestimate
    assert err[4] <= err[1]


def test_merge_partial_aggs_equals_one_shot(spark, sf_dir):
    li = read_table(spark, sf_dir, "lineitem")

    def agg(df):
        return df.groupBy("l_returnflag").agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias(
                "cents"
            ),
            F.max("l_quantity").alias("maxq"),
        )

    base = agg(li.filter(F.col("l_orderkey") % 2 == 0))
    delta = agg(li.filter(F.col("l_orderkey") % 2 == 1))
    merged = merge_partial_aggs(
        base, delta, ["l_returnflag"], {"n": "sum", "cents": "sum", "maxq": "max"}
    )
    direct = agg(li)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_bfs_hop_bound_and_source(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "src long, dst long"
    )
    dist = {r["node"]: r["dist"] for r in bfs_distances(edges, 1, max_hops=2).collect()}
    assert dist == {1: 0, 2: 1, 3: 2}  # 4 is 3 hops away; 10/11 unreachable


def test_bfs_takes_shortest_of_multiple_paths(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "src long, dst long"
    )
    dist = {r["node"]: r["dist"] for r in bfs_distances(edges, 1, max_hops=3).collect()}
    assert dist[3] == 1


def test_label_propagation_two_cliques(spark):
    # two triangles joined by nothing: each converges to its min label
    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(10, 11), (11, 12), (10, 12)]
    edges = spark.createDataFrame(tri1 + tri2, "src long, dst long")
    com = {r["node"]: r["community"] for r in label_propagation(edges, n_iter=3).collect()}
    assert com[1] == com[2] == com[3]
    assert com[10] == com[11] == com[12]
    assert com[1] != com[10]


def test_node_jaccard_hub_pruning(spark):
    # item 99 is a hub touching every node; with hub_cap it must not
    # produce any candidate pairs on its own
    rows = [(99, n) for n in range(10)] + [(1, 0), (1, 1)]
    edges = spark.createDataFrame(rows, "item long, node long")
    out = node_jaccard(edges, "item", "node", hub_cap=5).collect()
    assert len(out) == 1  # only the (0,1) pair via item 1
    r = out[0]
    assert (r["node_a"], r["node_b"], r["common_items"]) == (0, 1, 1)
    assert abs(r["jaccard"] - 1.0) < 1e-12  # pruned degrees are 1 and 1


def test_dsir_weights_favor_target_like_docs(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    w = dsir_weights(docs, target=F.col("lang") == "en")
    scored = docs.select("doc_id", "lang").join(w, "doc_id")
    means = {
        r["is_en"]: r["m"]
        for r in scored.groupBy((F.col("lang") == "en").alias("is_en"))
        .agg(F.avg("weight_micro").alias("m"))
        .collect()
    }
    # docs in the target language must score higher on average
    assert means[True] > means[False]


def test_semantic_dedup_scale_path_matches_oracle_path(spark, sf_dir, fold_lane_cap):
    emb = read_table(spark, sf_dir, "embeddings")
    kw = dict(k=8, tau=0.25, n_iter=0)
    exact = semantic_dedup(emb, **kw)
    fold_lane_cap(0)
    scale = semantic_dedup(emb, **kw)
    ex = {(r["vec_id"], r["cluster_id"], r["rnk"]) for r in exact.collect()}
    sc = {(r["vec_id"], r["cluster_id"], r["rnk"]) for r in scale.collect()}
    assert ex == sc
