"""X8 similarity-search tests: exact-vs-oracle is covered by the
parity sweep; here we check the ANN path — recall against the exact
top-k, and that candidate generation is an equi-join (no cartesian)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from breweries_data_pipeline_spark.operators.similarity import ann_topk, cosine_topk
from breweries_data_pipeline_spark.sources import read_table


def _probe_set(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    return emb, emb.filter(F.col("vec_id") < 5)


def test_ann_recall_vs_exact(spark, sf_dir):
    emb, probes = _probe_set(spark, sf_dir)
    exact = {
        (r.probe_id, r.vec_id) for r in cosine_topk(emb, probes, k=5).collect()
    }
    ann = {(r.probe_id, r.vec_id) for r in ann_topk(emb, probes, k=5).collect()}
    recall = len(exact & ann) / len(exact)
    # 16 planes / 4 bands: banding keeps high-cosine pairs with high
    # probability; a floor of 0.4 catches structural breakage without
    # flaking on LSH variance.
    assert recall >= 0.4, f"ANN recall {recall:.2f} below floor"


def test_ann_scores_are_exact_for_returned_pairs(spark, sf_dir):
    emb, probes = _probe_set(spark, sf_dir)
    exact = {
        (r.probe_id, r.vec_id): r.cosine
        for r in cosine_topk(emb, probes, k=5).collect()
    }
    for r in ann_topk(emb, probes, k=5).collect():
        if (r.probe_id, r.vec_id) in exact:
            assert r.cosine == exact[(r.probe_id, r.vec_id)]


def test_ann_plan_has_no_cartesian_product(spark, sf_dir):
    emb, probes = _probe_set(spark, sf_dir)
    plan = ann_topk(emb, probes, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_ivf_recall_vs_exact(spark, sf_dir):
    from breweries_data_pipeline_spark.operators.similarity import ivf_topk

    emb, probes = _probe_set(spark, sf_dir)
    exact = {(r.probe_id, r.vec_id) for r in cosine_topk(emb, probes, k=5).collect()}
    ivf = {(r.probe_id, r.vec_id) for r in ivf_topk(emb, probes, k=5).collect()}
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.4, f"IVF recall {recall:.2f} below floor"


def test_ivf_kmeans_centroids_improve_or_match(spark, sf_dir):
    from breweries_data_pipeline_spark.operators.similarity import (
        ivf_topk,
        kmeans_centroids,
    )

    emb, probes = _probe_set(spark, sf_dir)
    cents = kmeans_centroids(emb, k=8, n_iter=2)
    assert len(cents) == 8
    dim = len(emb.select("embedding").first()[0])
    assert all(len(c) == dim for c in cents)

    exact = {(r.probe_id, r.vec_id) for r in cosine_topk(emb, probes, k=5).collect()}
    ivf = {
        (r.probe_id, r.vec_id)
        for r in ivf_topk(emb, probes, k=5, n_clusters=8, n_probe=3, kmeans_iter=2).collect()
    }
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.4, f"IVF+kmeans recall {recall:.2f} below floor"


@pytest.mark.parametrize("kmeans_iter", [0, 2])
def test_ivf_cell_join_emits_each_pair_once(spark, sf_dir, kmeans_iter):
    """A corpus vector sits in exactly one cell and a probe's n_probe
    cells are distinct, so the cell equi-join meets each (probe, vector)
    pair at most once: ivf_topk needs no dedupe before its rank. Checked
    on the join itself (rebuilt from the same centroids and lanes) and
    on ivf_topk with k large enough to return every candidate."""
    from breweries_data_pipeline_spark.operators.similarity import (
        ivf_topk,
        kmeans_centroids,
        nearest_centroid_udf,
    )

    emb, probes = _probe_set(spark, sf_dir)
    cells = list(enumerate(kmeans_centroids(emb, k=16, n_iter=kmeans_iter)))
    c = emb.select(
        "vec_id", nearest_centroid_udf(cells)(F.col("embedding"))["cluster"].alias("cell")
    )
    p = probes.select(
        F.col("vec_id").alias("probe_id"),
        F.explode(nearest_centroid_udf(cells, n=4)(F.col("embedding"))).alias("cell"),
    )
    joined = [
        (r.probe_id, r.vec_id)
        for r in c.join(p, "cell").where(F.col("vec_id") != F.col("probe_id")).collect()
    ]
    assert joined and len(joined) == len(set(joined))

    n = emb.count()
    top = [
        (r.probe_id, r.vec_id)
        for r in ivf_topk(emb, probes, k=n, kmeans_iter=kmeans_iter).collect()
    ]
    assert sorted(top) == sorted(joined)


def test_embedding_dedup_drops_exact_duplicate_vectors(spark, sf_dir):
    from breweries_data_pipeline_spark.operators.similarity import (
        dedup_embeddings,
        embedding_near_dup_pairs,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    # clone vec 0 under a fresh id: an exact duplicate (cosine 1.0)
    clone = emb.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        "embedding",
        "label",
    )
    corpus = emb.unionByName(clone)
    pairs = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup_pairs(corpus, threshold=0.99).collect()
    }
    assert pairs.get((0, 1_000_000)) == pytest.approx(1.0, abs=1e-12)
    survivors = {r.vec_id for r in dedup_embeddings(corpus, threshold=0.99).collect()}
    assert 0 in survivors and 1_000_000 not in survivors

    plan = (
        embedding_near_dup_pairs(corpus, threshold=0.99)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kmeans_matches_numpy_lloyd_exactly(spark):
    """The one-row-per-cluster aggregate (r5 advice: no posexplode
    row amplification) must reproduce a reference numpy Lloyd
    iteration: same assignment (normalized-cosine argmax), same
    per-cluster per-dim means, empty clusters keeping their previous
    centroid."""
    import numpy as np

    from breweries_data_pipeline_spark.operators.similarity import (
        kmeans_centroids,
    )

    rng = np.random.RandomState(7)
    V = rng.randn(60, 8).astype(np.float64)
    df = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(len(V))],
        "vec_id long, embedding array<double>",
    )
    k, iters = 4, 2
    got = np.array(kmeans_centroids(df, k=k, n_iter=iters))

    cents = V[:k].copy()
    for _ in range(iters):
        C = cents / np.linalg.norm(cents, axis=1, keepdims=True)
        Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-30)
        assign = np.argmax(Vn @ C.T, axis=1)
        for c in range(k):
            if (assign == c).any():
                cents[c] = V[assign == c].mean(axis=0)
    assert np.allclose(got, cents, rtol=1e-12, atol=1e-12), (
        np.abs(got - cents).max()
    )


def test_ann_recall_matches_analytic_s_curve(spark, sf_dir):
    """Calibrated recall bound (r5 advice: the 0.4 floor was loose).
    For each exact-top-k pair with cosine c, sign-LSH collision
    probability per plane is 1 - arccos(c)/pi, so with 8 bands of 4
    planes P(candidate) = 1 - (1 - p^4)^8; expected recall is the
    mean over the fixture's actual cosine distribution and observed
    recall must sit within a 4-sigma-plus-bias margin of it — a
    banding regression (wrong band width, lost band, broken sign
    computation) moves recall far outside this window while still
    clearing a flat 0.4 floor."""
    import math

    emb, probes = _probe_set(spark, sf_dir)
    exact = {
        (r.probe_id, r.vec_id): r.cosine
        for r in cosine_topk(emb, probes, k=5).collect()
    }
    ann = {(r.probe_id, r.vec_id) for r in ann_topk(emb, probes, k=5).collect()}
    observed = len(set(exact) & ann) / len(exact)

    per, bands = 4, 8  # ann_topk default: 32 planes / 8 bands
    ps = []
    for c in exact.values():
        p_plane = 1.0 - math.acos(max(-1.0, min(1.0, c))) / math.pi
        ps.append(1.0 - (1.0 - p_plane**per) ** bands)
    expected = sum(ps) / len(ps)
    # binomial-sum std dev over independent pairs + a bias allowance
    # for the cube-sampled (not spherically symmetric) plane pool
    sigma = math.sqrt(sum(p * (1 - p) for p in ps)) / len(ps)
    margin = 4 * sigma + 0.10
    assert abs(observed - expected) <= margin, (
        f"ANN recall {observed:.3f} outside {expected:.3f} +/- {margin:.3f} "
        f"(sigma={sigma:.3f}, n={len(ps)})"
    )


def test_ivf_recall_equals_cluster_coverage_prediction(spark, sf_dir):
    """IVF recall is fully deterministic given the centroid init, so
    the calibrated bound is EQUALITY: replicate the assignment in
    numpy (same normalize + rank ops as similarity.nearest_centroids)
    and predict exactly which exact-top-k pairs live in a probed
    cluster — every such pair must be returned (an exact-top-k pair
    in the candidate set always outranks non-top-k candidates), and
    no recall beyond prediction is possible."""
    import numpy as np

    from breweries_data_pipeline_spark.operators.similarity import ivf_topk

    emb, probes = _probe_set(spark, sf_dir)
    n_clusters, n_probe, k = 16, 4, 5
    exact = {(r.probe_id, r.vec_id) for r in cosine_topk(emb, probes, k=k).collect()}
    ivf = {
        (r.probe_id, r.vec_id)
        for r in ivf_topk(
            emb, probes, k=k, n_clusters=n_clusters, n_probe=n_probe
        ).collect()
    }

    rows = emb.select("vec_id", "embedding").orderBy("vec_id").collect()
    ids = [r.vec_id for r in rows]
    V = np.vstack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    C = V[:n_clusters]  # deterministic init: n_clusters lowest-id vectors
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-30)
    sims = Vn @ Cn.T
    assign = {ids[i]: int(np.argsort(-sims[i])[0]) for i in range(len(ids))}
    probed = {
        ids[i]: set(np.argsort(-sims[i])[:n_probe].tolist())
        for i in range(len(ids))
        if ids[i] < 5  # the probe set
    }
    predicted = {
        (p, v) for (p, v) in exact if assign[v] in probed[p]
    }
    assert ivf & exact == predicted, (
        f"IVF recalled {sorted(ivf & exact)} but cluster coverage "
        f"predicts {sorted(predicted)}"
    )


def test_pq_recall_and_exact_rerank_scores(spark, sf_dir):
    """PQ ANN: with a 4x rerank shortlist the returned top-5 should
    recover most of the exact top-5 (floor 0.5 — PQ at m=4/ksub=16
    on 16-dim fixtures quantizes coarsely but the rerank recovers
    ordering), and every returned cosine must be EXACT (bit-equal to
    the exact query's score for the same pair) because the rerank
    recomputes true cosines — PQ error may only affect shortlist
    membership, never reported scores."""
    from breweries_data_pipeline_spark.operators.similarity import pq_topk

    emb, probes = _probe_set(spark, sf_dir)
    exact = {
        (r.probe_id, r.vec_id): r.cosine
        for r in cosine_topk(emb, probes, k=5).collect()
    }
    pq = pq_topk(emb, probes, k=5).collect()
    hits = {(r.probe_id, r.vec_id) for r in pq}
    recall = len(set(exact) & hits) / len(exact)
    assert recall >= 0.5, f"PQ recall {recall:.2f} below floor"
    for r in pq:
        if (r.probe_id, r.vec_id) in exact:
            assert r.cosine == exact[(r.probe_id, r.vec_id)]


# ---------------------------------------------------------------------------
# Cross-lane equivalence for the large-k matmul assignment kernels.
# The k <= 16 exact-fold lanes are what parity and the driver oracle
# exercise; the k > 16 matmul lanes carry the measured scale claims
# (bitext's 5x-at-one-decade IVF knob, semantic_dedup's cluster-count
# scaling) — these fixtures pin the two lanes to the SAME assignments
# across the boundary, including the ties-to-lowest-cell-id contract.


def _l2_lanes():
    """The two lanes of the nearest-centroid step, each as
    (seed_cells, vector column) -> cell-id column."""
    from breweries_data_pipeline_spark.operators.similarity import (
        nearest_centroid_fold,
        nearest_centroid_udf,
    )

    return {
        "fold": nearest_centroid_fold,
        "numpy": lambda seeds, v: nearest_centroid_udf(seeds, "l2")(v)["cluster"],
    }


def _doubled(emb):
    return emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "v"
        ),
    )


def test_ivf_cell_lanes_agree_across_k16_boundary(spark, sf_dir):
    from breweries_data_pipeline_spark.operators.similarity import (
        ivf_l2_cell_column,
    )

    lanes = _l2_lanes()
    e = _doubled(read_table(spark, sf_dir, "embeddings"))
    for k in (8, 16, 20, 33):  # both sides of the lane switch
        seeds = [
            (int(r["vec_id"]), list(r["v"]))
            for r in e.filter(F.col("vec_id") < k).orderBy("vec_id").collect()
        ]
        fold = {
            r["vec_id"]: r["cell"]
            for r in e.select(
                "vec_id",
                lanes["fold"](seeds, F.col("v")).alias("cell"),
            ).collect()
        }
        matmul = {
            r["vec_id"]: r["cell"]
            for r in e.select(
                "vec_id",
                lanes["numpy"](seeds, F.col("v")).alias("cell"),
            ).collect()
        }
        assert fold == matmul, f"lane mismatch at k={k}"
        # the k-picked lane gives the same cells on either side of 16
        picked = {
            r["vec_id"]: r["cell"]
            for r in e.select(
                "vec_id", ivf_l2_cell_column(seeds, F.col("v")).alias("cell")
            ).collect()
        }
        assert picked == fold, f"ivf_l2_cell_column mismatch at k={k}"


def test_ivf_cell_both_lanes_tie_to_lowest_cell_id(spark):
    # seeds 3 and 7 are IDENTICAL: every vector equidistant to both
    # must land in cell 3 on BOTH lanes (array_min orders by (dist,
    # cell); numpy argmax takes the first maximum in cell-id order)
    dup = [1.0, 2.0]
    seeds = [(3, dup), (7, dup), (9, [100.0, 100.0])]
    rows = [(0, [1.0, 2.0]), (1, [0.0, 0.0]), (2, [100.0, 99.0])]
    e = spark.createDataFrame(rows, "vec_id long, v array<double>")
    for lane, cell_of in _l2_lanes().items():
        got = {
            r["vec_id"]: r["cell"]
            for r in e.select(
                "vec_id",
                cell_of(seeds, F.col("v")).alias("cell"),
            ).collect()
        }
        assert got == {0: 3, 1: 3, 2: 9}, f"{lane} lane: {got}"


def test_ivf_cell_tie_contract_survives_unsorted_seeds(spark):
    """r10 ADVICE: the numpy lane's argmax ties to the FIRST seed in
    LIST order, so the lowest-cell-id contract used to hold only when
    callers pre-sorted seed_cells. nearest_centroid_udf sorts on entry
    — an UNSORTED seed list with an exact tie must still land in the
    lowest cell id on both lanes."""
    dup = [1.0, 2.0]
    # deliberately unsorted: higher cell id first in list order
    seeds = [(7, dup), (9, [100.0, 100.0]), (3, dup)]
    rows = [(0, [1.0, 2.0]), (1, [0.0, 0.0]), (2, [100.0, 99.0])]
    e = spark.createDataFrame(rows, "vec_id long, v array<double>")
    for lane, cell_of in _l2_lanes().items():
        got = {
            r["vec_id"]: r["cell"]
            for r in e.select(
                "vec_id",
                cell_of(seeds, F.col("v")).alias("cell"),
            ).collect()
        }
        assert got == {0: 3, 1: 3, 2: 9}, f"{lane} lane: {got}"


def test_semantic_dedup_lanes_agree_above_k16(spark, sf_dir, fold_lane_cap):
    # the k=8 twin lives in test_round6b; this one crosses the lane
    # switch: default path at k=20 IS the matmul/grouped-prune scale
    # lane, a raised fold-lane cap replays it with fold columns + pair
    # join
    from breweries_data_pipeline_spark.operators.similarity import (
        semantic_dedup,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    kw = dict(k=20, tau=0.25, n_iter=0)
    scale = semantic_dedup(emb, **kw)
    fold_lane_cap(20)
    exact = semantic_dedup(emb, **kw)
    ex = {(r["vec_id"], r["cluster_id"], r["rnk"]) for r in exact.collect()}
    sc = {(r["vec_id"], r["cluster_id"], r["rnk"]) for r in scale.collect()}
    assert ex == sc
