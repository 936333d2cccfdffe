"""Embedding similarity search (SURVEY.md §2.6 X8; BASELINE.json:
brute-force cosine top-k baseline + LSH-bucketed ANN scale path).

Top-k search plans share one contract (probe_id, vec_id, cosine,
rank):

- ``cosine_topk`` (exact baseline): broadcast the (small) probe set
  against the corpus — a BroadcastNestedLoopJoin that scans the corpus
  ONCE regardless of probe count, then ranks per probe with one hash
  exchange on probe_id. Cost is O(|corpus| * |probes|) multiply-adds,
  all inside whole-stage codegen. Correct plan when probes are few;
  never quadratic in the corpus.

- ``ann_topk`` (scale path): random-hyperplane LSH. Each vector gets a
  b-bit signature (sign of dot with b fixed pseudo-random planes);
  signatures band into groups of adjacent bits; probe meets corpus
  vector only if some band matches — an equi-join on (band, value), so
  candidate generation shuffles on band buckets instead of fanning the
  whole corpus to every probe. Candidates are then ranked by exact
  cosine. Recall tunes with bands/bits (more bands = more recall, more
  candidates). At 100 TB the signature pass is a narrow scan-bound
  map and the join touches only colliding buckets.

- ``ivf_topk`` and ``pq_topk``: centroid-partitioned search (inverted
  lists; product-quantization codes), each with an exact rerank.

The clustering family (IVF, PQ, ``semantic_dedup``, the registry's
k-means and bitext queries) shares ONE nearest-centroid assignment
step, in two lanes with one contract (nearest by cosine or squared
L2, ties to the lowest centroid id):

- ``nearest_centroids``: the numpy kernel, one matmul per Arrow batch
  for all k centroids. ``nearest_centroid_udf`` is the one pandas-UDF
  factory around it; ``pq_topk``'s encoder calls it per subspace.
- ``nearest_centroid_fold``: the exact-fold JVM lane, a zero-shuffle
  ``array_min`` over (distance, id) structs against the broadcast
  centroid literal, each distance a pinned-order ``aggregate`` fold —
  the IEEE sequence a DuckDB CROSS JOIN + row_number replay
  reproduces bit-for-bit. Its codegen cost grows with k, so callers
  that pick a lane by k switch to the numpy lane above k = 16:
  ``ivf_l2_cell_column`` (squared L2) and ``semantic_dedup``, whose
  oracle lane is the cosine form of the fold (exact-fold dots,
  ``array_max`` over (cosine, -id)).

Every Lloyd iteration is ``kmeans_centroids`` (E-step through the
numpy lane, M-step as one per-cluster hash aggregate).

Hyperplanes are module-level constants from a seeded PRNG — identical
across sessions/executors, no numpy, no driver->executor closure
capture beyond plain literals.

All cosine arithmetic is pinned-order double (float->double cast,
left-fold sum): verified bit-equal between Spark's F.aggregate and
DuckDB's list_sum, so exact queries are hash-checkable.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from breweries_data_pipeline_spark.cache import track_persist
from breweries_data_pipeline_spark.functions.vectors import l2_norm
from breweries_data_pipeline_spark.operators.dedup import _exact_group_stars
from breweries_data_pipeline_spark.operators.windows import topk_per_group

# Fixed pseudo-random hyperplanes over up-to-128-dim embeddings.
# Seeded so plans are replayable; components in [-1, 1]. Two operating
# points share this pool (sign-LSH collision prob per plane is
# 1 - theta/pi):
# - ANN top-k hunts LOW-cosine neighbors (~0.3 in the testdata), so it
#   uses coarse bands: 32 planes in 8 bands of 4 bits, per-band
#   collision ~0.13, any-of-8 ~0.66.
# - near-dup dedup filters at cosine >= 0.9 (per-plane p ~0.857), so
#   it uses FINE bands: 128 planes in 16 bands of 8 bits, per-band
#   ~0.29, any-of-16 ~0.996 recall — while 2^8 buckets/band keep
#   candidate volume ~N^2/2^bits instead of the quadratic blowup a
#   4-bit band gives. At scale, pick bits ~ log2(N / target_bucket).
_rng = random.Random(42)
N_PLANES = 32
# 16 bits x 64 bands worst case; rows are generated row-major, so the
# first k rows are identical for any table size (raising the cap never
# changes existing signatures)
MAX_PLANES = 1024
MAX_DIM = 128
HYPERPLANES: list[list[float]] = [
    [_rng.uniform(-1.0, 1.0) for _ in range(MAX_DIM)] for _ in range(MAX_PLANES)
]


def cosine_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors per probe.

    ``probes`` must be small (it is broadcast); ``corpus`` is scanned
    once. Returns (probe_id, vec_id, cosine, rank) with deterministic
    (cosine desc, vec_id) tie-break; self-matches excluded.

    Norms are computed ONCE per corpus/probe row (not per pair), and
    the per-pair dot runs as an Arrow-batched exact-fold kernel —
    bit-identical to the naive fold (see _exact_dot_udf), ~100x less
    interpreted work than a per-pair higher-order function.
    """
    dot = _exact_dot_udf()
    c = corpus.select(
        id_col,
        vec_col,
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("__cnorm"),
    )
    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("__probe_vec"),
    ).withColumn("__pnorm", F.sqrt(dot(F.col("__probe_vec"), F.col("__probe_vec"))))
    scored = (
        c.join(F.broadcast(p), F.col(id_col) != F.col("probe_id"))
        .select(
            "probe_id",
            id_col,
            (
                dot(F.col(vec_col), F.col("__probe_vec"))
                / (F.col("__cnorm") * F.col("__pnorm"))
            ).alias("cosine"),
        )
    )
    return topk_per_group(
        scored,
        ["probe_id"],
        [F.col("cosine").desc(), F.col(id_col)],
        k,
        rank_name="rank",
        # probe counts are small (the operator's contract), so a plain
        # per-probe window caps parallelism at n_probes tasks, each
        # sorting its probe's whole candidate slice; the salted
        # two-phase prune keeps n_probes x 64 tasks busy and is
        # result-identical (same total order in both phases)
        salt=F.xxhash64(F.col(id_col)),
        salt_buckets=64,
    ).withColumn("rank", F.col("rank").cast("long"))


def _exact_dot_udf() -> "object":
    """Dot product as one numpy kernel per Arrow batch that accumulates
    STRICTLY left-to-right over dimensions (sequential over dims,
    vectorized over rows). Each row therefore executes the exact IEEE
    op sequence ((0 + a0*b0) + a1*b1) + ... — bit-identical to the
    interpreted zip_with/aggregate fold and to DuckDB's list fold, so
    oracle hash-parity survives while the kernel runs ~100x faster
    than the CodegenFallback higher-order functions."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _dot(a, b):
        import numpy as np

        if len(a) == 0:
            return pd.Series([], dtype="float64")
        A = np.vstack(a.to_numpy()).astype(np.float64)
        B = np.vstack(b.to_numpy()).astype(np.float64)
        acc = np.zeros(len(A), dtype=np.float64)
        for j in range(A.shape[1]):
            acc = acc + A[:, j] * B[:, j]
        return pd.Series(acc)

    _dot.__annotations__ = {"a": pd.Series, "b": pd.Series, "return": pd.Series}
    return pandas_udf("double")(_dot)


def _vector_key(vec_col: str) -> Column:
    """Exact-collapse key of a vector column: md5 of its JSON
    rendering, a 128-bit content fingerprint computed JVM-side.
    Shortest-round-trip float formatting is injective, so equal
    fingerprints mean bit-identical vectors, and grouping on a 32-char
    digest instead of the d-double array keeps the collapse cheaper
    than the LSH or clustering pass it protects."""
    return F.md5(F.to_json(F.struct(F.col(vec_col).alias("v"))))


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    bands: int | None = None,
    collapse_exact: bool = True,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: LSH-banded corpus SELF-join
    (posexplode of band values, equi-join on (band index, band value),
    id_a < id_b) then exact cosine filter — never an all-pairs
    crossJoin. Recall follows the sign-LSH S-curve: at cosine 0.9 the
    per-plane collision probability is ~0.857, so an 8-bit band
    collides with p~0.29 and any-of-16 bands gives ~0.996 recall —
    while the 2^8 buckets per band keep candidate volume at
    ~N^2/256 per band instead of the near-quadratic fan-out of a
    4-bit band. At larger corpora, raise bits-per-band toward
    log2(N / target_bucket_size) and add bands to hold recall.

    Shuffle discipline: the self-join carries ONLY (id, band) pairs;
    candidate id-pairs are deduped BEFORE vectors are re-attached
    (two hash joins), norms are precomputed once per vector, and the
    pair dot products run as one numpy kernel per Arrow batch. The
    kernel is the exact left-fold dot (_exact_dot_udf), so surviving
    pairs are bit-comparable to a DuckDB list-fold recompute — the
    threshold test can never flip between engines.

    ``collapse_exact`` (default on) first collapses bit-identical
    vectors to their min-id representative (``dedup._exact_group_stars``
    on :func:`_vector_key`) and runs LSH on unique vectors only; each
    exact group then contributes STAR edges (rep -> member, cosine
    exactly 1.0) instead of its full clique.
    The returned pair set is component-equivalent to the full one —
    every duplicate is still connected to its group and groups are
    connected through their representatives — so dedup / connected-
    components consumers see identical results, but candidate volume
    no longer explodes quadratically with copy count. Pass
    ``collapse_exact=False`` for the literal all-pairs-listed
    contract (cliques within exact groups)."""
    if collapse_exact:
        reps, star = _exact_group_stars(corpus, _vector_key(vec_col), id_col, "cosine")
        if n_planes is None or bands is None:
            n_planes, bands = _adaptive_banding(reps.count(), threshold)
        rep_pairs = embedding_near_dup_pairs(
            reps, threshold, id_col, vec_col, n_planes, bands,
            collapse_exact=False,
        )
        return rep_pairs.unionByName(star)
    if n_planes is None or bands is None:
        n_planes, bands = _adaptive_banding(corpus.count(), threshold)
    bands_expr = hyperplane_bands(vec_col, n_planes, bands)
    base = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("__vec"),
        l2_norm(F.col(vec_col)).alias("__norm"),
        bands_expr.alias("__bands"),
    ).transform(track_persist)
    buckets = base.select(id_col, F.posexplode("__bands").alias("__pos", "__val"))
    b = buckets.select(
        F.col(id_col).alias("id_b"),
        F.col("__pos").alias("__pos_b"),
        F.col("__val").alias("__val_b"),
    )
    pairs = (
        buckets.join(
            b,
            (F.col("__pos") == F.col("__pos_b"))
            & (F.col("__val") == F.col("__val_b"))
            & (F.col(id_col) < F.col("id_b")),
        )
        .select(F.col(id_col).alias("id_a"), "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    va = base.select(
        F.col(id_col).alias("id_a"), F.col("__vec").alias("__va"), F.col("__norm").alias("__na")
    )
    vb = base.select(
        F.col(id_col).alias("id_b"), F.col("__vec").alias("__vb"), F.col("__norm").alias("__nb")
    )
    dot = _exact_dot_udf()
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            (dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= threshold)
    )


def _adaptive_banding(n: int, threshold: float) -> tuple[int, int]:
    """Size the banding by the engine's recorded rule instead of a
    fixed 8x16: bits-per-band ~ log2(n / target_bucket) so expected
    bucket occupancy stays ~constant as the corpus grows (candidate
    volume ~ n, not ~ n^2/2^bits), then ENOUGH bands that recall at
    the configured cosine threshold stays >= 0.99 on the sign-LSH
    S-curve (p_band = p^bits shrinks as bits grow; bands =
    log(0.01)/log(1 - p_band) restores the any-of-k recall). The 10x
    soak measured why this matters: 16k unique vectors under the old
    fixed 8-bit bands produced 10.3M candidate pairs (99.5% false,
    each dragging a 64-dim vector through the verify joins); 12-bit
    bands cut candidates ~25x while 30 bands hold the recall. Bounded
    by MAX_PLANES (16 bits x 64 bands)."""
    bits = min(16, max(8, math.ceil(math.log2(max(n, 2) / 4))))
    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    p_band = p**bits
    if p_band >= 1.0 - 1e-12:
        bands = 16
    else:
        bands = min(64, max(16, math.ceil(math.log(0.01) / math.log(1.0 - p_band))))
    return bits * bands, bands


def dedup_embeddings(
    corpus: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup dedup: drop every vector with a
    near-duplicate of smaller id: one anti-join, no connected
    components, so the far end of a multi-hop chain can survive
    (near_dedup_minhash collapses chains)."""
    pairs = embedding_near_dup_pairs(corpus, threshold, id_col, vec_col)
    dup_ids = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return corpus.join(dup_ids, id_col, "left_anti")


def nearest_centroids(V, C, metric: str = "cosine", n: int = 1):
    """The one nearest-centroid kernel. For each row of ``V``
    (rows x d), the positions of its ``n`` nearest rows of ``C``
    (k x d), nearest first, ties to the LOWEST position; returned with
    the (rows x k) score matrix they were ranked by (higher = nearer):

    - ``cosine``: both sides unit-normalised (zero norms guarded); the
      score is the cosine similarity.
    - ``l2``: the score is ``2 v.c - ||c||^2`` = ``||v||^2 - ||v-c||^2``;
      ``||v||^2`` is constant per row, so ranking by it is ranking by
      squared-L2 distance, without computing that term.

    One matmul for the whole batch, so it is not an IEEE-order replay
    of a SQL fold: ``nearest_centroid_fold`` is the oracle-exact lane,
    and tests/test_similarity.py pins the two lanes to the same
    assignments (separated or exactly tied fixtures: near-ties within
    rounding may split differently)."""
    import numpy as np

    V = np.asarray(V, dtype=np.float64)
    C = np.asarray(C, dtype=np.float64)
    if metric == "cosine":
        C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-30)
        V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-30)
        score = V @ C.T
    elif metric == "l2":
        score = 2.0 * (V @ C.T) - (C * C).sum(axis=1)[None, :]
    else:
        raise ValueError(f"metric must be 'cosine' or 'l2', got {metric!r}")
    if n == 1:
        # argmax takes the FIRST maximum: the lowest position
        return score.argmax(axis=1)[:, None], score
    return np.argsort(-score, axis=1, kind="stable")[:, :n], score


def nearest_centroid_udf(
    cells: list[tuple[int, list[float]]],
    metric: str = "cosine",
    n: int | None = None,
):
    """Pandas UDF over a vector column around ``nearest_centroids``,
    with the centroids given as (id, vector) pairs — bounded model
    state (k x d floats) that travels in the closure. Ties go to the
    LOWEST id whatever the list order (the pairs are sorted by id on
    entry). Returns ``struct<cluster: long, score: double>`` for the
    nearest centroid, or with ``n`` the ``array<long>`` of the ``n``
    nearest ids, nearest first."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cells = sorted(cells, key=lambda sc: int(sc[0]))
    ids = [int(cid) for cid, _ in cells]
    cents = [[float(x) for x in c] for _, c in cells]

    def _nearest(vs):
        import numpy as np

        cid = np.asarray(ids, dtype=np.int64)
        V = np.vstack(vs.to_numpy()) if len(vs) else np.empty((0, len(cents[0])))
        idx, score = nearest_centroids(V, cents, metric, 1 if n is None else n)
        if n is not None:
            return pd.Series(list(cid[idx]), dtype=object)
        best = idx[:, 0]
        return pd.DataFrame(
            {"cluster": cid[best], "score": score[np.arange(len(best)), best]}
        )

    if n is None:
        _nearest.__annotations__ = {"vs": pd.Series, "return": pd.DataFrame}
        return pandas_udf("cluster long, score double")(_nearest)
    _nearest.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    return pandas_udf("array<long>")(_nearest)


def nearest_centroid_fold(
    cells: list[tuple[int, list[float]]], vec_col: str | Column = "v"
) -> Column:
    """long Column: the id of the nearest (id, centroid) pair by
    squared L2, ties to the LOWEST id — the exact-fold lane of the
    nearest-centroid step. One zero-shuffle ``array_min`` over
    (dist, id) structs against the broadcast centroid literal, each
    distance a pinned-order ``aggregate`` fold: the IEEE sequence a
    DuckDB CROSS JOIN + row_number replay reproduces bit-for-bit.
    Integer centroids (python ints, over a BIGINT vector column) fold
    in BIGINT — exact at any magnitude that fits — and others in
    DOUBLE. Codegen cost grows with k; ``nearest_centroid_udf`` is
    the large-k lane."""
    if not cells:
        # F.array() of nothing is an AnalysisException, not the empty
        # result a SQL replay would give — name the contract instead
        raise ValueError("nearest-centroid assignment needs >= 1 centroid")
    col = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    integral = all(isinstance(x, int) for _, c in cells for x in c)

    def lit(x):
        return F.lit(int(x)).cast("long") if integral else F.lit(float(x))

    cands = F.array(
        *[
            F.struct(
                F.lit(int(cid)).cast("long").alias("cell"),
                F.array(*[lit(x) for x in c]).alias("c"),
            )
            for cid, c in cells
        ]
    )
    return F.array_min(
        F.transform(
            cands,
            lambda s: F.struct(
                F.aggregate(
                    F.zip_with(col, s["c"], lambda xx, c: (xx - c) * (xx - c)),
                    lit(0),
                    lambda acc, val: acc + val,
                ).alias("dist"),
                s["cell"].alias("cell"),
            ),
        )
    )["cell"]


def kmeans_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 16,
    n_iter: int = 3,
    metric: str = "cosine",
) -> list[list[float]]:
    """Distributed Lloyd k-means over an embedding column — the one
    Lloyd loop of the similarity family (cosine for IVF and SemDeDup,
    ``metric="l2"`` for PQ's subspace codebooks, where cosine would
    ignore the subvector norms that carry signal once a vector is
    split).

    Deterministic init (the k lowest-id vectors; ``n_iter=0`` returns
    them); each iteration is one corpus scan: the nearest-centroid
    step (``nearest_centroid_udf``), then the per-cluster mean as ONE
    hash aggregate with a per-dimension avg column for each of the d
    dims — the shuffle carries one row per cluster per map task (k
    rows x d partial (sum, count) columns), NOT one row per (vector,
    dim): the earlier posexplode + groupBy(cluster, dim) form
    amplified the pre-shuffle row count d-fold (64x at 64 dims — r5
    advice). Only the k x d centroid matrix (model state, a few KB)
    is collected to the driver per iteration. Empty clusters keep
    their previous centroid."""
    cents = [
        list(r[0]) for r in df.orderBy(id_col).limit(k).select(vec_col).collect()
    ]
    d = len(cents[0])
    for _ in range(n_iter):
        assign = nearest_centroid_udf(list(enumerate(cents)), metric)
        assigned = df.select(
            assign(F.col(vec_col))["cluster"].alias("__cluster"),
            F.col(vec_col).alias("__v"),
        )
        rows = (
            assigned.groupBy("__cluster")
            .agg(
                *[
                    F.avg(F.element_at("__v", i + 1)).alias(f"__m{i}")
                    for i in range(d)
                ]
            )
            .collect()
        )
        new = {r["__cluster"]: [r[f"__m{i}"] for i in range(d)] for r in rows}
        cents = [new.get(c, cents[c]) for c in range(len(cents))]
    return cents


def ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    n_probe: int = 4,
    kmeans_iter: int = 0,
) -> DataFrame:
    """IVF-style ANN: partition the corpus into ``n_clusters`` inverted
    lists by nearest centroid; each probe searches only its ``n_probe``
    nearest lists (exact cosine rerank inside them). Same output
    contract as cosine_topk; recall ~ n_probe/n_clusters coverage of
    the S-curve.

    Centroids come from ``kmeans_centroids`` with ``kmeans_iter``
    Lloyd iterations (0: the ``n_clusters`` lowest-id vectors), and
    both sides are assigned by ``nearest_centroid_udf`` (cosine). At
    100 TB: assignment is a narrow scan-bound map; the probe join
    shuffles on cluster id, i.e. each probe's work touches
    n_probe/n_clusters of the corpus instead of all of it."""
    cents = kmeans_centroids(corpus, vec_col, id_col, n_clusters, kmeans_iter)
    cells = list(enumerate(cents))
    dot = _exact_dot_udf()
    c = corpus.select(
        id_col,
        vec_col,
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("__cnorm"),
        nearest_centroid_udf(cells)(F.col(vec_col))["cluster"].alias("__cluster"),
    )
    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("__probe_vec"),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("__pnorm"),
        F.explode(nearest_centroid_udf(cells, n=n_probe)(F.col(vec_col))).alias(
            "__cluster"
        ),
    )
    scored = (
        c.join(
            F.broadcast(p),
            (c["__cluster"] == p["__cluster"]) & (F.col(id_col) != F.col("probe_id")),
        )
        .select(
            "probe_id",
            id_col,
            (
                dot(F.col(vec_col), F.col("__probe_vec"))
                / (F.col("__cnorm") * F.col("__pnorm"))
            ).alias("cosine"),
        )
        .dropDuplicates(["probe_id", id_col])
    )
    return topk_per_group(
        scored,
        ["probe_id"],
        [F.col("cosine").desc(), F.col(id_col)],
        k,
        rank_name="rank",
        # probe counts are small (the operator's contract), so a plain
        # per-probe window caps parallelism at n_probes tasks, each
        # sorting its probe's whole candidate slice; the salted
        # two-phase prune keeps n_probes x 64 tasks busy and is
        # result-identical (same total order in both phases)
        salt=F.xxhash64(F.col(id_col)),
        salt_buckets=64,
    ).withColumn("rank", F.col("rank").cast("long"))


def hyperplane_bands(vec_col: str | Column, n_planes: int = N_PLANES, bands: int = 8) -> Column:
    """Vectorized LSH banding: all ``n_planes`` sign bits in ONE numpy
    matmul per Arrow batch, packed into ``bands`` integer band values
    (array<int>).

    Why a pandas UDF here when the engine's rule is built-ins first:
    Spark's higher-order functions (aggregate/zip_with) are
    CodegenFallback — interpreted per row — so 32 fold chains per row
    cost ~ms/row, while V @ P.T over an Arrow batch is SIMD and costs
    ~ns/row. This is the documented exception: a narrow map the
    built-ins cannot express efficiently."""
    import pandas as pd  # driver + executors both have it; lazy import
    from pyspark.sql.functions import pandas_udf

    per = n_planes // bands

    def _bands(vs):
        import numpy as np

        if len(vs) == 0:
            return pd.Series([], dtype=object)
        V = np.vstack(vs.to_numpy())  # (n, dim) float
        dim = V.shape[1]
        P = np.asarray(HYPERPLANES, dtype=np.float64)[:n_planes, :dim]  # (planes, dim)
        bits = (V.astype(np.float64) @ P.T) > 0  # (n, planes)
        weights = 1 << np.arange(per)
        vals = np.stack(
            [bits[:, b * per:(b + 1) * per] @ weights for b in range(bands)], axis=1
        ).astype(np.int32)
        return pd.Series(list(vals))

    # this module uses `from __future__ import annotations`, which
    # stringifies hints pandas_udf cannot parse — set real ones
    _bands.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    _bands = pandas_udf("array<int>")(_bands)

    v = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return _bands(v)


def ann_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = N_PLANES,
    bands: int = 8,
) -> DataFrame:
    """Approximate cosine top-k: hyperplane-LSH banded candidate
    generation (equi-join per band on the band value, union, distinct)
    followed by exact cosine ranking of candidates only. Same output
    contract as cosine_topk; recall < 1 by design."""
    bands_expr = hyperplane_bands(vec_col, n_planes, bands)
    dot = _exact_dot_udf()
    # ONE equi-join on (band_index, band_value) instead of a union of
    # per-band joins: both sides posexplode their band arrays; the
    # probe side stays tiny (|probes| * bands rows) so AQE broadcasts
    # it and the corpus side never shuffles. Norms are computed before
    # the explode — once per vector, not once per (vector, band).
    c = corpus.select(
        id_col,
        vec_col,
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("__cnorm"),
        bands_expr.alias("__bands"),
    ).select(
        id_col, vec_col, "__cnorm", F.posexplode("__bands").alias("__pos", "__val")
    )
    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("__probe_vec"),
        F.sqrt(dot(F.col(vec_col), F.col(vec_col))).alias("__pnorm"),
        bands_expr.alias("__bands"),
    ).select(
        "probe_id",
        "__probe_vec",
        "__pnorm",
        F.posexplode("__bands").alias("__ppos", "__pval"),
    )
    # score inside the join and dedupe on scalar keys only: re-deriving
    # a cosine for a pair that collides in several bands is cheap
    # arithmetic, while a distinct() over raw vectors would shuffle
    # 64-float arrays
    cand = c.join(
        F.broadcast(p),
        (F.col("__pos") == F.col("__ppos"))
        & (F.col("__val") == F.col("__pval"))
        & (F.col(id_col) != F.col("probe_id")),
    ).select(
        "probe_id",
        id_col,
        (
            dot(F.col(vec_col), F.col("__probe_vec"))
            / (F.col("__cnorm") * F.col("__pnorm"))
        ).alias("cosine"),
    )
    scored = cand.dropDuplicates(["probe_id", id_col])
    return topk_per_group(
        scored,
        ["probe_id"],
        [F.col("cosine").desc(), F.col(id_col)],
        k,
        rank_name="rank",
        # probe counts are small (the operator's contract), so a plain
        # per-probe window caps parallelism at n_probes tasks, each
        # sorting its probe's whole candidate slice; the salted
        # two-phase prune keeps n_probes x 64 tasks busy and is
        # result-identical (same total order in both phases)
        salt=F.xxhash64(F.col(id_col)),
        salt_buckets=64,
    ).withColumn("rank", F.col("rank").cast("long"))


def quantize_embeddings(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """Scalar (per-dimension) int quantization — the storage/bandwidth
    half of an ANN index build: q = round((x - min_d) * (2^bits - 1)
    / (max_d - min_d)) per dimension d, with constant dimensions
    pinned to 0. Two scans: one posexplode + groupBy(dim) for the
    per-dimension min/max (64 groups — broadcast back), one narrow
    recode pass. All arithmetic is a fixed IEEE double op sequence,
    so the codes are oracle-checkable bit-for-bit; round() is
    half-away-from-zero in both engines.

    At 100 TB: the stats aggregate is map-side partial over (dim,
    min, max); the recode is a zero-shuffle projection joined to a
    64-row broadcast. 8-bit codes cut vector bytes 4x vs float32 —
    the difference between an in-memory and a spilled ANN probe."""
    levels = float((1 << bits) - 1)
    ex = corpus.select(
        id_col, F.posexplode(vec_col).alias("dim", "x")
    ).select(id_col, "dim", F.col("x").cast("double").alias("x"))
    stats = ex.groupBy("dim").agg(
        F.min("x").alias("lo"), F.max("x").alias("hi")
    )
    return (
        ex.join(F.broadcast(stats), "dim")
        .select(
            id_col,
            "dim",
            F.when(F.col("hi") == F.col("lo"), F.lit(0))
            .otherwise(
                F.round(
                    (F.col("x") - F.col("lo")) * levels / (F.col("hi") - F.col("lo"))
                ).cast("int")
            )
            .alias("q"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN: codebook compression + ADC scoring
# ---------------------------------------------------------------------------


def pq_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    ksub: int = 16,
    kmeans_iter: int = 2,
    rerank_factor: int = 12,
) -> DataFrame:
    """Product-quantization ANN (Jegou et al., TPAMI 2011) with
    asymmetric-distance scoring and exact rerank. Same output contract
    as ``cosine_topk`` (probe_id, vec_id, cosine, rank).

    Pipeline:
    1. TRAIN — split the d dims into ``m`` contiguous subspaces and run
       L2 ``kmeans_centroids`` (``ksub`` centroids each) on each sliced
       column; model size is m * ksub * (d/m) floats, collected to the
       driver (a few KB).
    2. ENCODE — one Arrow-batched corpus scan maps every vector to an
       m-byte code (``nearest_centroids`` by L2 per subspace): the
       index the scoring pass reads is m ints per vector instead of d
       floats — a 16-64x footprint cut, which at 100 TB is the
       difference between an in-memory index and re-scanning raw
       vectors.
    3. SCORE (ADC) — each probe precomputes an m x ksub lookup table of
       subspace inner products (probes are collected: the SMALL-probe-
       set contract shared with cosine_topk); scoring a corpus code is
       m table lookups instead of d multiplies, vectorized per Arrow
       batch via numpy fancy-indexing. Corpus scanned once for ALL
       probes.
    4. RERANK — the top k*rerank_factor per probe by approximate score
       re-join their RAW vectors (a k*rerank*|probes|-row equi-join,
       AQE-broadcastable) and re-rank by exact pinned-order cosine, so
       reported cosines are exact and PQ error only affects which
       candidates make the shortlist. Rows-only correctness (recall
       floor asserted in tests); recall tunes with m/ksub/rerank.
    """
    import pandas as pd

    # persisted: the (id, vector) projection is scanned by every
    # k-means init/iteration job (m subspaces x (1 + kmeans_iter)
    # driver-sequential jobs), the encode pass, and the rerank vector
    # lookup — ~14 scans of the raw embedding parquet plus the Arrow
    # transpose each time, for a model whose train jobs each read the
    # SAME narrow slice. One cache serves them all (guide §5).
    corpus = corpus.select(id_col, vec_col).transform(track_persist)
    first = corpus.select(vec_col).first()
    d = len(first[0])
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    width = d // m
    books = [
        kmeans_centroids(
            corpus.select(
                F.col(id_col).alias("__id"),
                F.slice(F.col(vec_col), j * width + 1, width).alias("__sv"),
            ),
            "__sv",
            "__id",
            ksub,
            kmeans_iter,
            metric="l2",
        )
        for j in range(m)
    ]

    def _encode(batches):
        import numpy as np

        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            codes = np.empty((len(V), m), dtype=np.int32)
            for j in range(m):
                S = V[:, j * width:(j + 1) * width]
                codes[:, j] = nearest_centroids(S, books[j], "l2")[0][:, 0]
            yield pd.DataFrame({"__id": pdf["__id"], "__code": list(codes)})

    coded = corpus.select(
        F.col(id_col).alias("__id"), F.col(vec_col)
    ).mapInPandas(_encode, "__id long, __code array<int>")

    probe_rows = probes.select(id_col, vec_col).collect()
    luts = {}  # probe_id -> (m, ksub) inner-product table
    import numpy as np

    Bnp = [np.asarray(b, dtype=np.float64) for b in books]
    for r in probe_rows:
        q = np.asarray(list(r[1]), dtype=np.float64)
        luts[r[0]] = np.stack(
            [Bnp[j] @ q[j * width:(j + 1) * width] for j in range(m)]
        )

    items = sorted(luts.items())

    def _score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.vstack(pdf["__code"].to_numpy())  # (n, m)
            ids = pdf["__id"].to_numpy()
            for pid, lut in items:
                s = np.zeros(len(codes))
                for j in range(m):
                    s += lut[j][codes[:, j]]
                yield pd.DataFrame(
                    {"probe_id": pid, "__id": ids, "__approx": s}
                )

    scored = coded.mapInPandas(
        _score, "probe_id long, __id long, __approx double"
    ).where(F.col("probe_id") != F.col("__id"))

    shortlist = topk_per_group(
        scored,
        ["probe_id"],
        [F.col("__approx").desc(), F.col("__id")],
        k * rerank_factor,
        rank_name="__arank",
    ).select("probe_id", "__id")

    dot = _exact_dot_udf()
    vecs = corpus.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__cvec"),
        F.sqrt(_exact_dot_udf()(F.col(vec_col), F.col(vec_col))).alias("__cnorm"),
    )
    pv = probes.select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("__pvec")
    )
    exact = (
        shortlist.join(vecs, "__id")
        .join(F.broadcast(pv), "probe_id")
        .select(
            "probe_id",
            F.col("__id").alias(id_col),
            (
                dot(F.col("__cvec"), F.col("__pvec"))
                / (F.col("__cnorm") * F.sqrt(dot(F.col("__pvec"), F.col("__pvec"))))
            ).alias("cosine"),
        )
    )
    return topk_per_group(
        exact,
        ["probe_id"],
        [F.col("cosine").desc(), F.col(id_col)],
        k,
        rank_name="rank",
    ).withColumn("rank", F.col("rank").cast("long"))



def ivf_l2_cell_column(
    seed_cells: list[tuple[int, list[float]]],
    vec_col: str | Column = "v",
) -> Column:
    """long Column: nearest seed by squared L2 (IVF cell assignment),
    ties to the LOWEST cell id whatever the list order. The lane
    follows from the seed count, as in ``semantic_dedup``: up to 16
    seeds the exact-fold ``nearest_centroid_fold`` (the oracle
    regime), above that the numpy ``nearest_centroid_udf`` (one pass
    for ALL seeds; not an IEEE-order replay — the two lanes are pinned
    to the same cells by tests/test_similarity.py's cross-lane
    fixtures).

    ``seed_cells`` is bounded model state (k x d floats) — the
    documented bounded-collect class."""
    if len(seed_cells) <= 16:
        return nearest_centroid_fold(seed_cells, vec_col)
    col = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return nearest_centroid_udf(seed_cells, "l2")(col)["cluster"]


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    tau: float = 0.25,
    n_iter: int = 0,
    collapse_exact: bool = True,
    force_scale_path: bool = False,
    force_exact_path: bool = False,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus, then inside each cluster
    drop every vector whose cosine to an earlier-RANKED cluster member
    reaches ``tau`` (rank-ordered pruning — one deterministic pass,
    the paper's epsilon-grouping with the diversity-keeping order).
    Returns the KEPT rows as (id, cluster_id, cos_centroid, rnk).

    Plan shape, in scale order:
    0. exact collapse (``collapse_exact``, on when tau <= 1.0): bit-
       identical vectors collapse to their min-id representative
       BEFORE clustering — one map-side-combined min-id aggregate on
       the vector's md5 (``clean.min_id_groups``, via
       ``dedup._exact_group_stars``), the kept rows re-attached by a
       semi-join on the (unique) id. Exact copies always lose to
       their rep under rank-ordered pruning (cosine exactly 1.0, rep
       ranks earlier by the id tie-break), so the output is IDENTICAL — but a corpus
       with c copies per vector would otherwise fan c^2 pairs per
       clique into every cluster: the r6 sf1 soak (10 copies each)
       measured 14.9x wall vs 10x data before this pre-pass.
    1. centroids: ``kmeans_centroids`` (deterministic lowest-id seeds;
       ``n_iter`` Lloyd rounds — 0 keeps the whole operator
       SQL-oracle-reproducible, >0 is the production setting).
    2. assignment — the family's nearest-centroid step (cosine, ties
       to the lowest centroid id) in two lanes picked by k:
       - k <= 16 (oracle regime): k exact-fold dots per row against
         literal centroid arrays, argmax via array_max over (cos, -id)
         structs — the cosine form of ``nearest_centroid_fold``,
         bit-identical to the DuckDB replay.
       - k > 16 (scale regime): ``nearest_centroid_udf``, ONE numpy
         matmul per Arrow batch over the k x d centroid matrix; k
         scales with N (the paper uses ~10k-100k clusters) so
         per-centroid fold columns would explode codegen.
    3. within-cluster ranking: SemDeDup's keep-order. Rank ASCENDING
       by cosine-to-centroid (lowest-similarity first) so survivors
       are the DIVERSE members — the paper's choice — id tie-break;
       one hash exchange on cluster_id.
    4. candidate pairs: self EQUI-join on cluster_id (rank_a <
       rank_b), never a crossJoin — pair volume is sum of
       cluster_size^2, the SemDeDup cost model. Pick k ~ N /
       target_cluster_size to bound cluster sizes; a hub cluster that
       still blows up gets sub-sharded by a secondary LSH band over
       its members (compose with ann_topk's banding) before pairing.
       Pair scoring: the exact-fold kernel on the oracle path; the
       scale path scores each cluster in one matmul (below).
    5. drops: pair qualifies when cosine >= tau; survivors via
       anti-join.
    """
    work = df
    if collapse_exact and tau <= 1.0:
        work, _ = _exact_group_stars(df, _vector_key(vec_col), id_col, "cosine")

    cents = kmeans_centroids(
        work, vec_col=vec_col, id_col=id_col, k=k, n_iter=n_iter
    )
    # force_exact_path exists for the cross-lane equivalence tests
    # (run the fold lane at k > 16 against the matmul lane) — the
    # k-fold-columns codegen cost makes it a test-only setting
    exact_path = force_exact_path or (k <= 16 and not force_scale_path)

    if exact_path:
        # oracle path: fold assignment, explicit pair join + exact-fold
        # scoring — every intermediate reproducible in SQL
        from pyspark.sql import Window

        dot = _exact_dot_udf()
        base = work.select(id_col, vec_col).withColumn(
            "__n", F.sqrt(dot(F.col(vec_col), F.col(vec_col)))
        )

        def _fold_norm(vec: list[float]) -> float:
            acc = 0.0
            for x in vec:
                acc = acc + float(x) * float(x)
            return math.sqrt(acc)

        sims = []
        for i, c in enumerate(cents):
            cvec = F.array(*[F.lit(float(x)) for x in c])
            cn = _fold_norm(c)
            cos_i = dot(F.col(vec_col), cvec) / (F.col("__n") * F.lit(cn))
            sims.append(F.struct(cos_i.alias("c"), F.lit(-i).alias("ni")))
        best = F.array_max(F.array(*sims))
        assigned = base.select(
            id_col,
            vec_col,
            "__n",
            (-best["ni"]).alias("cluster_id"),
            best["c"].alias("cos_centroid"),
        )
        w = Window.partitionBy("cluster_id").orderBy(
            F.col("cos_centroid").asc(), F.col(id_col).asc()
        )
        ranked = assigned.withColumn(
            "rnk", F.row_number().over(w).cast("long")
        )
        a = ranked.select(
            "cluster_id",
            F.col(id_col).alias("__a_id"),
            F.col(vec_col).alias("__a_vec"),
            F.col("__n").alias("__a_n"),
            F.col("rnk").alias("__a_rnk"),
        )
        b = ranked.select(
            "cluster_id",
            F.col(id_col).alias("__b_id"),
            F.col(vec_col).alias("__b_vec"),
            F.col("__n").alias("__b_n"),
            F.col("rnk").alias("__b_rnk"),
        )
        drops = (
            a.join(b, "cluster_id")
            .filter(F.col("__a_rnk") < F.col("__b_rnk"))
            .filter(
                dot(F.col("__a_vec"), F.col("__b_vec"))
                / (F.col("__a_n") * F.col("__b_n"))
                >= F.lit(tau)
            )
            .select(F.col("__b_id").alias(id_col))
            .distinct()
        )
        kept = ranked.join(drops, id_col, "left_anti")
        return kept.select(id_col, "cluster_id", "cos_centroid", "rnk")

    # scale path: the pair join would ship |pairs| * d vector bytes
    # through the exchange (measured 4x wall at 20k vectors); instead
    # each cluster prunes in ONE pandas task with a single s x s
    # matmul — SemDeDup's per-cluster kernel — and the diversity rank
    # is computed in-kernel, saving the separate window exchange.
    # Memory is s^2 doubles per task, so keep target_cluster_size
    # ~<= a few thousand via k; skew note: one cluster = one task,
    # same caveat as any grouped pandas op (sub-shard a hub cluster
    # before this step if needed).
    import pandas as pd

    out_schema = (
        f"{id_col} long, cluster_id int, cos_centroid double, rnk long"
    )

    def _prune(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(["cos_centroid", id_col]).reset_index(drop=True)
        V = np.vstack(pdf["__v"].to_numpy()).astype(np.float64)
        V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-30)
        sims = np.triu(V @ V.T, k=1)  # sims[i, j] for i < j only
        dropped = (sims >= tau).any(axis=0)
        kept_pdf = pdf.loc[~dropped, [id_col, "cluster_id", "cos_centroid"]]
        kept_pdf = kept_pdf.assign(
            rnk=(np.arange(len(pdf)) + 1)[~dropped].astype("int64")
        )
        return kept_pdf

    assign = nearest_centroid_udf(list(enumerate(cents)))
    return (
        work.select(id_col, vec_col)
        .withColumn("__a", assign(F.col(vec_col)))
        .select(
            id_col,
            F.col("__a.cluster").alias("cluster_id"),
            F.col("__a.score").alias("cos_centroid"),
            F.col(vec_col).alias("__v"),
        )
        .groupBy("cluster_id")
        .applyInPandas(_prune, out_schema)
    )
