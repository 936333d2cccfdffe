"""Text deduplication operators (SURVEY.md §2.6 X7; BASELINE.json:
exact dedup, MinHash-LSH, SimHash, n-gram Jaccard).

Design for 100 TB — the non-negotiable rule is that candidate
generation is ALWAYS a bucketed equi-join (shuffle on a bucket key),
never an all-pairs crossJoin:

- exact dedup: md5 fingerprint -> one shuffle on the fingerprint.
- MinHash-LSH: signature is a narrow map (no explode, no shuffle);
  banding explodes to ``bands`` rows per doc; candidates come from a
  self equi-join on ``(band, band_hash)`` so only same-bucket docs
  ever meet. Verification re-checks candidates with exact n-gram
  Jaccard (two hash joins against the shingle table).
- SimHash: 64-bit signature via one token explode + groupBy(doc);
  candidates via the pigeonhole block trick (hamming <= k over 4
  blocks of 16 bits => at least one block equal when k <= 3), again a
  self equi-join on the block value.

MinHash signatures come from one of two hash families, both emitting
the same ``minhash array<bigint>`` column:

- ``minhash_signatures``: tokens hash with JVM ``xxhash64``; shingle
  hashes and the family minima (an affine ``a*h + b`` family in
  wrapping uint64 arithmetic) run in an Arrow-batched numpy kernel.
  The production path.
- ``md5_minhash_signatures``: lanes cut from md5 digests of each
  shingle, pure JVM. DuckDB computes the same lanes, so the md5 twins
  in the query registry are reproducible by an oracle.

Everything downstream of the signature exists once and serves both:
band keys (``lsh_band_keys``), candidate pairs
(``lsh_candidate_pairs``), bucket stars (``lsh_bucket_stars``), the
exact-Jaccard verify (``jaccard_pairs``) and the connected-components
keep-min (``keep_component_min``).

The exact AllPairs/PPJoin prefix-filter join has one set of steps
too: shingle sets (``_shingle_sets``), the rarest-first prefix cut
(``_prefix_rows``) and the candidate-and-verify pairs step
(``_verified_prefix_pairs``). The self-join
``prefix_filtered_similarity_join`` runs them with the corpus on both
sides; ``near_dedup_against_index`` runs them with a new batch against
a ``ShingleIndex``, whose one storage form is the bucketed catalog
tables of ``write_shingle_index_bucketed``. A shingle set has one
form as well: the distinct xxhash64 fingerprints of the doc's
shingles, so every sort, exchange, write and verify of the family
moves 8-byte longs (the prefix lemma only needs one shared total
order, which the fingerprints give; exact up to 64-bit collisions).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from breweries_data_pipeline_spark.cache import (
    _drop_table_and_stale_location,
    track_persist,
)
from breweries_data_pipeline_spark.functions.text import ngram_jaccard
from breweries_data_pipeline_spark.operators.clean import deduplicate
from breweries_data_pipeline_spark.operators.text import with_fingerprint


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact text dedup: md5 of whitespace-normalized text, keep the
    smallest id per fingerprint (deterministic, replayable). One
    shuffle on the fingerprint — the hash key is uniform by
    construction, so no skew at any scale."""
    return deduplicate(with_fingerprint(df, text_col), ["fingerprint"], order_by=[id_col])


# seeded affine family for the MinHash minima: sig_i = min over
# shingles of (a_i * h + b_i) in wrapping uint64 arithmetic. Module
# constants -> identical across sessions/executors.
_mh_rng = random.Random(1337)
MAX_MINHASHES = 128
_MINHASH_A = [(_mh_rng.getrandbits(63) | 1) for _ in range(MAX_MINHASHES)]  # odd
_MINHASH_B = [_mh_rng.getrandbits(63) for _ in range(MAX_MINHASHES)]


def _t_ppm(threshold: float) -> int:
    """Threshold as exact parts-per-million. All prefix-filter math is
    fixed-point bigint from here on: float ``ceil(t*size)`` rounds UP
    for thresholds whose double is slightly high (0.1*10 ->
    1.0000000000000002, ceil=2 vs true 1), cutting the prefix one
    short and silently dropping true pairs at exactly J=t."""
    return int(round(threshold * 1_000_000))


def _prefix_len_expr(size_col: str, t_ppm: int):
    """Exact prefix length |X| - ceil(t|X|) + 1 in bigint fixed-point:
    ceil_div(t_ppm * size, 1e6) via (a + b - 1) div b."""
    return F.expr(
        f"cast({size_col} as bigint) - "
        f"(({t_ppm} * cast({size_col} as bigint) + 999999) div 1000000) + 1"
    )


def _ensure_parallelism(df: DataFrame, key: str | None = None) -> DataFrame:
    """Compute-heavy narrow maps deserve every core: a small parquet
    file scans as one split, serializing the whole kernel onto one
    task. Repartition only when the scan under-splits — detected from
    the scan's file count (pure metadata; ``df.rdd.getNumPartitions``
    would force a Python-RDD plan translation per call, r5 advice).
    At real scale the input has >= cores files and this is a no-op; a
    non-file source (memory/stream) repartitions unconditionally,
    which is the safe default for a kernel stage.

    Pass ``key`` (a unique/high-cardinality column, e.g. the doc id)
    to HASH-partition instead of round-robin: a keyless
    ``repartition(n)`` first locally sorts its input rows so retried
    tasks reproduce the same placement (sortBeforeRepartition,
    SPARK-23207) — at scale that sort runs over the full text payload;
    a deterministic hash key needs no sort and is retry-safe by
    construction (guide §2.5)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files < target:
        if key is not None:
            return df.repartition(target, F.col(key))
        return df.repartition(target)
    return df


def _freq_hint(freq: DataFrame) -> DataFrame:
    """Broadcast hint for a distinct-shingle frequency table joining
    back onto an exploded shingle stream. The aggregate that produces
    ``freq`` does map-side partial aggregation, so a Zipf-head shingle
    collapses to one row per map task BEFORE any exchange — skew-proof
    where the r12 count-window form sorted every occurrence of a hot
    shingle in ONE window partition (a straggler-or-OOM at scale; AQE
    cannot split window partitions, guide §2.2/§2.5). Broadcasting the
    (small, distinct-key) result back means the exploded stream is
    never exchanged by the skewed shingle key at all (guide §2.4/§3.1).

    ``spark.breweries.dedup.broadcastFreq=false`` drops the hint for
    corpora whose distinct-shingle table exceeds broadcast capacity
    (8 GB / 512M-row cap): the join-back then plans as a shuffle JOIN,
    which AQE skew handling CAN split — still skew-safe, one exchange
    of the exploded stream more. Local default stays broadcast."""
    flag = freq.sparkSession.conf.get(
        "spark.breweries.dedup.broadcastFreq", "true"
    )
    return F.broadcast(freq) if str(flag).lower() == "true" else freq


def _minhash_udf(num_hashes: int, shingle_size: int) -> Column:
    """Vectorized MinHash kernel over token hashes: shingle hashes are
    derived NUMERICALLY (affine combination of ``shingle_size``
    adjacent token hashes — no per-shingle string building), then the
    ``num_hashes`` family minima come from one numpy broadcast per row.
    A pandas UDF because Spark's higher-order functions are
    CodegenFallback (interpreted per row) — 64 fold passes per row
    would dominate the whole pipeline. Returns a struct with the
    shingle-hash set (for exact-Jaccard verification) and the minhash
    signature."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _mh(hs):
        import numpy as np

        A = np.asarray(_MINHASH_A[:num_hashes], dtype=np.uint64)
        B = np.asarray(_MINHASH_B[:num_hashes], dtype=np.uint64)
        # fixed odd mixing constants for the k-token shingle combine
        C = np.asarray(_MINHASH_A[:shingle_size], dtype=np.uint64)
        k = shingle_size
        rows = hs.to_numpy()
        d = len(rows)
        if d == 0:
            return pd.DataFrame({"shingles": [], "minhash": []})
        lens = np.fromiter(map(len, rows), dtype=np.int64, count=d)
        flat = np.concatenate(
            [np.asarray(r, dtype=np.int64) for r in rows]
        ).astype(np.uint64) if lens.sum() else np.empty(0, np.uint64)
        off = np.cumsum(lens) - lens
        with np.errstate(over="ignore"):
            # shingle combine for the whole batch at once: k strided
            # adds over the concatenated hash array; windows straddling
            # a row boundary are computed then discarded (<= k-1 waste
            # rows per doc). Same mod-2^64 wraparound as per-row.
            m = np.where(lens >= k, lens - k + 1, 0)
            n_all = len(flat)
            m_all = max(n_all - k + 1, 0)
            sh_all = np.zeros(m_all, dtype=np.uint64)
            for j in range(k):
                sh_all += C[j] * flat[j:j + m_all]
            total = int(m.sum())
            within = (np.arange(total, dtype=np.int64)
                      - np.repeat(np.cumsum(m) - m, m))
            c = np.where(lens >= k, m, 1)  # shingles per doc, pre-unique
            coff = np.cumsum(c) - c
            sh = np.empty(int(c.sum()), dtype=np.uint64)
            sh[np.repeat(coff, m) + within] = sh_all[np.repeat(off, m) + within]
            # short rows (< k token hashes) collapse to ONE synthetic
            # shingle: sum of C[0]*H — rare, loop only over those rows
            for i in np.flatnonzero(lens < k):
                seg = flat[off[i]:off[i] + lens[i]]
                sh[coff[i]] = (C[0] * seg).sum()
            # per-doc sorted unique (set semantics for Jaccard) via one
            # global lexsort + adjacent-dedup — no per-row np.unique
            doc_of = np.repeat(np.arange(d, dtype=np.int64), c)
            order = np.lexsort((sh, doc_of))
            sh_s, doc_s = sh[order], doc_of[order]
            first = np.ones(len(sh_s), dtype=bool)
            first[1:] = (sh_s[1:] != sh_s[:-1]) | (doc_s[1:] != doc_s[:-1])
            sh_u, doc_u = sh_s[first], doc_s[first]
            cu = np.bincount(doc_u, minlength=d)   # >= 1 per doc
            su = np.cumsum(cu) - cu
            # family minima: one full-batch affine map + segment-min
            # per hash lane (num_hashes small ops instead of one
            # (num_hashes x batch_shingles) matrix allocation)
            sig_mat = np.empty((num_hashes, d), dtype=np.uint64)
            for i in range(num_hashes):
                sig_mat[i] = np.minimum.reduceat(A[i] * sh_u + B[i], su)
        sig_t = sig_mat.T.astype(np.int64)
        bounds = np.cumsum(cu)[:-1]
        return pd.DataFrame({
            "shingles": np.split(sh_u.astype(np.int64), bounds),
            "minhash": list(sig_t),
        })

    _mh.__annotations__ = {"hs": pd.Series, "return": pd.DataFrame}
    return pandas_udf("shingles: array<bigint>, minhash: array<bigint>")(_mh)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_size: int = 3,
) -> DataFrame:
    """(id, shingles (hash set), minhash signature array<long>).
    Narrow map — zero shuffle; scan-bound at any scale. Token hashing
    is one JVM-side xxhash64 pass; shingling + family minima are an
    Arrow-batched numpy kernel (see _minhash_udf)."""
    if num_hashes > MAX_MINHASHES:
        raise ValueError(f"num_hashes > {MAX_MINHASHES}")
    token_hashes = F.transform(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: F.xxhash64(t)
    )
    mh = _minhash_udf(num_hashes, shingle_size)
    out = _ensure_parallelism(
        df.select(F.col(id_col), token_hashes.alias("_th")), key=id_col
    )
    return out.select(
        id_col, mh(F.col("_th")).alias("_s")
    ).select(id_col, F.col("_s.shingles").alias("shingles"), F.col("_s.minhash").alias("minhash"))


def md5_minhash_signatures(sh: DataFrame, num_hashes: int = 16) -> DataFrame:
    """MinHash signatures on the md5 lane family, from an exploded
    shingle stream with a string column ``s``: one row per group of
    every other column of ``sh`` (the doc id, plus anything constant
    within a doc such as an exact-dup multiplicity), carrying the same
    ``minhash array<bigint>`` column as :func:`minhash_signatures`.

    Lane r is the 32-bit hex slice ``(r % 4) * 8 + 1`` of
    ``md5(s || ':mh{r // 4}')`` — four lanes per digest, the spelling
    DuckDB reproduces. Lanes are a pure function of the SHINGLE, and
    shingles repeat heavily across documents (sf0.1: 260k exploded rows
    over 27k distinct shingles), so the digest chain runs once per
    DISTINCT shingle (a map-side-combined aggregate, skew-proof) and
    the small (shingle, lanes) table joins back under the same
    broadcast hint as the frequency tables (see :func:`_freq_hint`):
    the exploded stream never shuffles before the per-doc min
    aggregate."""
    keys = [c for c in sh.columns if c != "s"]
    # a null shingle has no lanes, so a doc with only null shingles gets no signature
    sh = sh.where(F.col("s").isNotNull())
    digs = sh.select("s").distinct().select(
        "s",
        *[
            F.md5(F.concat(F.col("s"), F.lit(f":mh{g}"))).alias(f"__d{g}")
            for g in range((num_hashes + 3) // 4)
        ],
    )
    lanes = digs.select(
        "s",
        *[
            F.conv(
                F.substring(F.col(f"__d{r // 4}"), (r % 4) * 8 + 1, 8), 16, 10
            ).cast("long").alias(f"__l{r}")
            for r in range(num_hashes)
        ],
    )
    return sh.join(_freq_hint(lanes), "s").groupBy(*keys).agg(
        F.array(*[F.min(f"__l{r}") for r in range(num_hashes)]).alias("minhash")
    )


def lsh_band_keys(
    sig_df: DataFrame, bands: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """(every non-``minhash`` column, band, band_hash): one row per doc
    per band, ``band_hash = xxhash64`` of the band's ``rows_per_band``
    signature slice, via ONE explode of an array of band structs — a
    single pass over the signature table. Two docs share a bucket iff
    they agree on the band's whole slice (up to 64-bit hash
    collisions, which only ADD bucket members)."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.xxhash64(
                    F.slice("minhash", j * rows_per_band + 1, rows_per_band)
                ).alias("band_hash"),
            )
            for j in range(bands)
        ]
    )
    rest = [c for c in sig_df.columns if c != "minhash"]
    return sig_df.select(*rest, F.explode(band_structs).alias("__b")).select(
        *rest, "__b.band", "__b.band_hash"
    )


def lsh_candidate_pairs(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """Banded LSH: docs agreeing on ALL rows of at least one band meet
    in a bucket. Returns distinct (id_a, id_b) with id_a < id_b.

    b=16, r=4 puts the S-curve threshold near (1/16)^(1/4) ~= 0.5
    Jaccard. Candidate generation is a self equi-join on
    (band, band_hash): shuffle keyed by the band hash — bucketed,
    never all-pairs. A pathological bucket (thousands of identical
    docs) produces a quadratic bucket locally; the exact-dedup pass
    should run first so LSH only sees unique texts.
    """
    buckets = lsh_band_keys(sig_df.select(id_col, "minhash"), bands, rows_per_band)
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.band") == F.col(f"b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def lsh_bucket_star_edges(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """Verification-free LSH clustering edges with LINEAR candidate
    volume: per (band, band_hash) bucket, emit one STAR edge
    (bucket_min_id -> member) per non-minimum member instead of the
    bucket's full C(n,2) clique. A star and a clique over the same
    vertex set have identical connected components, so any
    CC-consuming dedup sees EXACTLY the same clusters — but a
    pathological bucket of k near-identical docs costs k-1 edge rows
    instead of k(k-1)/2 pair rows, and there is NO self-join at all:
    the plan is one groupBy(bucket) min + one join back, both keyed
    by the band hash.

    This is the web-scale operating point where the banding IS the
    duplicate decision (choose bands x rows so the S-curve puts
    P(bucket-share | J below threshold) low) — the pair-verifying
    path (lsh_candidate_pairs + exact Jaccard) stays the
    high-precision mode, and is inherently quadratic in clique size
    because its OUTPUT is the pairs. Singleton buckets are dropped
    before the join (no edges to contribute), so edge volume is
    bounded by bucket memberships of docs that actually collide.
    """
    # persisted: the bucket table feeds BOTH the per-bucket min
    # aggregate and the join-back; without it the upstream signature
    # kernel (the expensive part) runs twice. 20 bytes/row
    # (id + band + hash), tracked for bulk release.
    buckets = track_persist(
        lsh_band_keys(sig_df.select(id_col, "minhash"), bands, rows_per_band)
    )
    return lsh_bucket_stars(buckets, id_col).select("id_a", "id_b").distinct()


def lsh_bucket_stars(buckets: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(band, id_a, id_b) star rows of a band-key table (from
    :func:`lsh_band_keys`): per (band, band_hash) bucket with two or
    more members, one row bucket_min_id -> member for each non-minimum
    member. A doc sits in exactly one bucket per band, so the rows are
    already distinct per band. Plan: one groupBy(bucket) min + one
    join back, both keyed by the band hash; singleton buckets drop
    before the join."""
    rep = (
        buckets.groupBy("band", "band_hash")
        .agg(F.min(id_col).alias("__rep"), F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .drop("__n")
    )
    return (
        buckets.join(rep, ["band", "band_hash"])
        .filter(F.col(id_col) != F.col("__rep"))
        .select("band", F.col("__rep").alias("id_a"), F.col(id_col).alias("id_b"))
    )


def near_dedup_lsh_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
) -> DataFrame:
    """Verification-free near-dup dedup: same-LSH-bucket (any band)
    implies same cluster; keep each connected component's minimum id.
    The banding configuration is the similarity threshold (S-curve:
    b=16, r=4 centers near Jaccard 0.5) — no pair-level Jaccard
    verification, no pair materialization, no self-join. Candidate
    volume is LINEAR in bucket memberships (star edges via
    ``lsh_bucket_star_edges``), so duplicate-heavy corpora — the 100
    TB crawl regime where every page has thousands of near siblings —
    cost O(docs x bands), not O(clique^2). Exact duplicates need no
    separate collapse pass here: identical texts share every bucket
    and contribute one star edge each."""
    sigs = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_size
    ).select(id_col, "minhash")
    # persisted: the star-edge stream feeds the CC's size probe, and
    # above the driver threshold its endpoint distinct AND symmetric
    # union (two longs per edge, tracked)
    edges = track_persist(
        lsh_bucket_star_edges(sigs, id_col, bands, num_hashes // bands)
    )
    return keep_component_min(df, edges, id_col)


def keep_component_min(df: DataFrame, edges: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """``df`` minus every doc that is not the minimum id of its
    connected component in the undirected (id_a, id_b) ``edges``. The
    CC label table holds only docs that appear in some edge
    (duplicates are a small fraction of a real corpus), and the drop
    is one anti-join. An edge list of at most ``graph._DRIVER_EDGES``
    (2^20) edges is labeled on the driver: the labels come back as a
    local table and the drop set is exactly its non-root rows, so no
    distinct over the endpoints runs. Longer lists run the distributed
    loop over the distinct endpoints. ``connected_components`` is
    looked up on the graph module at call time."""
    from breweries_data_pipeline_spark.operators.graph import (
        connected_components,
    )

    comp = connected_components(
        edges, None, src="id_a", dst="id_b", id_col=id_col
    )
    drop = comp.filter(F.col(id_col) != F.col("cluster_id")).select(id_col)
    return df.join(drop, id_col, "left_anti")


def jaccard_pairs(
    pairs: DataFrame, sets: DataFrame, id_col: str = "doc_id", sets_col: str = "shingles"
) -> DataFrame:
    """``pairs`` (id_a, id_b, ...) with a ``jaccard`` column appended:
    the exact set Jaccard (:func:`ngram_jaccard`) of the two docs'
    ``sets_col`` arrays in ``sets``. Two hash joins of the (small)
    pair stream against the set table — broadcast-able when pairs
    are rare, which AQE decides at runtime. Callers apply the
    threshold."""
    sa = sets.select(F.col(id_col).alias("id_a"), F.col(sets_col).alias("__sa"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col(sets_col).alias("__sb"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(*pairs.columns, ngram_jaccard(F.col("__sa"), F.col("__sb")).alias("jaccard"))
    )


def collapse_exact_text_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """(rep_map, reps): group byte-identical texts, electing the min
    id as representative — the exact-dedup pre-pass the LSH docstring
    has always demanded, as a reusable primitive. ``rep_map`` is
    (id, __rep) for every row; ``reps`` is ``df`` restricted to
    representatives. One md5-keyed shuffle, min(id) aggregate
    (map-side combined, no collect_list), left-semi restriction. k
    identical documents would otherwise share EVERY band bucket and
    fan out k(k-1)/2 candidate pairs per band — collapsing first
    makes LSH cost a function of unique texts (the r6 sf1 soak
    measured the embedding twin of this blowup at 61x)."""
    fp = F.md5(F.col(text_col)).alias("__fp")
    keyed = df.select(F.col(id_col), fp)
    rep = keyed.groupBy("__fp").agg(F.min(id_col).alias("__rep"))
    rep_map = keyed.join(rep, "__fp").select(F.col(id_col), F.col("__rep"))
    reps = df.join(
        rep.select(F.col("__rep").alias(id_col)), id_col, "left_semi"
    )
    return rep_map, reps


def verified_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    collapse_exact: bool = True,
) -> DataFrame:
    """MinHash-LSH candidates verified with exact Jaccard over the
    shingle-hash sets (collision probability ~n²/2^64 — negligible):
    (id_a, id_b, jaccard) with jaccard >= threshold. False positives
    from banding are eliminated; false negatives bounded by the LSH
    S-curve. Verification is two hash joins of the (small) candidate
    set against the shingle table — broadcast-able when candidates
    are rare, which AQE decides at runtime.

    ``collapse_exact`` (default on) first collapses byte-identical
    texts to a min-id representative and runs the signature/banding
    pipeline on unique texts only; each exact group contributes STAR
    edges (rep -> member, jaccard exactly 1.0) instead of its full
    clique. Component-equivalent output (dedup / connected-components
    consumers see identical results) without the quadratic bucket
    blowup identical documents otherwise cause. Pass
    ``collapse_exact=False`` for the literal all-pairs contract."""
    if collapse_exact:
        rep_map, reps = collapse_exact_text_duplicates(df, text_col, id_col)
        rep_pairs = verified_near_dup_pairs(
            reps, text_col, id_col, threshold, num_hashes, bands,
            shingle_size, collapse_exact=False,
        )
        star = rep_map.where(F.col(id_col) != F.col("__rep")).select(
            F.col("__rep").alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
        return rep_pairs.unionByName(star)
    rows_per_band = num_hashes // bands
    # persisted: the signature pipeline feeds both self-join sides and
    # two verification joins — without persist it would recompute 4x
    # (at 100 TB: MEMORY_AND_DISK, sized ~ (num_hashes*8 + shingles) B/doc)
    sigs = track_persist(minhash_signatures(df, text_col, id_col, num_hashes, shingle_size))
    cands = lsh_candidate_pairs(sigs, id_col, bands, rows_per_band)
    return jaccard_pairs(cands, sigs, id_col).filter(F.col("jaccard") >= threshold)


def edit_gated_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 32,
    shingle_size: int = 3,
    prefix_len: int = 64,
    max_dist_ppm: int = 250_000,
) -> DataFrame:
    """Character-level edit-distance gate over the MinHash-LSH
    candidate stream: LSH banding generates candidates, exact shingle
    Jaccard verifies them (>= ``threshold``), then a Levenshtein gate
    on ``prefix_len``-char prefixes keeps only pairs whose normalized
    edit distance is <= ``max_dist_ppm`` (parts-per-million of the
    longer prefix). The char-level gate catches small in-word edits
    that token shingles smear out, and rejects template pairs whose
    token sets overlap but whose surface text diverged.

    Cost shape: Levenshtein's O(prefix_len^2) DP runs ONLY on
    verified survivors (a tiny fraction of the corpus), never on raw
    candidates — the cheap set-overlap filter always goes first. The
    prefix join is two hash joins of the pair stream against a
    (id, prefix) projection; AQE broadcasts them when pairs are rare.

    Recall note: with the default 32 bands x 2 rows the per-pair miss
    probability at jaccard 0.7 is (1 - 0.49)^32 ~= 5e-10 — effectively
    exhaustive, which is what lets an exact all-pairs oracle reproduce
    this output (q_neardup_edit_gate). Production corpora that prefer
    fewer candidates can drop to 16x4 and re-derive the S-curve.
    """
    pairs = verified_near_dup_pairs(
        df, text_col, id_col, threshold, num_hashes, bands, shingle_size
    )
    pref = df.select(
        F.col(id_col), F.substring(F.col(text_col), 1, prefix_len).alias("__p")
    )
    lev = F.levenshtein("__pa", "__pb").cast("long")
    denom = F.greatest(
        F.greatest(F.length("__pa"), F.length("__pb")).cast("long"), F.lit(1)
    )
    # exact integer floor-div (num <= 64e6, well under 2^53, so the
    # exactly-divisible double division is lossless)
    num = lev * 1_000_000
    dist_ppm = ((num - (num % denom)) / denom).cast("long")
    return (
        pairs.join(
            pref.withColumnsRenamed({id_col: "id_a", "__p": "__pa"}), "id_a"
        )
        .join(pref.withColumnsRenamed({id_col: "id_b", "__p": "__pb"}), "id_b")
        .select(
            "id_a",
            "id_b",
            "jaccard",
            lev.alias("edit_dist"),
            dist_ppm.alias("dist_ppm"),
        )
        .filter(F.col("dist_ppm") <= max_dist_ppm)
    )


def near_dedup_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
) -> DataFrame:
    """Near-dup dedup: keep exactly one representative (the minimum
    id) per connected component of the verified near-dup pair graph.

    Connected components run over the pair stream, so multi-hop
    duplicate chains collapse fully — e.g. edges (1,3) and (2,3) leave
    only doc 1, because 1 and 2 are transitively linked through 3 even
    though they never pair directly. The CC label table holds only
    docs that appear in some pair (duplicates are a small fraction of
    a real corpus), so the iterative step is tiny relative to the
    corpus scan."""
    pairs = verified_near_dup_pairs(
        df, text_col, id_col, threshold, num_hashes, bands, shingle_size
    )
    return keep_component_min(df, pairs, id_col)


def _simhash_udf() -> Column:
    """Vectorized SimHash kernel: array of 64-bit token hashes -> one
    packed signature per row (unpack bits, sum +1/-1 over tokens,
    repack the sign vector) in numpy. Replaces an explode + shuffle +
    64-way aggregate with a zero-shuffle narrow map."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _sh(hs):
        import numpy as np

        shifts = np.arange(64, dtype=np.uint64)
        out = np.empty(len(hs), dtype=np.int64)
        for i, row in enumerate(hs):
            H = np.asarray(row, dtype=np.int64).astype(np.uint64)[:, None]
            bits = (H >> shifts) & np.uint64(1)  # (n_tokens, 64)
            sums = (2 * bits.astype(np.int64) - 1).sum(axis=0)
            out[i] = ((sums > 0).astype(np.uint64) << shifts).sum().astype(np.uint64).view(np.int64)
        return pd.Series(out)

    _sh.__annotations__ = {"hs": pd.Series, "return": pd.Series}
    return pandas_udf("bigint")(_sh)


def simhash64(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash per doc: hash each token to 64 bits (JVM-side
    xxhash64, one pass), then per bit position sum +1/-1 over tokens
    and pack the sign vector — the bit arithmetic runs as an
    Arrow-batched numpy kernel. Zero shuffle; scan-bound at any
    scale."""
    th = F.transform(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: F.xxhash64(t)
    )
    sh = _simhash_udf()
    pre = _ensure_parallelism(df.select(F.col(id_col), th.alias("_th")), key=id_col)
    return pre.select(F.col(id_col), sh(F.col("_th")).alias("simhash"))


def simhash_pairs(sigs: DataFrame, id_col: str = "doc_id", max_hamming: int = 3) -> DataFrame:
    """(id_a, id_b, hamming) pairs of a bigint ``simhash`` column with
    hamming <= max_hamming <= 3. Pigeonhole blocking: split the 64 bits
    into 4 blocks of 16; distance <= 3 implies at least one identical
    block, so candidates come from ONE self equi-join on the exploded
    (block index, block value) — bucketed, never all-pairs. The
    Hamming verify runs inside the join projection, so the filter cuts
    volume before the distinct exchange, which then moves (id_a, id_b,
    hamming) rows instead of two signatures. ``sigs`` is read once per
    join side: persist it when it is costly to recompute."""
    if max_hamming > 3:
        raise ValueError("4-block pigeonhole blocking is exact only for max_hamming <= 3")
    mask = F.lit(0xFFFF).cast("long")
    bl = sigs.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("j"),
                    F.shiftright("simhash", 16 * j).bitwiseAND(mask).alias("blk"),
                )
                for j in range(4)
            ])
        ).alias("__b"),
    ).select(id_col, "simhash", F.col("__b.j").alias("j"), F.col("__b.blk").alias("blk"))
    a = bl.alias("a")
    b = bl.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.j") == F.col("b.j"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs with hamming(simhash64) <= k, k <= 3
    (blocking and verify: :func:`simhash_pairs`)."""
    # persisted: the block self-join would otherwise recompute the
    # token hashing and signature kernel once per side
    sigs = track_persist(simhash64(df, text_col, id_col))
    return simhash_pairs(sigs, id_col, max_hamming)


def dedup_incremental(
    new_batch: DataFrame,
    history: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup: drop every new document whose
    normalized-text fingerprint already exists in the historical
    corpus, then collapse remaining within-batch duplicates — the
    daily-crawl ingest shape, where re-fingerprinting history is free
    (store the fingerprint column) but re-deduping it is not.

    Plan: anti-join on the md5 fingerprint (uniform key, no skew),
    then the usual deterministic keep-smallest-id collapse inside the
    batch. History contributes ONLY its fingerprint column to the
    shuffle; at 100 TB that column lives precomputed in the corpus
    table and the anti-join is exchange-free under bucketing."""
    new_fp = with_fingerprint(new_batch, text_col)
    hist_fp = with_fingerprint(history, text_col).select("fingerprint").distinct()
    fresh = new_fp.join(hist_fp, "fingerprint", "left_anti")
    return deduplicate(fresh, ["fingerprint"], order_by=[id_col])


def prefix_filtered_similarity_join(
    docs: DataFrame,
    *,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 3,
) -> DataFrame:
    """EXACT all-pairs Jaccard similarity self-join at threshold
    ``t``, via AllPairs/PPJoin-style prefix filtering (Bayardo et al.,
    WWW'07; Xiao et al., WWW'08) — the deterministic complement to
    MinHash-LSH: no recall loss, no tuning, same
    no-crossJoin structure.

    Lemma: order every doc's distinct shingles by a GLOBAL
    rarest-first total order (corpus frequency, shingle text as
    tie-break). If J(A,B) >= t then |A∩B| >= ceil(t*|A|), and any two
    sets with |A∩B| >= a share an element among their first
    |X| - a + 1 elements — so candidates = pairs sharing at least one
    token in their (|X| - ceil(t|X|) + 1)-length prefixes, with zero
    false negatives. Rarest-first makes prefix tokens the LEAST
    frequent join keys, so candidate buckets stay small even on
    Zipfian shingle distributions: the boilerplate 3-gram that
    appears in half the corpus is never anyone's candidate key unless
    a doc is so small that t forces a long prefix.

    Plan: the shared prefix-filter steps with the corpus on both
    sides — persisted fingerprint sets (:func:`_shingle_sets`; they
    feed the token explode AND both verify sides, without the cache
    the regex shingle extraction re-runs 4x) -> corpus-frequency
    partial AGGREGATE broadcast-joined back (see _freq_hint: the
    exploded stream is never exchanged by the Zipfian shingle key) ->
    per-doc rarest-first window (:func:`_prefix_rows`; shuffle by doc
    id, uniform) -> :func:`_verified_prefix_pairs`. Every one of those
    steps moves 8-byte fingerprints, never shingle text; the
    rarest-first order ties on the fingerprint, which is as good a
    shared total order as the string. Output is exact fixed-point ppm
    ``(id_a, id_b, jaccard_ppm)`` with ``id_a < id_b``, so it is
    oracle-checkable against brute force.
    """
    sets = track_persist(_shingle_sets(docs, text_col, id_col, shingle_size))
    # persisted: the prefix table is both sides of the candidate join
    prefix = track_persist(_prefix_rows(sets, _shingle_freq(sets), threshold))
    return _verified_prefix_pairs(prefix, sets, prefix, sets, _t_ppm(threshold))


class ShingleIndex:
    """Persisted artifact for :func:`near_dedup_against_index` — the
    near-dup analog of the fingerprint column that makes
    :func:`dedup_incremental` cheap. Three tables, stored as bucketed
    catalog tables by :func:`write_shingle_index_bucketed` and read
    back by :func:`read_shingle_index_bucketed`:

    - ``prefix``: (shingle, id, size, pos) — one row per PREFIX
      shingle per indexed doc (the AllPairs candidate join side).
      Append-only across ingest days; bucketed by ``shingle`` on disk,
      so the daily candidate join is exchange-free on the corpus side.
    - ``sets``: (id, shingles, size) — per-doc distinct shingle
      fingerprint arrays for exact verification of candidates.
    - ``freq``: (shingle, n) — the FROZEN corpus shingle-frequency
      snapshot that defines the global rarest-first order.

    Every ``shingle`` is a bigint xxhash64 fingerprint (see
    :func:`_shingle_sets`), so the index's sorts, bucketed writes and
    daily joins move 8-byte longs.

    The prefix-filter lemma needs both docs of a pair ordered by ONE
    total order; the snapshot is that order. A new batch must compute
    its prefixes under THIS ``freq`` (unseen shingles rank rarest via
    ``coalesce(n, 0)``) — then exactness holds no matter how stale
    the snapshot is, because prefix LENGTHS are per-doc functions of
    the threshold, not of the frequencies (staleness only rotates
    which shingles land in a prefix, identically on both sides).

    ``threshold`` and ``shingle_size`` are baked in: prefixes are only
    valid for thresholds >= the one they were cut at (a longer prefix
    is a superset, so indexing at the LOWEST threshold you intend to
    query keeps one index serving several gates).
    """

    def __init__(self, prefix: DataFrame, sets: DataFrame, freq: DataFrame,
                 threshold: float, shingle_size: int):
        self.prefix = prefix
        self.sets = sets
        self.freq = freq
        self.threshold = threshold
        self.shingle_size = shingle_size


def _shingle_sets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_size: int,
    *,
    carry: tuple = (),
) -> DataFrame:
    """Per-doc distinct shingle fingerprint sets: each shingle maps
    through xxhash64 IN THE SAME NARROW PASS that extracts it, so
    every downstream exchange, sort, bucketed write and verify carries
    8-byte longs instead of ~25-byte shingle strings (the sf10 shingle
    sort's spill was dominated by raw shingle text). Distinctness is
    taken AFTER hashing: a collision between two distinct shingles
    of the SAME doc merges them (set size shrinks by 1), between
    docs it can only inflate the intersection — either way the
    Jaccard perturbation is ≤ 1/|A∪B| per collision at ~2^-64 odds
    per shingle pair (tests account collisions explicitly)."""
    from breweries_data_pipeline_spark.functions.text import shingles

    sh = F.transform(shingles(text_col, shingle_size), lambda s: F.xxhash64(s))
    return (
        df.select(
            F.col(id_col).alias("id"),
            *carry,
            F.array_distinct(sh).alias("shingles"),
        ).withColumn("size", F.size("shingles"))
    )


def _shingle_freq(sets: DataFrame) -> DataFrame:
    """Corpus shingle frequencies (shingle, n) over ``_shingle_sets``
    rows: the rarest-first order that :func:`_prefix_rows` cuts by."""
    return (
        sets.select(F.explode("shingles").alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _prefix_rows(sets: DataFrame, freq: DataFrame, threshold: float) -> DataFrame:
    """Cut each doc's rarest-first prefix (length |X| - ceil(t|X|) + 1)
    under the given frequency snapshot; shingles absent from the
    snapshot rank rarest (coalesce 0) so indexed corpus and fresh
    batch share one total order. ``pos`` is the token's 1-based rank
    in that order — the PPJoin positional filter needs it (see
    :func:`_ppjoin_position_filter`). The frequency table joins back
    under a broadcast hint (see :func:`_freq_hint`): the exploded
    shingle stream is never exchanged by the Zipf-skewed shingle key;
    its only shuffle is the uniform per-doc rank window."""
    from pyspark.sql import Window

    toks = sets.select("id", "size", F.explode("shingles").alias("shingle"))
    w = Window.partitionBy("id").orderBy("__n", "shingle")
    plen = _prefix_len_expr("size", _t_ppm(threshold))
    return (
        toks.join(_freq_hint(freq.withColumnRenamed("n", "__n")), "shingle", "left")
        .withColumn("__n", F.coalesce("__n", F.lit(0)))
        .withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= plen)
        .select("shingle", "id", "size", "pos")
    )


def _ppjoin_position_filter(a: str, b: str, t_ppm: int):
    """PPJoin positional filter (Xiao et al., WWW'08), exact: a pair
    with J >= t needs overlap alpha = ceil(t/(1+t) * (|A|+|B|)). All
    common tokens sort at-or-after the pair's FIRST common token under
    the shared global order, so at that token (positions pa, pb):
    |A∩B| <= 1 + min(|A|-pa, |B|-pb). Filtering every candidate row
    by that bound keeps the first-common-token row of every true pair
    (zero recall loss) while dropping rows whose shared token sits too
    deep to reach alpha — on low-selectivity corpora this is the
    difference between verifying millions of false pairs and
    thousands (measured r7 at sf1: 10.4M -> far fewer candidates).
    Condition in exact bigint fixed-point: (1 + min(..)) * (1e6 +
    t_ppm) >= t_ppm * (|A|+|B|), since ubound >= ceil(x) <=>
    ubound >= x for integer ubound."""
    sa, sb = F.col(f"{a}.size").cast("long"), F.col(f"{b}.size").cast("long")
    pa, pb = F.col(f"{a}.pos").cast("long"), F.col(f"{b}.pos").cast("long")
    ubound = 1 + F.least(sa - pa, sb - pb)
    return ubound * (1_000_000 + t_ppm) >= t_ppm * (sa + sb)


def _verified_prefix_pairs(
    prefix_a: DataFrame,
    sets_a: DataFrame,
    prefix_b: DataFrame,
    sets_b: DataFrame,
    t_ppm: int,
) -> DataFrame:
    """The one candidate-and-verify step of the prefix-filter joins,
    shared by the self-join (:func:`prefix_filtered_similarity_join`:
    the same tables on both sides, pairs emitted once as
    ``id_a < id_b``) and the batch-against-index join
    (:func:`near_dedup_against_index`: batch as ``a``, index as
    ``b``). ``prefix_*`` are :func:`_prefix_rows` tables cut under ONE
    shared frequency order; ``sets_*`` are :func:`_shingle_sets`
    fingerprint tables. Returns ``(id_a, id_b, jaccard_ppm, *extras)``
    for every pair with exact Jaccard >= t, where ``extras`` are the
    columns ``sets_b`` carries beyond ``id, shingles, size`` (the
    collapsed index's ``w``).

    1. Candidates: one equi-join on the prefix shingle. The AllPairs
       length filter (J(A,B) >= t forces min(|A|,|B|) >=
       t*max(|A|,|B|)) and the PPJoin positional bound
       (:func:`_ppjoin_position_filter`) run INSIDE the join, so
       size-mismatched pairs and shared tokens too deep in either
       prefix never reach distinct or verify (on dense-vocabulary
       corpora the positional bound is what keeps verify proportional
       to true-match volume; it halved the sf1 wall when it landed).
    2. Verify: exact Jaccard in fixed-point ppm, joining the two
       fingerprint-array tables back on the candidate ids (the smaller
       side AQE-broadcastable); the candidates are intersected as
       8-byte arrays, so no cheaper pre-gate is worth a pass."""
    self_join = prefix_a is prefix_b and sets_a is sets_b
    on = F.col("a.shingle") == F.col("b.shingle")
    if self_join:
        # first: the cheapest conjunct drops half the rows before the
        # bigint arithmetic of the two filters below
        on = on & (F.col("a.id") < F.col("b.id"))
    sa, sb = F.col("a.size").cast("long"), F.col("b.size").cast("long")
    on = (
        on
        & (sa * 1_000_000 >= t_ppm * sb)
        & (sb * 1_000_000 >= t_ppm * sa)
        & _ppjoin_position_filter("a", "b", t_ppm)
    )
    pairs = (
        prefix_a.alias("a")
        .join(prefix_b.alias("b"), on)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    extras = [c for c in sets_b.columns if c not in ("id", "shingles", "size")]
    ppm = F.expr(
        "(cast(size(array_intersect(__s_a, __s_b)) as bigint) * 1000000) div "
        "(cast(size(__s_a) as bigint) + cast(size(__s_b) as bigint) "
        " - cast(size(array_intersect(__s_a, __s_b)) as bigint))"
    )
    return (
        pairs.join(
            sets_a.select(F.col("id").alias("id_a"), F.col("shingles").alias("__s_a")),
            "id_a",
        )
        .join(
            sets_b.select(
                F.col("id").alias("id_b"), F.col("shingles").alias("__s_b"), *extras
            ),
            "id_b",
        )
        .select("id_a", "id_b", ppm.alias("jaccard_ppm"), *extras)
        .where(F.col("jaccard_ppm") >= t_ppm)
    )


def build_shingle_index(
    history: DataFrame,
    *,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 3,
    collapse_exact: bool = False,
) -> ShingleIndex:
    """Build the :class:`ShingleIndex` for a corpus. One shingle
    explode feeds both the frequency aggregate and the prefix window;
    the sets table is the explode input persisted. All three outputs
    are plain DataFrames — write once with
    :func:`write_shingle_index_bucketed`, re-read daily with
    :func:`read_shingle_index_bucketed`, and only the (small) new
    batch is ever shingled again.

    The index holds xxhash64 shingle fingerprints (see
    :func:`_shingle_sets`): the prefix window's sort, the frequency
    aggregate, the bucketed catalog write, and every daily candidate
    join move 8-byte longs (raw shingle text dominated the
    locally-measured sf10 spill). The prefix-filter lemma is
    hash-agnostic (it needs only ONE shared total order, which the
    fingerprint frequency snapshot provides), and verification is
    exact Jaccard over the fingerprint sets — exact over shingles up
    to 64-bit collisions.

    ``collapse_exact=True`` collapses byte-identical history docs
    FIRST (one rep per distinct text = the group's smallest id, with
    the copy count carried as a ``w`` column on ``sets``) — the
    standard exact-dedup-before-near-dup funnel order, applied inside
    the index so daily queries inherit it. Semantics-preserving by
    construction: every copy has the SAME Jaccard to any batch doc,
    so match counts weight by ``w`` and the best-match id is the best
    group's min id — exactly what the uncollapsed form returns
    (tests assert row-for-row equality; the brute-force oracle stays
    valid). This is the lever that collapses candidate volume on
    dup-dense corpora: candidates scale with DISTINCT text pairs, not
    copy-count-squared (the measured sf10 disk ceiling — ~10^9
    candidate rows from 100-copy cliques — drops ~10^4x)."""
    carry: tuple = ()
    if collapse_exact:
        history = (
            history.groupBy(F.md5(F.col(text_col)).alias("__g"))
            .agg(
                F.min(id_col).alias(id_col),
                F.first(text_col).alias(text_col),
                F.count(F.lit(1)).cast("long").alias("w"),
            )
            .drop("__g")
        )
        # the multiplicity rides the sets table (persisted with it);
        # near_dedup_against_index weights match counts by it
        carry = ("w",)
    sets = track_persist(
        _shingle_sets(history, text_col, id_col, shingle_size, carry=carry)
    )
    # persisted: the freq table feeds BOTH the index's own prefix cut
    # (via _prefix_rows) and the returned/written freq snapshot — one
    # aggregate over the cached sets instead of two. The r12 count-
    # window spelling of the prefix cut saved one exchange locally but
    # sorted every occurrence of a hot shingle in ONE window partition
    # (skew hazard at scale, r12 verdict #1); the aggregate +
    # broadcast join-back of _prefix_rows has map-side partial
    # aggregation and never exchanges the exploded stream by the
    # shingle key at all (see _freq_hint).
    freq = track_persist(_shingle_freq(sets))
    prefix = _prefix_rows(sets, freq, threshold)
    return ShingleIndex(prefix, sets, freq, threshold, shingle_size)


# the one on-disk layout read and written: bigint fingerprint shingles
# (a fingerprint batch would silently null-join a string-shingle one)
_INDEX_FORMAT_VERSION = 3


def write_shingle_index_bucketed(
    index: ShingleIndex, table_prefix: str, *, n_buckets: int = 32
) -> list[str]:
    """Persist the index as CATALOG tables with ``prefix`` bucketed
    (and sorted) by shingle — the production layout: the daily
    candidate join reads the corpus prefix with NO exchange and NO
    sort on its side, so the only shuffle per ingest is the (small)
    new batch's. The shuffle of the multi-TB corpus side is paid once
    at index-build time, amortized over every daily run.
    (tests/test_dedup.py plan-asserts the exchange-free corpus side.)

    ``sets`` and ``freq`` are bucketed by their own join keys too:
    ``sets`` by id (the verify join), ``freq`` by shingle (the batch
    prefix-cut join ranks against it).

    Returns the names of the tables written. They outlive the session
    (an index is re-read by later runs); a caller that uses them as
    scratch registers them with ``cache.track_table``."""
    p = index.prefix
    spark = p.sparkSession
    tables = [f"{table_prefix}_{t}" for t in ("prefix", "sets", "freq", "meta")]
    for t in tables:
        _drop_table_and_stale_location(spark, t)
    # repartition on the bucket key first: a bucketBy write emits one
    # file per (task, bucket) pair, so writing from arbitrary upstream
    # partitioning fans out to tasks x buckets small files; hash-
    # repartitioning to n_buckets on the same key (same Murmur3 family
    # bucketing uses) gives each task one bucket's rows -> one file
    # per bucket, and a bounded-file-count scan on every daily read
    (p.repartition(n_buckets, "shingle").write.mode("overwrite")
     .bucketBy(n_buckets, "shingle").sortBy("shingle")
     .format("parquet").saveAsTable(f"{table_prefix}_prefix"))
    (index.sets.repartition(n_buckets, "id").write.mode("overwrite")
     .bucketBy(n_buckets, "id")
     .format("parquet").saveAsTable(f"{table_prefix}_sets"))
    (index.freq.repartition(n_buckets, "shingle").write.mode("overwrite")
     .bucketBy(n_buckets, "shingle")
     .format("parquet").saveAsTable(f"{table_prefix}_freq"))
    spark.createDataFrame(
        [(
            int(round(index.threshold * 1_000_000)),
            index.shingle_size,
            _INDEX_FORMAT_VERSION,
            # always true: kept so readers that still branch on the
            # flag read this layout as the fingerprint one it is
            True,
        )],
        "threshold_ppm bigint, shingle_size int, format_version int, "
        "fingerprint boolean",
    ).write.mode("overwrite").format("parquet").saveAsTable(f"{table_prefix}_meta")
    return tables


def read_shingle_index_bucketed(spark, table_prefix: str) -> ShingleIndex:
    """The :class:`ShingleIndex` that :func:`write_shingle_index_bucketed`
    stored under ``table_prefix``. Only :data:`_INDEX_FORMAT_VERSION`
    reads: an older or versionless (string-shingle) layout and an
    unknown newer one fail loudly instead of mis-joining."""
    meta = spark.table(f"{table_prefix}_meta").first()
    ver = meta["format_version"] if "format_version" in meta.__fields__ else None
    if ver != _INDEX_FORMAT_VERSION:
        raise ValueError(
            f"shingle index tables {table_prefix!r} have format_version={ver}; "
            f"this reader understands only {_INDEX_FORMAT_VERSION} "
            "(fingerprint shingles). Rebuild the index with this version's writer."
        )
    return ShingleIndex(
        spark.table(f"{table_prefix}_prefix"),
        spark.table(f"{table_prefix}_sets"),
        spark.table(f"{table_prefix}_freq"),
        meta["threshold_ppm"] / 1_000_000,
        int(meta["shingle_size"]),
    )


def near_dedup_against_index(
    new_batch: DataFrame,
    index: ShingleIndex,
    *,
    threshold: float | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    collapse_exact: bool = False,
) -> DataFrame:
    """Annotate every new-batch doc with its exact-Jaccard (>= t)
    near-duplicates in an indexed corpus — the daily-crawl ingest
    shape for near-dups, complementing :func:`dedup_incremental`
    (byte-identical only). EXACT threshold semantics (zero LSH recall
    loss), so the output is oracle-checkable against brute force.

    Candidate generation is the bipartite AllPairs/PPJoin prefix
    filter (Bayardo et al., WWW'07 — same lemma as
    :func:`prefix_filtered_similarity_join`): under the index's frozen
    rarest-first order, any (new, old) pair with J >= t shares a
    shingle inside both prefixes, so candidates = batch prefix
    equi-join ``index.prefix`` — no crossJoin, and Zipf-head shingles
    are never join keys. The length and positional filters and the
    exact verify are the self-join's own step,
    :func:`_verified_prefix_pairs`, with the batch as side ``a`` and
    the index as side ``b``; the batch is fingerprinted the way the
    index is (:func:`_shingle_sets`).

    ``threshold`` defaults to the index's own; a HIGHER one is allowed
    (the indexed prefixes are supersets of what that gate needs — see
    :class:`ShingleIndex`), a lower one raises.

    Returns one row per batch doc: ``n_dups`` (corpus matches at
    J >= t), ``best_match_id`` / ``best_jaccard_ppm`` (highest
    Jaccard, smallest corpus id on ties; nulls when none). Jaccard is
    integer fixed-point ppm, bit-exact cross-engine. Compose with
    :func:`prefix_filtered_similarity_join` on the survivors
    (``n_dups == 0``) for within-batch collapse.

    ``collapse_exact=True`` annotates one representative per distinct
    batch TEXT and fans the (identical) annotation back out to every
    copy — semantics-preserving (byte-identical docs have identical
    match sets) and the batch-side half of the exact-dedup-before-
    near-dup funnel; pair it with an index built with
    ``collapse_exact=True`` (whose ``w`` multiplicities this function
    weights match counts by, whether or not the batch collapses).
    On dup-dense corpora this is what keeps candidate volume
    proportional to DISTINCT-text pairs instead of copy² (the
    measured sf10 ceiling).
    """
    from pyspark.sql import Window

    if collapse_exact:
        key = F.md5(F.col(text_col))
        members = new_batch.select(F.col(id_col), key.alias("__g"))
        reps = new_batch.groupBy(key.alias("__g")).agg(
            F.min(id_col).alias(id_col), F.first(text_col).alias(text_col)
        )
        ann = near_dedup_against_index(
            reps.drop("__g"), index,
            threshold=threshold, text_col=text_col, id_col=id_col,
        )
        rep_ann = (
            reps.select("__g", F.col(id_col).alias("__rep"))
            .join(ann.withColumnRenamed(id_col, "__rep"), "__rep")
            .drop("__rep")
        )
        return members.join(rep_ann, "__g").select(
            id_col, "n_dups", "best_match_id", "best_jaccard_ppm"
        )

    t = index.threshold if threshold is None else threshold
    if t < index.threshold:
        raise ValueError(
            f"index was cut at threshold {index.threshold}; querying at {t} < that "
            "would lose candidates (rebuild the index at the lower threshold)"
        )
    t_ppm = _t_ppm(t)
    sets = track_persist(
        _shingle_sets(new_batch, text_col, id_col, index.shingle_size)
    )
    # batch as side a, index as side b: the index's sets carry the
    # collapsed index's per-rep multiplicities ``w`` through the step
    verified = _verified_prefix_pairs(
        _prefix_rows(sets, index.freq, t), sets, index.prefix, index.sets, t_ppm
    ).select(
        F.col("id_a").alias("__bid"),
        F.col("id_b").alias("__hid"),
        # each match row of a collapsed index stands for w
        # byte-identical corpus docs, so counts weight by w
        # (best_match_id stays the group's min id — the rep IS that id)
        (F.col("w").cast("long") if "w" in index.sets.columns else F.lit(1)).alias("__w"),
        F.col("jaccard_ppm").alias("__ppm"),
    )
    wb = Window.partitionBy("__bid")
    best = (
        verified.withColumn(
            "__rk", F.row_number().over(wb.orderBy(F.desc("__ppm"), F.asc("__hid")))
        )
        .withColumn("__n", F.sum("__w").over(wb))
        .where(F.col("__rk") == 1)
    )
    return (
        sets.select(F.col("id").alias(id_col))
        .join(best.withColumnRenamed("__bid", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_dups"),
            # keep the matched id in the index's own id type: a cast to
            # long would null out string doc ids, masking real matches
            F.col("__hid").alias("best_match_id"),
            F.col("__ppm").cast("long").alias("best_jaccard_ppm"),
        )
    )


def near_dedup_incremental(
    new_batch: DataFrame,
    history: DataFrame,
    *,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 3,
) -> DataFrame:
    """One-shot convenience: :func:`build_shingle_index` on the
    history corpus, then :func:`near_dedup_against_index` on the
    batch. Production ingest keeps the index on disk instead of
    rebuilding it per day — see :class:`ShingleIndex`."""
    index = build_shingle_index(
        history,
        threshold=threshold,
        text_col=text_col,
        id_col=id_col,
        shingle_size=shingle_size,
    )
    return near_dedup_against_index(
        new_batch, index, threshold=threshold, text_col=text_col, id_col=id_col
    )
