"""X7 dedup operator tests: behavioral checks on synthetic near-dups
plus plan assertions that candidate generation never degenerates to an
all-pairs crossJoin."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from breweries_data_pipeline_spark.operators.dedup import (
    exact_dedup,
    md5_minhash_signatures,
    minhash_signatures,
    near_dedup_minhash,
    simhash_near_dup_pairs,
    simhash_pairs,
    verified_near_dup_pairs,
)

BASE = (
    "the quick brown fox jumps over the lazy dog and then runs far away "
    "into the deep dark forest to find some food for the long cold winter"
)


def _docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0 (modulo id)
        (2, BASE.replace("winter", "night")),  # near dup of 0
        (3, "completely different text about spark query engines and shuffles"),
        (4, "   The  QUICK brown fox jumps over the lazy dog and then runs far away "
            "into the deep dark forest to find some food for the long cold winter "),
        # 4 = whitespace/case variant of 0 -> same fingerprint
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_normalizes_and_keeps_min_id(spark):
    out = exact_dedup(_docs(spark))
    ids = sorted(r.doc_id for r in out.collect())
    # 0,1,4 share a fingerprint -> keep 0; 2 and 3 unique
    assert ids == [0, 2, 3]


def test_minhash_identical_docs_identical_signatures(spark):
    sigs = {r.doc_id: r.minhash for r in minhash_signatures(_docs(spark)).collect()}
    assert sigs[0] == sigs[1]
    assert sigs[0] != sigs[3]
    assert len(sigs[0]) == 64


def test_md5_signature_skips_null_shingles(spark):
    """A null shingle contributes no lanes: a doc whose shingles are
    all null has no signature row, and a null beside real shingles
    leaves the signature unchanged. Every column other than ``s``
    groups the signature."""
    sh = spark.createDataFrame(
        [(1, 7, "a b c"), (1, 7, None), (2, 7, None), (3, 9, "a b c")],
        "doc_id long, w long, s string",
    )
    sig = {(r.doc_id, r.w): r.minhash for r in md5_minhash_signatures(sh).collect()}
    assert sorted(sig) == [(1, 7), (3, 9)]
    assert sig[(1, 7)] == sig[(3, 9)]
    assert len(sig[(1, 7)]) == 16


def test_near_dup_pairs_find_the_near_dup(spark):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in verified_near_dup_pairs(_docs(spark), threshold=0.5).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.5 <= pairs[(0, 2)] < 1.0
    assert not any(3 in p for p in pairs)


def test_near_dedup_minhash_drops_dups_keeps_unique(spark):
    out = near_dedup_minhash(_docs(spark), threshold=0.5)
    ids = sorted(r.doc_id for r in out.collect())
    assert 0 in ids and 3 in ids
    assert 1 not in ids and 2 not in ids


def test_simhash_pairs_exact_dups_zero_distance(spark):
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_dup_pairs(_docs(spark)).collect()
    }
    assert pairs.get((0, 1)) == 0
    assert not any(3 in p for p in pairs)


def test_simhash_pairs_on_packed_halves_match_all_pairs(spark):
    """Two 32-bit halves packed as lo | (hi << 32) keep their blocks
    and XOR popcount, so the blocked pairs equal an all-pairs Hamming
    scan over the (lo, hi) form."""
    import random

    rng = random.Random(7)
    halves = []
    for i in range(60):
        lo, hi = rng.getrandbits(32), rng.getrandbits(32)
        if i % 3:  # near copies of an earlier row, 0-4 flipped bits
            lo, hi = halves[rng.randrange(len(halves))][1:]
            for bit in rng.sample(range(64), rng.randrange(5)):
                if bit < 32:
                    lo ^= 1 << bit
                else:
                    hi ^= 1 << (bit - 32)
        halves.append((i, lo, hi))
    want = {
        (a, b): bin(la ^ lb).count("1") + bin(ha ^ hb).count("1")
        for a, la, ha in halves
        for b, lb, hb in halves
        if a < b and bin(la ^ lb).count("1") + bin(ha ^ hb).count("1") <= 3
    }
    sigs = spark.createDataFrame(halves, "doc_id long, lo long, hi long").select(
        "doc_id",
        F.col("lo").bitwiseOR(F.shiftleft("hi", 32)).alias("simhash"),
    )
    got = {(r.id_a, r.id_b): r.hamming for r in simhash_pairs(sigs).collect()}
    assert got == want
    assert any(h == 3 for h in want.values())


def test_simhash_pairs_rejects_hamming_above_block_bound(spark):
    sigs = spark.createDataFrame([(1, 0)], "doc_id long, simhash long")
    with pytest.raises(ValueError, match="max_hamming <= 3"):
        simhash_pairs(sigs, max_hamming=4)


def test_lsh_plan_has_no_cartesian_product(spark, sf_dir):
    from breweries_data_pipeline_spark.sources import read_table

    docs = read_table(spark, sf_dir, "documents")
    for df in (
        verified_near_dup_pairs(docs, threshold=0.5),
        simhash_near_dup_pairs(docs),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def _on_both_paths(monkeypatch):
    """Yield the graph module twice: with connected components' driver
    path on, then with it off (the distributed loop)."""
    from breweries_data_pipeline_spark.operators import graph

    yield graph
    monkeypatch.setattr(graph, "_DRIVER_EDGES", 0)
    yield graph


def _labels(df, id_col="id", label_col="cluster_id"):
    return {r[id_col]: r[label_col] for r in df.collect()}


def test_connected_components_chain_star_isolated(spark, monkeypatch):
    # chain 1-2-3-4, star 10-{11,12,13}, isolated 20
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 10), (10, 12), (13, 10)],
        "id_a long, id_b long",
    )
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 12, 13, 20]], "id long")
    for graph in _on_both_paths(monkeypatch):
        lab = _labels(graph.connected_components(edges, nodes))
        assert lab == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 13: 10, 20: 20}
        # without a node table: the endpoints, each once
        ends = _labels(graph.connected_components(edges, None))
        assert ends == {k: v for k, v in lab.items() if k != 20}


def test_connected_components_long_chain_converges_by_jumping(spark, distributed_cc):
    from breweries_data_pipeline_spark.operators.graph import connected_components

    n = 200  # chain of 200 nodes; naive propagation would need 200 rounds
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    lab = connected_components(edges, nodes, max_iter=12)
    assert lab.filter(F.col("cluster_id") != 0).count() == 0


def test_connected_components_raises_when_not_converged(spark, distributed_cc):
    from breweries_data_pipeline_spark.operators.graph import connected_components

    n = 200
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    with pytest.raises(RuntimeError, match="max_iter=3"):
        connected_components(edges, nodes, max_iter=3)


def test_connected_components_empty_edge_list(spark, monkeypatch):
    edges = spark.createDataFrame([], "id_a long, id_b long")
    nodes = spark.createDataFrame([(3,), (1,), (2,)], "id long")
    for graph in _on_both_paths(monkeypatch):
        assert _labels(graph.connected_components(edges, nodes)) == {1: 1, 2: 2, 3: 3}
        assert graph.connected_components(edges, None).count() == 0


def test_connected_components_ignores_null_endpoints(spark, monkeypatch):
    """An edge with a null endpoint joins nothing, as in the
    distributed join; a null node keeps a null label."""
    edges = spark.createDataFrame(
        [(2, 1), (None, 3), (3, None), (None, None)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(1,), (2,), (3,), (None,)], "id long")
    for graph in _on_both_paths(monkeypatch):
        got = _labels(graph.connected_components(edges, nodes))
        assert got == {1: 1, 2: 1, 3: 3, None: None}
        assert _labels(graph.connected_components(edges, None)) == {1: 1, 2: 1}


@pytest.mark.parametrize("distributed", [False, True])
def test_connected_components_nodes_induce_the_subgraph(spark, request, distributed):
    """An edge with an endpoint outside ``nodes`` links nothing, on the
    driver path and in the distributed loop alike: node 2 is left out,
    so 1 and 3 are not joined through it."""
    from breweries_data_pipeline_spark.operators.graph import connected_components

    if distributed:
        request.getfixturevalue("distributed_cc")
    edges = spark.createDataFrame([(1, 2), (2, 3), (4, 3)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(1,), (3,), (4,)], "id long")
    assert _labels(connected_components(edges, nodes)) == {1: 1, 3: 3, 4: 3}


def test_connected_components_int_ids_keep_their_type(spark, monkeypatch):
    """``cluster_id`` has the id column's type on both paths, and the
    two paths return the same schema and rows."""
    edges = spark.createDataFrame([(5, 4), (4, 3), (7, 8)], "id_a int, id_b int")
    nodes = spark.createDataFrame([(i,) for i in range(3, 10)], "id int")
    out = []
    for graph in _on_both_paths(monkeypatch):
        for with_nodes in (nodes, None):
            df = graph.connected_components(edges, with_nodes)
            out.append((df.schema, sorted(df.collect())))
    assert out[:2] == out[2:]
    assert out[0][0]["cluster_id"].dataType == T.IntegerType()
    assert dict(out[0][1]) == {3: 3, 4: 3, 5: 3, 6: 6, 7: 7, 8: 7, 9: 9}


@pytest.mark.parametrize("n_edges, on_driver", [(3, True), (4, False)])
def test_connected_components_driver_threshold(spark, monkeypatch, n_edges, on_driver):
    """Exactly ``_DRIVER_EDGES`` edges label on the driver; one more
    runs the distributed loop. Both give the component minimum."""
    from breweries_data_pipeline_spark.operators import graph

    monkeypatch.setattr(graph, "_DRIVER_EDGES", 3)
    calls = []
    real = graph._min_labels
    monkeypatch.setattr(
        graph, "_min_labels", lambda u, v: calls.append(len(u)) or real(u, v)
    )
    pairs = [(9, 8), (8, 7), (7, 6), (6, 5)][:n_edges]
    edges = spark.createDataFrame(pairs, "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in range(5, 10)], "id long")
    lab = _labels(graph.connected_components(edges, nodes))
    low = 10 - n_edges - 1
    assert lab == {i: (low if i >= low else i) for i in range(5, 10)}
    assert calls == ([n_edges] if on_driver else [])


def test_min_labels_match_union_find():
    """The driver-side labeling against a plain union-find on random
    graphs, including chains whose ids run against the edge order."""
    import numpy as np

    from breweries_data_pipeline_spark.operators.graph import _min_labels

    rng = np.random.default_rng(7)
    for n, m in [(1, 0), (2, 1), (50, 30), (300, 250), (1000, 999)]:
        if m == n - 1 and n > 2:
            perm = rng.permutation(n)
            u, v = perm[:-1], perm[1:]
        else:
            u, v = rng.integers(0, n, m), rng.integers(0, n, m)
        u = np.append(u, n - 1)  # every node present
        v = np.append(v, n - 1)
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in zip(u.tolist(), v.tolist()):
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
        assert _min_labels(u, v).tolist() == [find(i) for i in range(n)]


def test_small_graph_connected_components_job_budget(spark):
    """A small graph's components plus a collect run at most 6 Spark
    jobs: the edge probe, the broadcast and the collect, not two jobs
    per label-propagation round."""
    from breweries_data_pipeline_spark.operators.graph import connected_components

    edges = spark.createDataFrame([(i, i + 1) for i in range(99)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in range(120)], "id long")
    sc = spark.sparkContext
    group = "cc-small-graph"
    sc.setJobGroup(group, "small-graph connected components")
    try:
        rows = connected_components(edges, nodes).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted(r.cluster_id for r in rows) == [0] * 100 + list(range(100, 120))
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 6


def _chain_docs(spark):
    """A 2-hop duplicate chain through a high-id hub: docs 1 and 2
    share nothing with each other, doc 3 is the token-union of both —
    so the verified pair graph is (1,3), (2,3) and 1~2 only
    transitively. Crucially doc 2 is never the LARGER id of any pair,
    which is exactly the case the single-pass anti-join cannot see."""
    a = " ".join(f"alpha{i}" for i in range(20))
    c = " ".join(f"omega{i}" for i in range(20))
    rows = [(1, a), (2, c), (3, a + " " + c)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_near_dedup_chain_safe_collapses_multi_hop(spark):
    """near_dedup_minhash must leave ONE survivor of the 1-3-2 chain
    (a single anti-join pass would keep doc 2)."""
    docs = _chain_docs(spark)
    pairs = {
        (r.id_a, r.id_b)
        for r in verified_near_dup_pairs(docs, threshold=0.4, bands=32).collect()
    }
    assert (1, 3) in pairs and (2, 3) in pairs and (1, 2) not in pairs

    chain_safe = sorted(
        r.doc_id
        for r in near_dedup_minhash(docs, threshold=0.4, bands=32).collect()
    )
    assert chain_safe == [1]


def test_exact_collapse_yields_star_not_clique(spark):
    """10 byte-identical docs must produce 9 star edges (rep 0 ->
    members, jaccard exactly 1.0), NOT the 45-pair clique — the
    candidate-volume property that keeps LSH linear in copy count
    (r6 soak: the clique form cost 61x at 10 copies/vector). The
    dedup RESULT must be identical to the literal all-pairs form."""
    rows = [(i, BASE) for i in range(10)] + [
        (10, BASE.replace("winter", "night")),
        (11, "completely different text about spark query engines"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in verified_near_dup_pairs(docs, threshold=0.5).collect()
    }
    star = {(0, i) for i in range(1, 10)}
    assert star <= set(pairs)
    assert all(pairs[p] == 1.0 for p in star)
    # no intra-group clique edges (1,2), (2,7), ...
    assert not any(
        a != 0 and a < 10 and b < 10 for (a, b) in pairs
    ), sorted(pairs)
    # near-dup of the group (10) pairs with the REPRESENTATIVE only
    assert (0, 10) in pairs
    # dedup result identical with and without the collapse
    fast = {r.doc_id for r in near_dedup_minhash(docs, threshold=0.5).collect()}
    assert fast == {0, 11}
    lit_pairs = verified_near_dup_pairs(docs, threshold=0.5, collapse_exact=False)
    lit_dups = {r.id_b for r in lit_pairs.collect()}
    assert {r.doc_id for r in docs.collect()} - lit_dups == fast


def test_near_dedup_incremental_flags_history_matches(spark):
    from breweries_data_pipeline_spark.operators.dedup import near_dedup_incremental

    history = spark.createDataFrame(
        [(10, BASE), (11, "some unrelated historical document about databases")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            (100, BASE),  # exact copy of history 10 -> J = 1.0
            (101, BASE.replace("winter", "night")),  # near dup of 10
            (102, "a fresh never seen before piece of text entirely novel"),
        ],
        ["doc_id", "text"],
    )
    out = near_dedup_incremental(batch, history, threshold=0.5)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert set(rows) == {100, 101, 102}  # one row per batch doc, always
    assert rows[100]["n_dups"] == 1
    assert rows[100]["best_match_id"] == 10
    assert rows[100]["best_jaccard_ppm"] == 1_000_000
    assert rows[101]["n_dups"] == 1 and rows[101]["best_match_id"] == 10
    assert 500_000 <= rows[101]["best_jaccard_ppm"] < 1_000_000
    assert rows[102]["n_dups"] == 0
    assert rows[102]["best_match_id"] is None

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_prefix_len_fixed_point_matches_exact_rational(spark):
    """The prefix length |X| - ceil(t|X|) + 1 must be computed in exact
    fixed-point: float ceil(t*size) rounds UP for thresholds whose
    double is slightly high (0.1*10 -> 1.0000000000000002, ceil=2),
    cutting the prefix one short and dropping true pairs at J=t."""
    from fractions import Fraction

    from breweries_data_pipeline_spark.operators.dedup import (
        _prefix_len_expr,
        _t_ppm,
    )

    thresholds = [0.1, 0.2, 0.3, 0.5, 0.7, 0.8, 0.9, 0.95]
    sizes = list(range(1, 200))
    df = spark.createDataFrame([(s,) for s in sizes], ["size"])
    for t in thresholds:
        got = {
            r["size"]: r["plen"]
            for r in df.select(
                "size", _prefix_len_expr("size", _t_ppm(t)).alias("plen")
            ).collect()
        }
        frac_t = Fraction(_t_ppm(t), 1_000_000)
        for s in sizes:
            ceil_ts = -((-frac_t * s) // 1)
            assert got[s] == s - int(ceil_ts) + 1, (t, s)


def test_neardup_string_ids_preserved(spark):
    """best_match_id keeps the index id's own type: string doc ids
    must not be nulled by a long cast (ADVICE r6)."""
    from breweries_data_pipeline_spark.operators.dedup import near_dedup_incremental

    history = spark.createDataFrame([("h-10", BASE)], ["doc_id", "text"])
    batch = spark.createDataFrame([("b-100", BASE)], ["doc_id", "text"])
    out = near_dedup_incremental(batch, history, threshold=0.5)
    row = out.collect()[0]
    assert row["doc_id"] == "b-100"
    assert row["n_dups"] == 1
    assert row["best_match_id"] == "h-10"


def test_shingle_index_bucketed_roundtrip_exchange_free_corpus_side(spark, sf_dir):
    """The persisted-index claim, asserted not argued (r6 verdict #7):
    write the ShingleIndex as bucketed catalog tables, reload, run the
    daily candidate join — results identical to the in-memory index,
    and every CORPUS-side input (prefix, sets, freq) scans bucketed
    with no Exchange on its side of the joins; the only shingle-keyed
    exchanges left are the (small) new batch's."""
    import re

    from breweries_data_pipeline_spark.operators.dedup import (
        build_shingle_index,
        near_dedup_against_index,
        read_shingle_index_bucketed,
        write_shingle_index_bucketed,
    )
    from breweries_data_pipeline_spark.sources import read_table

    docs = read_table(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 5 == 0)
    history = docs.where(F.col("doc_id") % 5 != 0)
    idx_mem = build_shingle_index(history, threshold=0.5)
    try:
        write_shingle_index_bucketed(idx_mem, "t_shidx_test", n_buckets=8)
        idx = read_shingle_index_bucketed(spark, "t_shidx_test")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            out = near_dedup_against_index(batch, idx, threshold=0.5)
            plan = out._jdf.queryExecution().executedPlan().toString()
            n_shingle_ex = len(re.findall(r"Exchange hashpartitioning\(shingle", plan))
            assert plan.count("Bucketed: true") >= 3, plan[:2000]
            assert n_shingle_ex <= 2, f"corpus-side exchange crept back: {n_shingle_ex}"

            mem = near_dedup_against_index(batch, idx_mem, threshold=0.5)
            mplan = mem._jdf.queryExecution().executedPlan().toString()
            n_mem_ex = len(re.findall(r"Exchange hashpartitioning\(shingle", mplan))
            assert n_shingle_ex < n_mem_ex  # bucketing removed corpus exchanges

            assert sorted(map(tuple, out.collect())) == sorted(map(tuple, mem.collect()))
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    finally:
        for t in ("prefix", "sets", "freq", "meta"):
            spark.sql(f"DROP TABLE IF EXISTS t_shidx_test_{t}")


def test_shingle_index_catalog_format_version_guard(spark):
    """The catalog index records its on-disk format: the writer emits
    format_version 3 with fingerprint = true (the meta schema the
    previous release reads), and the reader accepts only 3. A
    versionless or v2 (string-shingle) meta and an unknown future v4
    are rejected loudly, with a rebuild hint, instead of silently
    mis-joining a layout this reader does not understand."""
    import pytest as _pytest

    from breweries_data_pipeline_spark.operators.dedup import (
        _drop_table_and_stale_location,
        build_shingle_index,
        read_shingle_index_bucketed,
        write_shingle_index_bucketed,
    )

    history = spark.createDataFrame(
        [(1, BASE), (2, BASE + " tail tokens here"), (3, "completely different words")],
        ["doc_id", "text"],
    )
    meta_schema = (
        "threshold_ppm bigint, shingle_size int, format_version int, "
        "fingerprint boolean"
    )

    def write_meta(table: str, rows, schema: str = meta_schema) -> None:
        _drop_table_and_stale_location(spark, table)
        spark.createDataFrame(rows, schema).write.mode("overwrite").format(
            "parquet"
        ).saveAsTable(table)

    try:
        write_shingle_index_bucketed(
            build_shingle_index(history, threshold=0.5),
            "t_shidx_fmt",
            n_buckets=2,
        )
        meta = spark.table("t_shidx_fmt_meta")
        assert [(f.name, f.dataType.simpleString()) for f in meta.schema] == [
            ("threshold_ppm", "bigint"), ("shingle_size", "int"),
            ("format_version", "int"), ("fingerprint", "boolean"),
        ]
        assert tuple(meta.first()) == (500000, 3, 3, True)
        idx = read_shingle_index_bucketed(spark, "t_shidx_fmt")
        assert (idx.threshold, idx.shingle_size) == (0.5, 3)

        for version in (2, 4):
            write_meta("t_shidx_fmt_meta", [(500000, 3, version, version > 2)])
            with _pytest.raises(ValueError, match=f"format_version={version}.*Rebuild"):
                read_shingle_index_bucketed(spark, "t_shidx_fmt")
        write_meta(
            "t_shidx_fmt_meta", [(500000, 3)], "threshold_ppm bigint, shingle_size int"
        )
        with _pytest.raises(ValueError, match="format_version=None.*Rebuild"):
            read_shingle_index_bucketed(spark, "t_shidx_fmt")
    finally:
        for t in ("prefix", "sets", "freq", "meta"):
            spark.sql(f"DROP TABLE IF EXISTS t_shidx_fmt_{t}")


def test_bucket_star_survivors_equal_clique_survivors(spark, sf_dir):
    """Star-vs-clique CC equivalence EXECUTED, not argued: on the real
    corpus, bucket-star edges (lsh_bucket_star_edges — one edge per
    non-min member, linear) and the bucket's full C(n,2) clique edges
    (quadratic self-join) must yield identical connected components,
    hence identical dedup survivors."""
    from breweries_data_pipeline_spark.operators.dedup import (
        keep_component_min,
        lsh_bucket_star_edges,
        lsh_candidate_pairs,
    )
    from breweries_data_pipeline_spark.sources import read_table

    docs = read_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, "text", "doc_id", 64, 3).select(
        "doc_id", "minhash"
    )
    sigs.persist()
    try:

        def survivors(edges):
            kept = keep_component_min(docs, edges, "doc_id").select("doc_id")
            return {r.doc_id for r in kept.collect()}

        star = survivors(lsh_bucket_star_edges(sigs, "doc_id", 16, 4))
        clique = survivors(lsh_candidate_pairs(sigs, "doc_id", 16, 4))
        assert star == clique
        assert len(star) > 0
    finally:
        sigs.unpersist()


def test_fingerprint_index_collision_free_and_bigint_roundtrip(spark, sf_dir):
    """The exactness precondition of the fingerprint shingle form,
    accounted explicitly: on the fixture corpus the number of distinct
    shingle strings equals the number of distinct xxhash64
    fingerprints (zero collisions), so fingerprint Jaccard equals
    string Jaccard there (result equality with string shingles is the
    DuckDB oracle's job). Also asserts the persisted sets/prefix stay
    bigint through the bucketed round-trip."""
    from breweries_data_pipeline_spark.functions.text import shingles
    from breweries_data_pipeline_spark.operators.dedup import (
        build_shingle_index,
        read_shingle_index_bucketed,
        write_shingle_index_bucketed,
    )
    from breweries_data_pipeline_spark.sources import read_table

    docs = read_table(spark, sf_dir, "documents")

    n_strings, n_fps = (
        docs.select(F.explode(shingles("text", 3)).alias("s"))
        .agg(
            F.countDistinct("s").alias("a"),
            F.countDistinct(F.xxhash64("s")).alias("b"),
        )
        .first()
    )
    assert n_strings > 0
    assert n_strings == n_fps, "64-bit collision on fixture corpus"

    try:
        write_shingle_index_bucketed(
            build_shingle_index(
                docs.where(F.col("doc_id") % 5 != 0), threshold=0.5
            ),
            "t_shidx_fp_test",
            n_buckets=8,
        )
        idx = read_shingle_index_bucketed(spark, "t_shidx_fp_test")
        assert dict(idx.sets.dtypes)["shingles"] == "array<bigint>"
        assert dict(idx.prefix.dtypes)["shingle"] == "bigint"
    finally:
        for t in ("prefix", "sets", "freq", "meta"):
            spark.sql(f"DROP TABLE IF EXISTS t_shidx_fp_test_{t}")


def test_sentence_dedup_fp_matches_byte_faithful_twin(spark, sf_dir):
    """q_sentence_dedup_fp must reproduce q_sentence_dedup_global row
    for row on the fixture corpus (its md5-60-bit fingerprints are
    collision-free there — accounted explicitly), and its rank
    exchange must be keyed by the FINGERPRINT, never the sentence
    text (the whole point: the heavy shuffle carries 8-byte longs)."""
    from breweries_data_pipeline_spark.queries import (
        q_sentence_dedup_fp,
        q_sentence_dedup_global,
    )
    from breweries_data_pipeline_spark.sources import read_table

    docs = read_table(spark, sf_dir, "documents")
    sents = docs.select(
        F.explode(F.split("text", r"[.!?][ \t\n\x0b\f\r]+")).alias("sent")
    )
    n_sents, n_fps = sents.agg(
        F.countDistinct("sent").alias("a"),
        F.countDistinct(
            F.expr("cast(conv(substr(md5(sent), 1, 15), 16, 10) as bigint)")
        ).alias("b"),
    ).first()
    assert n_sents == n_fps, "60-bit collision on fixture corpus"

    fp = q_sentence_dedup_fp(spark, sf_dir)
    plan = fp._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(__fp" in plan  # rank shuffle keyed by fp
    raw = q_sentence_dedup_global(spark, sf_dir)
    assert sorted(map(tuple, fp.collect())) == sorted(
        map(tuple, raw.collect())
    )


def test_collapse_exact_index_matches_uncollapsed(spark, sf_dir):
    """The exact-collapse funnel order, proven semantics-preserving:
    an index built with collapse_exact=True (one rep per distinct
    history text + w multiplicities) queried by a collapse_exact=True
    batch must annotate every batch doc IDENTICALLY to the plain
    uncollapsed run — n_dups counts every corpus copy via w, and
    best_match_id is the best group's min id because the rep is that
    id. This is the lever that keeps candidate volume proportional to
    distinct-text pairs instead of copy-count squared (the sf10 disk
    ceiling's root cause)."""
    from breweries_data_pipeline_spark.operators.dedup import (
        build_shingle_index,
        near_dedup_against_index,
    )
    from breweries_data_pipeline_spark.sources import read_table

    docs = read_table(spark, sf_dir, "documents")
    # replicate the corpus 3x with distinct ids so exact-dup groups
    # exist on BOTH sides (the fixture corpus alone has few)
    tripled = docs.selectExpr(
        "explode(array(doc_id, doc_id + 1000000, doc_id + 2000000)) AS doc_id",
        "text",
    )
    batch = tripled.where(F.col("doc_id") % 5 == 0)
    history = tripled.where(F.col("doc_id") % 5 != 0)

    plain = near_dedup_against_index(
        batch, build_shingle_index(history, threshold=0.5), threshold=0.5
    )
    idx_c = build_shingle_index(history, threshold=0.5, collapse_exact=True)
    assert "w" in idx_c.sets.columns
    coll = near_dedup_against_index(
        batch, idx_c, threshold=0.5, collapse_exact=True
    )
    assert sorted(map(tuple, coll.collect())) == sorted(
        map(tuple, plain.collect())
    )


@pytest.mark.parametrize("name", ["q_neardup_index", "q_neardup_index_fp"])
def test_neardup_index_tables_dropped_on_release(spark, sf_dir, name):
    """The index tables these queries write are scratch: once the
    result is materialised, release_caches() drops every one of them,
    catalog entry and warehouse directory."""
    import os
    from urllib.parse import urlparse

    from breweries_data_pipeline_spark.queries import REGISTRY, release_caches

    REGISTRY[name][0](spark, sf_dir).write.format("noop").mode("overwrite").save()
    tables = [f"t_{name}_{t}" for t in ("prefix", "sets", "freq", "meta")]
    assert all(spark.catalog.tableExists(t) for t in tables)
    release_caches()
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    assert not [t for t in tables if spark.catalog.tableExists(t)]
    assert not [t for t in tables if os.path.exists(os.path.join(warehouse, t))]
