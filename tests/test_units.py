"""Unit tests for the non-oracle surface: REST source retry/backoff,
distributed fetch, schema compiler error paths, quality rule policy,
sink atomicity, and the min-id dedup operator (SURVEY.md §5 — the
reference's own unit-test level, applied to our engine modules)."""

from __future__ import annotations

import json
import os

import pytest

from breweries_data_pipeline_spark.operators.clean import (
    deduplicate,
    min_id_groups,
)
from breweries_data_pipeline_spark.operators.quality import rules_dataframe
from breweries_data_pipeline_spark.schema import build_struct_type, parse_type
from breweries_data_pipeline_spark.sources.rest_api import (
    RetryableFetchError,
    fetch_all,
    fetch_distributed,
)
from breweries_data_pipeline_spark.sources.writers import (
    write_parquet,
    write_quality_report,
)

# ---------------------------------------------------------------- rest_api


class FlakyAPI:
    """Stub transport: 3 pages of data, programmable failures."""

    def __init__(self, fail_times: int = 0, retry_after: float | None = None):
        self.calls = []
        self.fail_times = fail_times
        self.retry_after = retry_after

    def __call__(self, page: int, per_page: int):
        self.calls.append(page)
        if self.fail_times > 0:
            self.fail_times -= 1
            raise RetryableFetchError("HTTP 503", retry_after=self.retry_after)
        if page > 3:
            return []
        return [{"id": f"p{page}r{i}", "n": page * 10 + i} for i in range(per_page)]


def test_fetch_all_pages_until_empty():
    api = FlakyAPI()
    records = fetch_all(api, per_page=2, sleep=lambda s: None)
    assert len(records) == 6
    assert api.calls == [1, 2, 3, 4]  # stops on first empty page


def test_fetch_all_retries_with_exponential_backoff():
    api = FlakyAPI(fail_times=2)
    sleeps: list[float] = []
    records = fetch_all(api, per_page=1, backoff=2.0, sleep=sleeps.append)
    assert len(records) == 3
    assert sleeps == [2.0, 4.0]  # backoff * 2**attempt


def test_fetch_all_honours_429_retry_after():
    api = FlakyAPI(fail_times=1, retry_after=7.5)
    sleeps: list[float] = []
    fetch_all(api, per_page=1, sleep=sleeps.append)
    assert sleeps == [7.5]


def test_fetch_all_raises_after_exhausted_retries():
    api = FlakyAPI(fail_times=99)
    with pytest.raises(RuntimeError, match="failed after 3 retries"):
        fetch_all(api, per_page=1, retries=3, sleep=lambda s: None)


def test_fetch_all_max_pages():
    api = FlakyAPI()
    records = fetch_all(api, per_page=2, max_pages=2, sleep=lambda s: None)
    assert len(records) == 4


def test_fetch_distributed_pulls_all_pages(spark):
    # defined inside the test: cloudpickle then ships it by value, so
    # executors don't need the tests/ dir on their import path
    def page_fn(page: int, per_page: int):
        if page > 4:
            return []
        return [{"id": f"p{page}r{i}", "v": i} for i in range(per_page)]

    df = fetch_distributed(spark, page_fn, n_pages=4, per_page=3)
    rows = df.collect()
    assert len(rows) == 12
    parsed = {json.loads(r.json)["id"] for r in rows}
    assert parsed == {f"p{p}r{i}" for p in range(1, 5) for i in range(3)}


# ---------------------------------------------------------------- session


def test_get_spark_sizes_local_session_from_host_cores(monkeypatch):
    """Without SPARK_GRAFT_CPUS the local master and the shuffle
    partition count follow the host's core count, and only a local
    master raises the partition-discovery threshold. The builder is a
    recording fake, so no JVM starts."""
    import types

    from breweries_data_pipeline_spark import session

    class Builder:
        def __init__(self):
            self.conf, self.master_ = {}, None

        def appName(self, name):
            return self

        def config(self, key, value):
            self.conf[key] = value
            return self

        def master(self, master):
            self.master_ = master
            return self

        def getOrCreate(self):
            return self

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    monkeypatch.setattr(session.os, "cpu_count", lambda: 3)
    monkeypatch.setattr(
        session, "SparkSession", types.SimpleNamespace(builder=Builder())
    )
    built = session.get_spark("t")
    assert built.master_ == "local[3]"
    assert built.conf["spark.sql.shuffle.partitions"] == "3"

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    monkeypatch.setattr(
        session, "SparkSession", types.SimpleNamespace(builder=Builder())
    )
    built = session.get_spark("t")
    assert built.master_ == "local[5]"
    assert built.conf["spark.sql.shuffle.partitions"] == "5"
    # a local session lists partition directories on the driver; a
    # cluster session keeps Spark's parallel-listing threshold
    discovery = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    assert built.conf[discovery] == str(2**31 - 1)
    monkeypatch.setattr(
        session, "SparkSession", types.SimpleNamespace(builder=Builder())
    )
    built = session.get_spark("t", master="spark://head:7077")
    assert discovery not in built.conf


# ---------------------------------------------------------------- schema


def test_parse_type_nullable_hint_and_compound():
    assert parse_type("double?")[1] is True
    assert parse_type("string")[1] is False
    assert parse_type("array<float>")[0].simpleString() == "array<float>"
    assert parse_type("decimal(18,6)")[0].simpleString() == "decimal(18,6)"


def test_parse_type_unknown_raises():
    with pytest.raises(ValueError, match="unknown type"):
        parse_type("strng")


def test_build_struct_type_nullability():
    st = build_struct_type(
        [
            {"name": "id", "type": "string", "nullable": False},
            {"name": "lat", "type": "double?", "nullable": False},
        ]
    )
    assert not st["id"].nullable
    assert st["lat"].nullable  # '?' hint wins over the record flag


# ---------------------------------------------------------------- quality


def test_quality_unknown_rule_raises(spark):
    df = spark.createDataFrame([(1,)], ["x"])
    with pytest.raises(ValueError, match="unknown quality rule"):
        rules_dataframe(df, [{"rule": "not_nul", "column": "x"}]).collect()


def test_quality_rule_matrix_single_pass(spark):
    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, None, -1.0), (2, "b", 0.0), (3, "zz", None)],
        ["id", "s", "v"],
    )
    report = {
        (r["rule"], r["column"]): r
        for r in (
            row.asDict()
            for row in rules_dataframe(
                df,
                [
                    {"rule": "not_null", "column": "s"},
                    {"rule": "greater_than_zero", "column": "v"},
                    {"rule": "in_set", "column": "s", "values": ["a", "b"]},
                    {"rule": "unique", "column": "id"},
                ],
            ).collect()
        )
    }
    assert report[("not_null", "s")]["invalid_count"] == 1
    assert report[("greater_than_zero", "v")]["invalid_count"] == 2  # -1 and 0; null passes
    assert report[("in_set", "s")]["invalid_count"] == 2  # null + "zz"
    assert report[("unique", "id")]["invalid_count"] == 1
    assert report[("unique", "id")]["passed"] is False


# ---------------------------------------------------------------- writers


def test_write_quality_report_atomic(tmp_path):
    path = str(tmp_path / "report" / "gold.json")
    out = write_quality_report([{"rule": "r", "passed": True}], path)
    assert out == path
    assert not os.path.exists(path + ".tmp")
    with open(path) as f:
        assert json.load(f)[0]["rule"] == "r"


def test_write_parquet_partitioned_layout(spark, tmp_path):
    df = spark.createDataFrame([("tx", 1), ("or", 2)], ["state", "v"])
    write_parquet(df, str(tmp_path / "t"), partition_by=["state"])
    dirs = sorted(d for d in os.listdir(tmp_path / "t") if d.startswith("state="))
    assert dirs == ["state=or", "state=tx"]
    back = spark.read.parquet(str(tmp_path / "t"))
    assert {(r.state, r.v) for r in back.collect()} == {("tx", 1), ("or", 2)}


# ---------------------------------------------------------------- min-id dedup


def test_min_id_groups_matches_window_on_skew(spark):
    # 90%-one-key skew fixture
    rows = [("hot", i, f"v{i}") for i in range(900)]
    rows += [(f"k{i}", i, f"v{i}") for i in range(100)]
    df = spark.createDataFrame(rows, ["k", "ord", "v"])
    groups = min_id_groups(df, ["k"], "ord")
    # ord repeats across keys here, so the rows re-attach on (k, ord)
    kept = df.join(groups.select("k", "ord"), ["k", "ord"], "semi")
    plain = deduplicate(df, ["k"], order_by=["ord"])
    assert sorted(map(tuple, kept.collect())) == sorted(map(tuple, plain.collect()))
    assert groups.count() == 101
    assert groups.agg({"w": "sum"}).first()[0] == len(rows)
    # map-side combined: a partial aggregate below the exchange, and
    # no window that would send all 900 hot rows to one partition
    plan = groups._jdf.queryExecution().executedPlan().toString()
    assert "partial_min(ord" in plan and "HashAggregate" in plan
    assert "Window" not in plan


def test_approx_percentile_within_rank_error(spark, sf_dir):
    """percentile_approx(accuracy=A) guarantees rank error <= n/A:
    the returned value's TRUE rank must lie within [q*n - n/A, q*n + n/A]."""
    from breweries_data_pipeline_spark.sources import read_table
    from pyspark.sql import functions as F

    o = read_table(spark, sf_dir, "orders").select("o_totalprice")
    vals = sorted(r.o_totalprice for r in o.collect())
    n = len(vals)
    acc = 10000
    approx = o.agg(
        F.percentile_approx("o_totalprice", [0.5, 0.9, 0.99], acc).alias("p")
    ).collect()[0].p
    import bisect

    for q, a in zip([0.5, 0.9, 0.99], approx):
        lo = bisect.bisect_left(vals, a)
        hi = bisect.bisect_right(vals, a)
        target = q * n
        slack = n / acc + 1
        assert lo - slack <= target <= hi + slack, (q, a, lo, hi, target)


def test_freq_items_superset_guarantee(spark, sf_dir):
    """freqItems(support=s) must return EVERY value with relative
    frequency > s (false positives allowed, false negatives not)."""
    from breweries_data_pipeline_spark.queries import q_freq_items
    from breweries_data_pipeline_spark.sources import read_table
    from pyspark.sql import functions as F

    got = {r.candidate_hot_value for r in q_freq_items(spark, sf_dir).collect()}
    ev = read_table(spark, sf_dir, "events")
    n = ev.count()
    truly_hot = {
        r.event_type
        for r in ev.groupBy("event_type").count().collect()
        if r["count"] / n > 0.1
    }
    assert truly_hot <= got, (truly_hot, got)
    assert len(truly_hot) > 0


def test_hll_rollup_error_bound(spark, sf_dir):
    """HLL estimates (default lgK=12) are within ~2% standard error;
    assert 5% against exact distincts, per group AND for the unioned
    global sketch."""
    from breweries_data_pipeline_spark.queries import q_hll_rollup
    from breweries_data_pipeline_spark.sources import read_table
    from pyspark.sql import functions as F

    got = {r.o_orderstatus: r.approx_customers for r in q_hll_rollup(spark, sf_dir).collect()}
    o = read_table(spark, sf_dir, "orders")
    exact = {
        r.o_orderstatus: r.d
        for r in o.groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("d"))
        .collect()
    }
    exact["ALL"] = o.select("o_custkey").distinct().count()
    for k, e in exact.items():
        assert abs(got[k] - e) / e < 0.05, (k, got[k], e)


def test_mode_agg_all_null_group_returns_null(spark):
    from breweries_data_pipeline_spark.operators.aggregate import (
        mode_agg,
        mode_agg_grouped,
    )

    df = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("a", "y"), ("b", None), ("b", None),
         ("c", "q"), ("c", "p"), ("c", None)],  # c: tie -> lexicographic "p"
        ["k", "v"],
    )
    for impl in (mode_agg, mode_agg_grouped):
        out = {r.k: r.mode for r in impl(df, ["k"], "v", out="mode").collect()}
        assert out == {"a": "x", "b": None, "c": "p"}, impl.__name__


def test_salted_join_rejects_replication_breaking_how(spark):
    import pytest
    from breweries_data_pipeline_spark.operators.joins import salted_join

    left = spark.createDataFrame([(1, "l")], ["k", "lv"])
    right = spark.createDataFrame([(1, "r")], ["k", "rv"])
    for how in ("right", "full", "left_semi", "left_anti"):
        with pytest.raises(ValueError):
            salted_join(left, right, "k", salt_from=["lv"], how=how)
    assert salted_join(left, right, "k", salt_from=["lv"], how="inner").count() == 1


def test_asof_forward_window_plan_on_hot_key(spark):
    """SCALE.md's as-of claim, executed: on a 90%-one-key timeline the
    forward as-of's only wide op is a hash exchange on the key (AQE
    can split a skewed partition), with no pandas task that would pin
    the hot key to one executor. Its rows are checked against a
    model in tests/test_properties.py."""
    from pyspark.sql import functions as F
    from breweries_data_pipeline_spark.operators.temporal import as_of_join_forward

    n = 20000
    base = spark.range(n).select(
        "id",
        # 90% of rows land on user 0; the rest spread over 100 users
        F.when(F.col("id") % 10 < 9, 0)
        .otherwise((F.col("id") % 100) + 1)
        .alias("user_id"),
        F.timestamp_micros(F.col("id") * 1_000_000).alias("ts"),
    )
    clicks = base.filter(F.col("id") % 2 == 0).select("user_id", "ts")
    buys = base.filter(F.col("id") % 2 == 1).select("user_id", "ts").distinct()

    w = as_of_join_forward(clicks, buys, "user_id", "ts", "ts", suffix="_next")
    wplan = w._jdf.queryExecution().executedPlan().toString()
    assert "InPandas" not in wplan and "hashpartitioning(user_id" in wplan


def test_asof_forward_carries_value_columns(spark):
    from pyspark.sql import functions as F
    from breweries_data_pipeline_spark.operators.temporal import as_of_join_forward

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 25, "b"), (2, 5, "c")], ["k", "t", "payload"]
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 30, 300.0), (2, 1, 10.0)], ["k", "t", "price"]
    )
    out = {
        (r.k, r.t): (r.t_next, r.price_next, r.payload)
        for r in as_of_join_forward(
            left, right, "k", "t", "t", ["price"], suffix="_next"
        ).collect()
    }
    # exact-timestamp match is inclusive; left extras survive; no
    # following right row -> nulls
    assert out[(1, 10)] == (10, 100.0, "a")
    assert out[(1, 25)] == (30, 300.0, "b")
    assert out[(2, 5)] == (None, None, "c")


def test_split_assign_fractions_and_stability(spark):
    from pyspark.sql import functions as F
    from breweries_data_pipeline_spark.operators.corpus import split_assign

    df = spark.range(20000).withColumnRenamed("id", "doc_id")
    counts = {
        r.split: r.n
        for r in split_assign(df).groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert abs(counts["train"] / 20000 - 0.90) < 0.02
    assert abs(counts["val"] / 20000 - 0.05) < 0.01
    assert abs(counts["test"] / 20000 - 0.05) < 0.01
    # leakage safety: membership is a pure function of the id — a
    # grown corpus never reassigns an existing doc
    small = {r.doc_id: r.split for r in split_assign(
        spark.range(1000).withColumnRenamed("id", "doc_id")).collect()}
    big = {r.doc_id: r.split for r in split_assign(df).filter(F.col("doc_id") < 1000).collect()}
    assert small == big


def test_shuffle_shards_is_a_permutation(spark):
    from pyspark.sql import functions as F
    from breweries_data_pipeline_spark.operators.corpus import shuffle_shards

    df = spark.range(5000).withColumnRenamed("id", "doc_id")
    out = shuffle_shards(df, n_shards=8)
    rows = out.select("doc_id", "shard", "pos").collect()
    # every doc appears once; (shard, pos) is a bijection with pos
    # contiguous from 1 per shard
    assert len(rows) == 5000 and len({r.doc_id for r in rows}) == 5000
    assert len({(r.shard, r.pos) for r in rows}) == 5000
    from collections import defaultdict
    per = defaultdict(list)
    for r in rows:
        per[r.shard].append(r.pos)
    for shard, ps in per.items():
        assert sorted(ps) == list(range(1, len(ps) + 1))


def test_decontaminate_removes_verbatim_leak(spark):
    from breweries_data_pipeline_spark.operators.corpus import decontaminate

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    train = spark.createDataFrame(
        [
            (1, "prefix words then alpha beta gamma delta epsilon copied here"),
            (2, "completely unrelated clean document with many words"),
        ],
        ["doc_id", "text"],
    )
    kept = [r.doc_id for r in decontaminate(train, bench, n=5).collect()]
    assert kept == [2]


def test_range_join_bucketed_matches_plain(spark):
    """The coarse-bucket range join is result-identical to the plain
    key-equality form on the marks/events band shape (and cheaper per
    hot key: each left row meets ~2 buckets, not the key's whole
    timeline)."""
    from pyspark.sql import functions as F
    from breweries_data_pipeline_spark.operators.temporal import (
        range_join,
        range_join_bucketed,
    )
    from breweries_data_pipeline_spark.sources import read_table

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    events = read_table(spark, sf_dir, "events").select("user_id", "ts")
    marks = events.select(
        "user_id",
        (F.date_trunc("hour", F.col("ts")) + F.expr("INTERVAL 30 MINUTES")).alias("m_ts"),
    ).distinct()
    plain = range_join(
        marks, events, "user_id", "ts",
        lower=F.col("m_ts") - F.expr("INTERVAL 30 MINUTES"), upper=F.col("m_ts"),
    ).select("user_id", "m_ts", "ts")
    bucketed = range_join_bucketed(
        marks, events, "user_id", "m_ts", "ts", band="30 MINUTES"
    ).select("user_id", "m_ts", "ts")
    assert sorted(map(tuple, bucketed.collect())) == sorted(map(tuple, plain.collect()))


def test_write_audit_publish_gates_and_preserves(spark, sf_dir, tmp_path):
    """WAP: a passing audit publishes atomically; a failing audit
    raises and leaves the previously published data untouched."""
    import pytest as _pytest

    from breweries_data_pipeline_spark.sources import read_table
    from breweries_data_pipeline_spark.sources.writers import (
        AuditFailure,
        write_audit_publish,
    )

    path = str(tmp_path / "published")
    good = read_table(spark, sf_dir, "nation")
    rules = [{"rule": "not_null", "column": "n_name"}]
    results = write_audit_publish(good, rules, path)
    assert all(r["passed"] for r in results)
    n_good = spark.read.parquet(path).count()
    assert n_good == good.count()

    # second run violates the rule -> must raise AND keep version 1
    from pyspark.sql import functions as F

    bad = good.withColumn(
        "n_name", F.when(F.col("n_nationkey") == 0, None).otherwise(F.col("n_name"))
    )
    with _pytest.raises(AuditFailure) as exc:
        write_audit_publish(bad, rules, path, report_path=str(tmp_path / "report.json"))
    assert any(not r["passed"] for r in exc.value.results)
    assert spark.read.parquet(path).count() == n_good
    assert spark.read.parquet(path).where("n_name IS NULL").count() == 0


def test_write_audit_publish_restores_backup_on_failed_publish(
    spark, sf_dir, tmp_path, monkeypatch
):
    """If the tmp->path rename dies mid-publish, the previously
    published data must be restored from the backup, not stranded at
    the .bak path (ADVICE r5)."""
    import os as _os

    import pytest as _pytest

    from breweries_data_pipeline_spark.sources import read_table
    from breweries_data_pipeline_spark.sources import writers as W

    path = str(tmp_path / "published")
    good = read_table(spark, sf_dir, "nation")
    rules = [{"rule": "not_null", "column": "n_name"}]
    W.write_audit_publish(good, rules, path)
    n_v1 = spark.read.parquet(path).count()

    real_rename = _os.rename

    def failing_rename(srcp, dstp):
        if dstp == path and srcp.endswith(".staging"):
            raise OSError("injected: publish rename failed")
        return real_rename(srcp, dstp)

    monkeypatch.setattr(W.os, "rename", failing_rename)
    with _pytest.raises(OSError, match="injected"):
        W.write_audit_publish(good, rules, path)
    monkeypatch.undo()
    # v1 is back at the published path, no .bak stranded
    assert spark.read.parquet(path).count() == n_v1
    assert not [p for p in _os.listdir(tmp_path) if ".bak" in p]


def test_normalize_to_domain_exact_on_wide_domains(spark):
    """The affine map must floor-divide EXACTLY even when
    (value - lo) * mask overflows both double precision (2^53) and a
    signed long — the epoch-microsecond case (ADVICE r5)."""
    from pyspark.sql import functions as F

    from breweries_data_pipeline_spark.functions.zorder import (
        morton_key,
        normalize_to_domain,
        normalize_to_domain_sql,
    )

    lo, hi = 0, 3_155_760_000_000_000  # ~a century in micros
    vals = [0, 1, 12_345_678_901_234, hi // 3, hi - 1, hi]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = [
        r[0]
        for r in df.select(normalize_to_domain("v", lo, hi, 16).alias("n"))
        .orderBy("n")
        .collect()
    ]
    exact = sorted((v - lo) * 65535 // (hi - lo) for v in vals)
    assert got == exact

    import duckdb

    sql = normalize_to_domain_sql("v", lo, hi, 16)
    duck = sorted(
        r[0]
        for r in duckdb.sql(
            f"select {sql} from (select unnest({vals}) as v)"
        ).fetchall()
    )
    assert duck == exact

    # bits guard: 2*bits > 62 would shift into the sign bit
    import pytest as _pytest

    for bad_bits in (0, 32, 63):
        with _pytest.raises(ValueError):
            morton_key("a", "b", bits=bad_bits)
        with _pytest.raises(ValueError):
            normalize_to_domain("v", 0, 10, bits=bad_bits)


def test_pagerank_input_validation(spark):
    """Empty node tables and colliding/duplicate column names must
    fail fast with a clear error, not ZeroDivisionError or silent
    mis-resolution (ADVICE r5)."""
    import pytest as _pytest

    from breweries_data_pipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    empty = spark.createDataFrame([], "node long")
    with _pytest.raises(ValueError, match="non-empty"):
        pagerank(edges, empty)
    nodes = spark.createDataFrame([(1,), (2,)], "node long")
    with _pytest.raises(ValueError, match="distinct"):
        pagerank(edges, nodes, node_col="src")
    with _pytest.raises(ValueError, match="collide"):
        pagerank(
            edges.withColumnRenamed("src", "rank"),
            nodes.withColumnRenamed("node", "rank"),
            node_col="rank",
            src="rank2",
            dst="dst",
        )


def test_bloom_prune_join_matches_plain_and_prunes(spark):
    """bloom_prune_join must be result-identical to the plain join,
    and its prefilter must actually drop probe rows that have no
    match (the whole point: fewer rows reach the join exchange).
    False-positive rate is bounded by the bitmap sizing; with m=2^17
    bits, k=5 and a few hundred keys it is effectively zero here, so
    the prefilter should keep only matching rows (plus at most a
    handful of false positives)."""
    from pyspark.sql import functions as F

    from breweries_data_pipeline_spark.operators.joins import bloom_prune_join

    fact = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    dim = spark.range(0, 10000, 100).select(F.col("id").alias("k"))  # 100 keys

    out = bloom_prune_join(fact, dim, "k")
    plain = fact.join(dim, "k")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, plain.collect()))

    # measure the prefilter alone: rebuild it by stopping before the
    # exact join (same internals the operator uses)
    pruned = bloom_prune_join(fact, dim.limit(100), "k", how="left_semi")
    n_kept = pruned.count()
    assert n_kept == 100  # every dim key matches exactly one fact row

    with pytest.raises(ValueError):
        bloom_prune_join(fact, dim, "k", how="full_outer")


def test_bloom_prune_prefilter_selectivity(spark):
    """The Bloom prefilter's false-positive rate stays near the
    analytic bound: with n keys hashed into m bits by k functions,
    fpp ~= (1 - e^{-kn/m})^k. For n=100, m=2^17, k=5 that is ~1e-12,
    so of 9900 non-matching probe keys, essentially none may pass."""
    from pyspark.sql import functions as F

    from breweries_data_pipeline_spark.operators.joins import bloom_prune_join

    fact = spark.range(0, 10000).select(F.col("id").alias("k"))
    dim = spark.range(0, 100).select(F.col("id").alias("k"))
    # inner join result == semi here (keys unique both sides); the
    # assertion that catches a broken prefilter is the equality test —
    # a filter that dropped true matches would lose rows, one that
    # never pruned would still pass — so ALSO check the pruned
    # intermediate row count via the operator's semi form
    semi = bloom_prune_join(fact, dim, "k", how="left_semi")
    assert semi.count() == 100


def test_prefix_filtered_similarity_join_complete_on_frequent_overlap(spark):
    """Adversarial completeness check for the AllPairs prefix filter:
    the planted near-dup pair overlaps ONLY in shingles that are
    frequent corpus-wide (the worst case for a rarest-first prefix —
    their shared tokens sort LAST), yet the lemma still guarantees the
    pair survives. Reference = brute-force all-pairs Jaccard."""
    from pyspark.sql import functions as F

    from breweries_data_pipeline_spark.functions.text import shingles
    from breweries_data_pipeline_spark.operators.dedup import (
        prefix_filtered_similarity_join,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(1, base), (2, base + " extra tail")]
    # flood the corpus with docs reusing the SAME shingles so none of
    # the pair's tokens is rare
    rows += [(10 + i, base) for i in range(8)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    got = {
        (r.id_a, r.id_b): r.jaccard_ppm
        for r in prefix_filtered_similarity_join(docs, threshold=0.5).collect()
    }

    sets = docs.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(shingles("text", 3)).alias("s"),
    )
    brute = (
        sets.alias("a")
        .crossJoin(sets.alias("b"))
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.expr(
                "(cast(size(array_intersect(a.s, b.s)) as bigint) * 1000000) div "
                "(cast(size(a.s) as bigint) + cast(size(b.s) as bigint) "
                " - cast(size(array_intersect(a.s, b.s)) as bigint))"
            ).alias("jaccard_ppm"),
        )
        .where(F.col("jaccard_ppm") >= 500000)
    )
    want = {(r.id_a, r.id_b): r.jaccard_ppm for r in brute.collect()}
    assert got == want
    assert (1, 2) in got  # the planted frequent-overlap pair survived


class TestBenchRecheck:
    """The bench's soak self-audit (_recheck_outliers) — pure harness
    logic, tested without Spark by stubbing the subprocess."""

    def _bench(self):
        import importlib.util
        import os

        spec = importlib.util.spec_from_file_location(
            "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    def test_skips_ratios_at_or_below_10x(self, monkeypatch):
        bench = self._bench()
        calls = []

        def _no_spawn(*a, **k):  # any spawn would be a budget leak
            calls.append(a)
            raise AssertionError("subprocess must not run for <=10x ratios")

        import subprocess

        monkeypatch.setattr(subprocess, "run", _no_spawn)
        out = bench._recheck_outliers("/tmp", {"q_a": 9.9, "q_b": 10.0})
        assert out == {} and calls == []

    def test_records_audit_pair_for_outlier(self, monkeypatch):
        bench = self._bench()

        class _R:
            returncode = 0
            stdout = '{"recheck":"q_hot","sf01":1.5,"sf1":6.0}\n'
            stderr = ""

        import subprocess

        monkeypatch.setattr(subprocess, "run", lambda *a, **k: _R())
        out = bench._recheck_outliers("/tmp", {"q_hot": 22.6})
        assert out["q_hot"]["soak_x"] == 22.6
        assert out["q_hot"]["isolated_x"] == 4.0
        assert out["q_hot"]["sf01_s"] == 1.5 and out["q_hot"]["sf1_s"] == 6.0

    def test_zero_budget_spawns_nothing(self, monkeypatch):
        bench = self._bench()
        import subprocess

        def _boom(*a, **k):
            raise AssertionError("no budget -> no spawn")

        monkeypatch.setattr(subprocess, "run", _boom)
        assert bench._recheck_outliers("/tmp", {"q_hot": 50.0}, budget=-1.0) == {}


class TestBenchScalingEvidence:
    """The bench's $SPARK_GRAFT_CPUS scaling-evidence leg
    (_scaling_evidence, r12 verdict #3) — harness logic tested by
    stubbing the subprocess: the two children must differ ONLY in the
    core-count env var, and failures degrade to omission."""

    def _bench(self):
        import importlib.util
        import os

        spec = importlib.util.spec_from_file_location(
            "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    def test_emits_ratio_with_env_only_delta(self, monkeypatch):
        bench = self._bench()
        import json as _json
        import subprocess

        seen_envs = []

        def _fake_run(cmd, **k):
            seen_envs.append(k["env"]["SPARK_GRAFT_CPUS"])
            qs = {
                q: {"min": (1.0 if k["env"]["SPARK_GRAFT_CPUS"] == "32"
                            else 2.5), "probe": 0.18}
                for q in bench.SCALING_EVIDENCE_QUERIES
            }

            class _R:
                returncode = 0
                stdout = _json.dumps(qs) + "\n"
                stderr = ""

            return _R()

        monkeypatch.setattr(subprocess, "run", _fake_run)
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
        out = bench._scaling_evidence("/tmp/sfX")
        assert seen_envs == ["32", "8"]
        assert out["cpus"] == {"hi": 32, "lo": 8}
        for q in bench.SCALING_EVIDENCE_QUERIES:
            assert out["queries"][q]["x"] == 2.5

    def test_low_core_host_returns_none_without_spawn(self, monkeypatch):
        bench = self._bench()
        import subprocess

        def _boom(*a, **k):
            raise AssertionError("lo >= hi must not spawn")

        monkeypatch.setattr(subprocess, "run", _boom)
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "2")
        assert bench._scaling_evidence("/tmp/sfX") is None

    def test_child_without_json_degrades_to_none(self, monkeypatch):
        bench = self._bench()
        import subprocess

        class _R:
            returncode = 1
            stdout = "boom, no json\n"
            stderr = ""

        monkeypatch.setattr(subprocess, "run", lambda *a, **k: _R())
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
        assert bench._scaling_evidence("/tmp/sfX") is None

    @pytest.mark.parametrize("caller, child", [
        ("24g", "12g"), ("4g", "4g"), ("2048m", "2048m"), (None, "12g"),
    ])
    def test_child_heap_and_shared_budget(self, monkeypatch, caller, child):
        """Each child's heap is the smaller of 12g and the caller's
        SPARK_DRIVER_MEMORY; the second child's timeout is what the
        first one left of the budget."""
        bench = self._bench()
        import json as _json
        import subprocess
        import types

        clock = [1000.0]
        seen = []

        def _fake_run(cmd, **k):
            seen.append((k["env"]["SPARK_DRIVER_MEMORY"], k["timeout"]))
            clock[0] += 100.0  # each child takes 100 s
            qs = {q: {"min": 1.0, "probe": 0.18}
                  for q in bench.SCALING_EVIDENCE_QUERIES}

            class _R:
                returncode = 0
                stdout = _json.dumps(qs) + "\n"
                stderr = ""

            return _R()

        monkeypatch.setattr(subprocess, "run", _fake_run)
        monkeypatch.setattr(bench, "time",
                            types.SimpleNamespace(monotonic=lambda: clock[0]))
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
        if caller is None:
            monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
        else:
            monkeypatch.setenv("SPARK_DRIVER_MEMORY", caller)
        assert bench._scaling_evidence("/tmp/sfX", budget=300.0) is not None
        assert seen == [(child, 300.0), (child, 200.0)]
        # a first child that uses the whole budget leaves none to spawn
        seen.clear()
        assert bench._scaling_evidence("/tmp/sfX", budget=100.0) is None
        assert len(seen) == 1

    def test_mem_bytes(self):
        bench = self._bench()
        assert bench._mem_bytes("12g") == 12 * 1024**3
        assert bench._mem_bytes("512M") == 512 * 1024**2
        assert bench._mem_bytes("1048576") == 1048576


class TestBenchCalibration:
    """r11 self-adjudicating measurements: every SF1_WALLS merge stamps
    the host state (1-min load + latest fixed-cost probe wall), a
    corrupt record file is backed up loudly instead of silently
    overwritten, and update_status flags probe-inflated entries —
    pure harness logic, tested without Spark."""

    def _bench(self):
        import importlib.util
        import os

        spec = importlib.util.spec_from_file_location(
            "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    def _update_status(self):
        import importlib.util
        import os

        spec = importlib.util.spec_from_file_location(
            "update_status",
            os.path.join(
                os.path.dirname(__file__), "..", "tools", "update_status.py"
            ),
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    def test_merge_stamps_load_and_probe(self, tmp_path, monkeypatch):
        bench = self._bench()
        path = str(tmp_path / "walls.json")
        monkeypatch.setenv("SPARK_GRAFT_WALLS_PATH", path)
        bench._PROBE["sec"] = 0.181
        bench._merge_sf1_walls({"q_x": 1.25}, "soak")
        data = json.loads(open(path).read())
        e = data["q_x"]
        assert e["sec"] == 1.25 and e["leg"] == "soak"
        assert e["probe_sec"] == 0.181
        assert isinstance(e["load"], float)
        # newest-wins merge keeps other entries and restamps q_x
        bench._PROBE["sec"] = 0.9
        bench._merge_sf1_walls({"q_y": 2.0}, "rotation")
        data = json.loads(open(path).read())
        assert data["q_x"]["probe_sec"] == 0.181  # untouched
        assert data["q_y"]["probe_sec"] == 0.9

    def test_merge_without_probe_omits_stamp(self, tmp_path, monkeypatch):
        bench = self._bench()
        path = str(tmp_path / "walls.json")
        monkeypatch.setenv("SPARK_GRAFT_WALLS_PATH", path)
        assert bench._PROBE["sec"] is None  # fresh module load
        bench._merge_sf1_walls({"q_x": 1.0}, "bonus")
        e = json.loads(open(path).read())["q_x"]
        assert "probe_sec" not in e and "load" in e

    def test_merge_keeps_min_for_automated_legs(self, tmp_path,
                                                monkeypatch):
        """Walls are upper bounds: a SLOWER soak/rotation/bonus
        re-measurement never replaces a faster recorded wall (r10's
        contended runs overwrote clean r9 walls; this round's soak
        clobbered freshly-refreshed walls within the hour). Only the
        deliberate probe-gated refresh leg replaces in both
        directions."""
        bench = self._bench()
        path = str(tmp_path / "walls.json")
        monkeypatch.setenv("SPARK_GRAFT_WALLS_PATH", path)
        bench._merge_sf1_walls({"q_x": 10.0}, "soak")
        # slower automated wall: kept out
        bench._merge_sf1_walls({"q_x": 25.0}, "bonus")
        assert json.loads(open(path).read())["q_x"]["sec"] == 10.0
        # faster automated wall: tightens the bound
        bench._merge_sf1_walls({"q_x": 7.5}, "rotation")
        assert json.loads(open(path).read())["q_x"]["sec"] == 7.5
        # refresh replaces in BOTH directions (true-regression lane)
        bench._merge_sf1_walls({"q_x": 9.0}, "refresh")
        e = json.loads(open(path).read())["q_x"]
        assert e["sec"] == 9.0 and e["leg"] == "refresh"
        # and automated stays min-gated against the refreshed value
        bench._merge_sf1_walls({"q_x": 30.0}, "soak")
        assert json.loads(open(path).read())["q_x"]["sec"] == 9.0

    def test_missing_walls_file_reads_empty(self, tmp_path, monkeypatch):
        bench = self._bench()
        path = str(tmp_path / "absent.json")
        monkeypatch.setenv("SPARK_GRAFT_WALLS_PATH", path)
        assert bench._load_sf1_walls() == {}
        assert not os.path.exists(path + ".corrupt")

    def test_corrupt_walls_file_backed_up_loudly(self, tmp_path,
                                                 monkeypatch, capsys):
        bench = self._bench()
        path = str(tmp_path / "walls.json")
        monkeypatch.setenv("SPARK_GRAFT_WALLS_PATH", path)
        with open(path, "w") as f:
            f.write('{"q_x": {"sec": 1.0')  # truncated mid-write
        assert bench._load_sf1_walls() == {}
        # the committed record is preserved, not silently clobbered
        assert os.path.exists(path + ".corrupt")
        assert not os.path.exists(path)
        assert "unreadable" in capsys.readouterr().err

    def test_contended_walls_flags_probe_inflated_only(self):
        us = self._update_status()
        walls = {
            "q_clean": {"sec": 5.0, "leg": "soak", "probe_sec": 0.19},
            "q_hot": {"sec": 60.0, "leg": "soak", "probe_sec": 1.4},
            "q_edge": {"sec": 9.0, "leg": "bonus", "probe_sec": 0.577},
            "q_prestamp": {"sec": 3.0, "leg": "rotation"},  # pre-r11
            "q_legacy": 2.0,  # non-dict tolerated
        }
        # threshold = 3 x 0.192 = 0.576: q_hot and q_edge flag
        assert us.contended_walls(walls) == ["q_edge", "q_hot"]
        assert us.contended_walls(walls, factor=5.0) == ["q_hot"]
        assert us.contended_walls(walls, factor=10.0) == []

    def test_update_status_clean_hi_tracks_bench(self):
        """r11 ADVICE: update_status must gate on bench's
        PROBE_CLEAN_SPREAD, not an independent copy that can drift."""
        us = self._update_status()
        bench = self._bench()
        assert us._bench_clean_hi() == bench.PROBE_CLEAN_SPREAD[1]

    def test_headline_legs_best_clean(self):
        """r11 verdict item 7: headline_best_clean = min over legs whose
        own probe certifies an uncontended measurement; fresh-JVM legs
        get the documented ~0.1s first-steady allowance; None when every
        leg self-tags contended."""
        bench = self._bench()
        trace = [{"at": "after_warmup", "probe_sec": 0.185, "load": 1.0},
                 {"at": f"suite:{bench.PROBE_EVERY}", "probe_sec": 0.21,
                  "load": 1.2},
                 {"at": "coverage:10", "probe_sec": 0.9, "load": 9.0}]
        iso = {"value": 4.9, "queries": {},
               "calib": {"probe": [0.2, 0.27], "load": [0.5, 0.8]}}
        legs, best = bench._headline_legs(5.2, trace, iso)
        # main probe max 0.21 <= 0.24 (the late coverage probe is
        # outside the headline bracket); isolated 0.27 <= 0.292
        assert [l["clean"] for l in legs] == [True, True]
        assert best == 4.9
        # contended main (probe 0.5), clean isolated -> isolated wins
        trace[1]["probe_sec"] = 0.5
        legs, best = bench._headline_legs(5.2, trace, iso)
        assert [l["clean"] for l in legs] == [False, True]
        assert best == 4.9
        # both contended -> None, legs still shipped as evidence
        iso["calib"]["probe"] = [0.3, 0.6]
        legs, best = bench._headline_legs(5.2, trace, iso)
        assert best is None and len(legs) == 2
        # isolated leg without calib (old subprocess payload): not clean
        legs, best = bench._headline_legs(
            5.2, [{"at": "after_warmup", "probe_sec": 0.18, "load": 1.0}],
            {"value": 4.9, "queries": {}, "calib": None})
        assert best == 5.2 and legs[1]["clean"] is False
        # headline-only session: the main leg is itself a fresh JVM,
        # so it gets the fresh-JVM allowance (0.27 > mid-suite 0.24
        # but within 0.292)
        legs, best = bench._headline_legs(
            5.2, [{"at": "after_warmup", "probe_sec": 0.27, "load": 1.0}],
            None, fresh_jvm_main=True)
        assert legs[0]["clean"] is True and best == 5.2
        legs, best = bench._headline_legs(
            5.2, [{"at": "after_warmup", "probe_sec": 0.27, "load": 1.0}],
            None)
        assert legs[0]["clean"] is False and best is None

    def test_calib_load_filters_sentinel(self):
        """r11 ADVICE: the -1.0 getloadavg-unavailable sentinel must not
        surface as a fake minimum load in the shipped calib summary."""
        bench = self._bench()
        trace = [{"at": "a", "probe_sec": 0.2, "load": -1.0},
                 {"at": "b", "probe_sec": 0.25, "load": 2.0}]
        assert bench._calib_summary(trace) == {
            "probe": [0.2, 0.25], "load": [2.0, 2.0],
            "clean": list(bench.PROBE_CLEAN_SPREAD)}
        trace = [{"at": "a", "probe_sec": 0.2, "load": -1.0}]
        assert bench._calib_summary(trace)["load"] is None


def test_soak_suite_budget_never_starves_rotation(spark, sf_dir, tmp_path,
                                                  monkeypatch):
    """r11 per-leg soak budget: the r10 driver run lost its ENTIRE
    rotation (49/49 skipped_over_budget) because the suite leg ate the
    whole pressure-shrunk budget. The split caps the suite at
    SPARK_GRAFT_SOAK_SUITE_FRAC of the budget; rotation and bonus keep
    the full window. Exercised against _run_soak itself with a stub
    registry of sleeping queries — suite query 3 lands past the suite
    deadline and is shed, while the rotation + bonus queries (later in
    the execution order, but gated on the FULL budget) still run."""
    import importlib.util
    import time as _time

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    def _q(_spark, _sd):
        _time.sleep(2.4)
        return spark.range(1)

    monkeypatch.setitem(bench.__dict__, "REGISTRY",
                        {n: (_q, None) for n in
                         ("s1", "s2", "s3", "r1", "b1")})
    monkeypatch.setattr(bench, "_soak_order", lambda: ["s1", "s2", "s3"])
    monkeypatch.setattr(bench, "_rotation_cohort",
                        lambda: (0, ["r1"], ["b1"]))
    monkeypatch.setattr(bench, "_flush_details", lambda payload: None)
    monkeypatch.setattr(bench, "_jvm_gc", lambda s: None)
    monkeypatch.setenv("SPARK_GRAFT_WALLS_PATH",
                       str(tmp_path / "walls.json"))
    # suite deadline = 0.02 * 200 = 4.0s sits between s2's start
    # (~2.4s + overhead; 1.6s of tolerance for a pressured host) and
    # s3's (~4.8s minimum): s1 and s2 run, s3 is shed; rotation/bonus
    # gate on the full 200s
    monkeypatch.setenv("SPARK_GRAFT_SOAK_SUITE_FRAC", "0.02")
    monkeypatch.setenv("SPARK_GRAFT_SOAK_RECYCLE", "0")

    class _NoStop:
        """_run_soak stops its session on exit; the fixture session
        must survive this test."""

        def __init__(self, inner):
            self._inner = inner

        def __getattr__(self, name):
            return getattr(self._inner, name)

        def stop(self):
            pass

    out = bench._run_soak(_NoStop(spark), sf_dir, 200.0)
    assert set(out["soak_queries"]) == {"s1", "s2"}
    assert out["skipped"] == 1  # s3 shed by the suite sub-budget
    assert set(out["rotation_queries"]) == {"r1"}
    assert out["rotation_skipped"] == 0
    assert set(out["rotation_bonus_queries"]) == {"b1"}
    assert out["rotation_bonus_skipped"] == 0
    # every measured wall landed in the cumulative record with a leg
    walls = json.loads(open(str(tmp_path / "walls.json")).read())
    assert walls["r1"]["leg"] == "rotation"
    assert walls["b1"]["leg"] == "bonus"
    assert "s3" not in walls


def test_winnowing_kernel_matches_hof_spec(spark, sf_dir):
    """q_winnowing's Arrow integer kernel (winnow_stats_udf) must be
    BIT-IDENTICAL to the HOF reference spec (kgram_hashes +
    winnow_positions) — integer arithmetic has no evaluation-order
    freedom, so any divergence is a real bug (tie rule, window
    indexing, Horner step). Run over a real corpus sample plus edge
    shapes: minimum-length text (one window), all-same chars (every
    window ties -> rightmost rule on every selection)."""
    import pyspark.sql.functions as F

    from breweries_data_pipeline_spark.functions.text import (
        kgram_hashes,
        winnow_positions,
        winnow_stats_udf,
    )
    from breweries_data_pipeline_spark.sources import read_table

    sample = (
        read_table(spark, sf_dir, "documents")
        .where(F.length("text") >= 8)
        .limit(20)
        .select("doc_id", "text")
    )
    edge = spark.createDataFrame(
        [(100001, "abcdefgh"),      # exactly one window
         (100002, "aaaaaaaaaaaa"),  # all ties, rightmost rule
         (100003, "abababababab")], # periodic: repeated selections
        "doc_id long, text string",
    )
    docs = sample.unionByName(edge)

    kernel = {
        r["doc_id"]: (r["n_kgrams"], r["n_selected"], r["fp_sum"],
                      r["fp_min"], r["fp_max"])
        for r in docs.select(
            "doc_id", winnow_stats_udf(k=5, w=4)(F.col("text")).alias("s")
        ).select("doc_id", "s.*").collect()
    }
    h = docs.select("doc_id", kgram_hashes("text", k=5).alias("hs"))
    h = h.select("doc_id", "hs", winnow_positions("hs", w=4).alias("pos"))
    fps = F.transform(
        F.col("pos"), lambda p: F.element_at("hs", p.cast("int"))
    )
    hof = {
        r["doc_id"]: (r["a"], r["b"], r["c"], r["d"], r["e"])
        for r in h.select(
            "doc_id",
            F.size("hs").cast("long").alias("a"),
            F.size("pos").cast("long").alias("b"),
            F.aggregate(fps, F.lit(0).cast("long"),
                        lambda acc, x: acc + x).alias("c"),
            F.array_min(fps).alias("d"),
            F.array_max(fps).alias("e"),
        ).collect()
    }
    assert kernel == hof
    # winnowing density guarantee: every window yields a selection,
    # so n_selected >= ceil(n_windows / w) and every doc selects >= 1
    for n_kgrams, n_selected, *_ in kernel.values():
        n_windows = n_kgrams - 4 + 1
        assert n_selected >= (n_windows + 3) // 4 >= 1


def test_winnow_fingerprints_kernel_matches_hof_spec(spark, sf_dir):
    """q_winnow_dedup's fingerprint-SET kernel (winnow_fingerprints_udf
    at the dedup k=20/w=8) must return exactly the distinct selected
    hash values the HOF spec selects, ascending — same bit-identical
    contract as the stats kernel."""
    import pyspark.sql.functions as F

    from breweries_data_pipeline_spark.functions.text import (
        kgram_hashes,
        winnow_fingerprints_udf,
        winnow_positions,
    )
    from breweries_data_pipeline_spark.sources import read_table

    k, w = 20, 8
    sample = (
        read_table(spark, sf_dir, "documents")
        .where(F.length("text") >= k + w - 1)
        .limit(20)
        .select("doc_id", "text")
    )
    edge = spark.createDataFrame(
        [(100001, "a" * (k + w - 1)),            # one window, all ties
         (100002, "ab" * ((k + w) // 2 + 3))],   # periodic
        "doc_id long, text string",
    )
    docs = sample.unionByName(edge)
    kernel = {
        r["doc_id"]: r["fps"]
        for r in docs.select(
            "doc_id",
            winnow_fingerprints_udf(k=k, w=w)(F.col("text")).alias("fps"),
        ).collect()
    }
    h = docs.select("doc_id", kgram_hashes("text", k=k).alias("hs"))
    h = h.select("doc_id", "hs", winnow_positions("hs", w=w).alias("pos"))
    fps = F.array_sort(F.array_distinct(F.transform(
        F.col("pos"), lambda p: F.element_at("hs", p.cast("int"))
    )))
    hof = {r["doc_id"]: r["fps"]
           for r in h.select("doc_id", fps.alias("fps")).collect()}
    assert kernel == hof
    assert all(len(v) >= 1 for v in kernel.values())


def test_cdc_kernel_matches_spec_and_is_shift_robust(spark, sf_dir):
    """q_cdc_chunk_dedup's masked-Horner batch kernel must emit exactly
    the spec's chunk fingerprints (cdc_chunk_fps — readable pure-Python
    LBFS reference), in order, over a real corpus sample plus edge
    shapes; and content-defined boundaries must be offset-robust: a
    one-char PREPEND leaves every chunk but the first intact (the
    property fixed-size chunking lacks, and the reason this operator
    exists)."""
    import pyspark.sql.functions as F

    from breweries_data_pipeline_spark.functions.text import (
        cdc_chunk_fps,
        cdc_chunk_fps_udf,
    )
    from breweries_data_pipeline_spark.sources import read_table

    sample = (
        read_table(spark, sf_dir, "documents")
        .limit(30)
        .select("doc_id", "text")
    )
    edge = spark.createDataFrame(
        [(100001, ""),               # no chunks
         (100002, "a"),              # shorter than the window: 1 chunk
         (100003, "a" * 15),         # exactly window-1
         (100004, "ab" * 200)],      # periodic long doc
        "doc_id long, text string",
    )
    docs = sample.unionByName(edge)
    kernel = {
        r["doc_id"]: list(r["f"])
        for r in docs.select(
            "doc_id", cdc_chunk_fps_udf()(F.col("text")).alias("f")
        ).collect()
    }
    spec = {
        r["doc_id"]: cdc_chunk_fps(r["text"])
        for r in docs.collect()
    }
    assert kernel == spec
    assert kernel[100001] == []
    assert len(kernel[100002]) == 1

    # shift robustness on a real doc with >= 3 chunks
    text = next(
        r["text"] for r in sample.collect()
        if len(cdc_chunk_fps(r["text"])) >= 3
    )
    f0, f1 = cdc_chunk_fps(text), cdc_chunk_fps("Z" + text)
    assert f0[1:] == f1[1:]          # every chunk after the first intact
    assert f0[0] != f1[0]


def test_bpe_learn_merges_closed_form(spark):
    """Hand-checkable BPE training: corpus 'aa aa ab' has vocab
    {aa: 2, ab: 1}; round 0 must merge (a,a) with weight 2, round 1
    (a,b) with weight 1, and the loop must stop early when no pairs
    remain (2 rows despite n_merges=4)."""
    from breweries_data_pipeline_spark.operators.text import bpe_learn_merges

    docs = spark.createDataFrame([("aa aa ab",)], ["text"])
    rows = sorted(
        tuple(r) for r in bpe_learn_merges(docs, "text", n_merges=4).collect()
    )
    assert rows == [(0, "a", "a", 2), (1, "a", "b", 1)]


def test_bpe_encode_fertility_closed_form(spark):
    """Hand-checkable BPE encoding: corpus 'aa aa ab' (lang en) +
    'ba' (lang de), n_merges=1. Round 0 merges (a,a) weight 2, so
    aa -> 1 token, ab -> 2, ba -> 2. en: tokens 2*1+1*2=4 over 3
    words -> 1333333 ppm; de: 2 over 1 -> 2000000 ppm."""
    from breweries_data_pipeline_spark.operators.text import (
        bpe_encode_fertility,
    )

    docs = spark.createDataFrame(
        [("aa aa ab", "en"), ("ba", "de")], ["text", "lang"]
    )
    rows = [tuple(r) for r in bpe_encode_fertility(docs, n_merges=1).collect()]
    assert rows == [("de", 2, 1, 2000000), ("en", 4, 3, 1333333)]


def test_static_enrich_batch_plan_broadcasts_dim(spark):
    """static_enrich pins the dim to a broadcast hash join (the fact
    side must never shuffle), observable in batch mode where the same
    plan Spark re-plans per micro-batch is materialized directly."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from breweries_data_pipeline_spark.streaming import static_enrich

    facts = spark.range(1000).select(
        (F.col("id") % 50).alias("key"), F.col("id").alias("amount")
    )
    dim = spark.range(50).select(
        F.col("id").alias("dkey"), (F.col("id") * 10).alias("attr")
    )
    out = static_enrich(facts, dim, F.col("key") == F.col("dkey"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert out.count() == 1000


def test_static_enrich_stream_is_stateless(spark, sf_dir, tmp_path):
    """The streaming form must run with ZERO state stores — the whole
    point of stream-static vs stream-stream. Asserted from the drained
    query's progress (stateOperators empty in every batch)."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from breweries_data_pipeline_spark.sources import read_table
    from breweries_data_pipeline_spark.streaming import (
        read_events_stream,
        static_enrich,
    )

    sdf = read_events_stream(spark, sf_dir).select("event_id", "user_id")
    dim = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    out = static_enrich(sdf, dim, F.col("user_id") == F.col("c_custkey"))
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("t_static_enrich_stateless")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert all(not p["stateOperators"] for p in q.recentProgress)
    n = spark.table("t_static_enrich_stateless").count()
    assert n == read_table(spark, sf_dir, "events").join(
        dim, F.col("user_id") == F.col("c_custkey")
    ).count()


# ------------------------------------------------------- two-phase top-k
def test_salted_topk_identical_to_plain_and_parallel(spark, sf_dir):
    """The salted two-phase topk_per_group must be row-identical to
    the one-phase form (same total order in both phases => the
    per-bucket prune keeps an exact superset of the global top-k),
    and its phase-1 window must be keyed by (group, salt) so the
    sort parallelism scales with salt_buckets, not group count."""
    from pyspark.sql import functions as F

    from breweries_data_pipeline_spark.operators.windows import topk_per_group
    from breweries_data_pipeline_spark.sources import read_table

    li = read_table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % 4).alias("g"), "l_orderkey", "l_partkey",
        "l_quantity",
    )
    order = [F.col("l_quantity").desc(), F.col("l_orderkey"),
             F.col("l_partkey")]
    plain = topk_per_group(li, ["g"], order, k=7)
    salted = topk_per_group(
        li, ["g"], order, k=7,
        salt=F.xxhash64("l_orderkey", "l_partkey"), salt_buckets=16,
    )
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0
    plan = salted._jdf.queryExecution().executedPlan().toString()
    # two ranking windows: the salted prune and the final rank
    assert plan.count("row_number") >= 2
    assert "__tks" in plan


def test_bucketed_rank_cumsum_cume_identical_to_plain_windows(spark, sf_dir):
    """The bucket-offset two-pass scheme must reproduce the plain
    (single-task-per-group) window bit-for-bit: row_number, inclusive
    running sum, and the tie-complete cume count — including ties on
    the leading order column and groups that span many buckets."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from breweries_data_pipeline_spark.operators.windows import (
        bucketed_cume_count,
        bucketed_row_number,
        bucketed_running_sum,
    )
    from breweries_data_pipeline_spark.sources import read_table

    li = read_table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") % 3).alias("g"),
        "l_orderkey",
        "l_partkey",
        F.col("l_quantity").cast("long").alias("v"),
    )
    bucket = F.expr("v DIV 8")  # coarse -> many ties per bucket edge
    order = [F.col("v"), F.col("l_orderkey"), F.col("l_partkey")]

    w = Window.partitionBy("g").orderBy(*order)
    plain_rn = li.withColumn("rn", F.row_number().over(w).cast("long"))
    fast_rn = bucketed_row_number(li, ["g"], order, bucket, rank_name="rn")
    assert plain_rn.exceptAll(fast_rn).count() == 0
    assert fast_rn.exceptAll(plain_rn).count() == 0

    ws = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    plain_cum = li.withColumn("cum", F.sum("v").over(ws).cast("long"))
    fast_cum = bucketed_running_sum(li, ["g"], order, bucket, "v",
                                    out_name="cum")
    assert plain_cum.exceptAll(fast_cum).count() == 0
    assert fast_cum.exceptAll(plain_cum).count() == 0

    wr = (
        Window.partitionBy("g")
        .orderBy("v")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("g")
    plain_le = li.select(
        "g", "l_orderkey", "l_partkey", "v",
        F.count(F.lit(1)).over(wr).cast("long").alias("count_le"),
        F.count(F.lit(1)).over(wn).cast("long").alias("n"),
    )
    fast_le = bucketed_cume_count(li, ["g"], "v", bucket)
    assert plain_le.exceptAll(fast_le).count() == 0
    assert fast_le.exceptAll(plain_le).count() == 0

    # empty group_by (global rank) round-trips too
    wg = Window.orderBy(*order)
    plain_g = li.withColumn("rn", F.row_number().over(wg).cast("long"))
    fast_g = bucketed_row_number(li, [], order, bucket, rank_name="rn")
    assert plain_g.exceptAll(fast_g).count() == 0
    assert fast_g.exceptAll(plain_g).count() == 0


def test_chunk_udtf_kernel_and_plan(spark, sf_dir):
    """UDTF chunker: the pure-Python kernel is closed-form-checked,
    and the LATERAL plan keeps the filter + column pruning BELOW the
    ArrowEvalPythonUDTF (rows are dropped before the fan-out)."""
    from breweries_data_pipeline_spark.operators.text import chunk_tokens_py
    from breweries_data_pipeline_spark.queries import REGISTRY

    # kernel: ragged tail, whitespace runs, empties
    assert list(chunk_tokens_py("a  b\tc\nd e", 2)) == [
        (0, "a b", 2),
        (1, "c d", 2),
        (2, "e", 1),
    ]
    assert list(chunk_tokens_py("", 4)) == []
    assert list(chunk_tokens_py("   ", 4)) == []
    assert list(chunk_tokens_py(None, 4)) == []
    # exactly one full chunk
    assert list(chunk_tokens_py("x y z w", 4)) == [(0, "x y z w", 4)]
    # trim() semantics: only SPACES strip. Leading/trailing non-space
    # whitespace must survive into empty edge tokens, exactly as the
    # oracle's regexp_split_to_array(trim(text), ...) produces them.
    assert list(chunk_tokens_py("\tfoo", 4)) == [(0, " foo", 2)]
    assert list(chunk_tokens_py("foo\n", 4)) == [(0, "foo ", 2)]
    # whitespace-only doc that PASSES the trim(text) <> '' filter:
    # one chunk of two empty tokens, not zero rows
    assert list(chunk_tokens_py("\t", 4)) == [(0, " ", 2)]

    fn, oracle = REGISTRY["q_udtf_chunks"]
    assert oracle is not None
    df = fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    udtf_ix = plan.index("ArrowEvalPythonUDTF")
    filter_ix = plan.index("Filter")
    scan_ix = plan.index("Scan parquet")
    # executedPlan prints top-down: UDTF above Filter above Scan
    assert udtf_ix < filter_ix < scan_ix
    # pruning: everything ABOVE the UDTF (the lateral join output and
    # final projection) carries only doc_id + the chunk columns —
    # n_chars is consumed by the pushed-down filter below the UDTF and
    # must not ride up through the fan-out
    assert "n_chars" not in plan.split("ArrowEvalPythonUDTF")[0]
    rows = df.limit(5).collect()
    assert all(r.chunk_tokens >= 1 and r.chunk_tokens <= 32 for r in rows)


def test_sql_udfs_inline_scalar_and_table_valued(spark):
    """Spark 4 SQL UDFs: the scalar form must inline into the plan
    (no UDF eval node — SQL UDFs never leave codegen), and the
    table-valued form (RETURNS TABLE ... RETURN SELECT) must be
    usable in FROM."""
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION t_double(x DOUBLE) "
        "RETURNS DOUBLE RETURN x * 2.0"
    )
    df = spark.range(5).selectExpr("t_double(CAST(id AS DOUBLE)) AS v")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "ScalaUDF" not in plan
    assert sorted(r.v for r in df.collect()) == [0.0, 2.0, 4.0, 6.0, 8.0]

    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION t_seq(n INT) "
        "RETURNS TABLE(i INT) RETURN SELECT explode(sequence(1, n))"
    )
    assert [r.i for r in spark.sql("SELECT * FROM t_seq(3)").collect()] == [
        1,
        2,
        3,
    ]


def test_sentence_dedup_drops_repeats_keeps_order(spark):
    """The q_sentence_dedup kernel on constructed boilerplate: repeated
    sentences drop, first-occurrence order survives, counts agree.
    (The synthetic corpus has no intra-doc repeats, so the oracle
    verifies identity behavior; this test exercises the actual
    dedup.)"""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "buy now. great offer. buy now. limited time. great offer"),
            # mixed terminal punctuation: '!' and '?' are boundaries
            # too (r7 split only on '. ' and boilerplate ending !/?
            # survived the scrub)
            (2, "buy now! great offer? buy now! act fast. buy now!"),
        ],
        "doc_id long, text string",
    )
    sents = F.split("text", r"[.!?][ \t\n\x0b\f\r]+")
    kept = F.array_distinct(sents)
    rows = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            F.size(sents).alias("n_sents"),
            F.size(kept).alias("n_kept"),
            F.array_join(kept, ". ").alias("cleaned"),
        ).collect()
    }
    assert rows[1].n_sents == 5 and rows[1].n_kept == 3
    assert rows[1].cleaned == "buy now. great offer. limited time"
    # doc 2: ["buy now", "great offer", "buy now", "act fast",
    # "buy now!"] — the trailing 'buy now!' keeps its terminal '!'
    # (end-of-text, no whitespace boundary) so it is a DISTINCT
    # sentence from the deduped 'buy now'
    assert rows[2].n_sents == 5 and rows[2].n_kept == 4
    assert rows[2].cleaned == "buy now. great offer. act fast. buy now!"


def test_sentence_dedup_global_keeps_first_occurrence_across_docs(spark):
    """Cross-doc scrub semantics on constructed boilerplate: a
    sentence keeps only its FIRST (doc_id, pos) occurrence corpus-wide;
    a document made entirely of already-seen boilerplate collapses to
    an empty cleaned string with n_kept = 0."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "cookie notice. real content one. all rights reserved"),
            (2, "cookie notice. real content two! all rights reserved"),
            (3, "cookie notice. all rights reserved"),
        ],
        "doc_id long, text string",
    )
    sents = F.split("text", r"[.!?][ \t\n\x0b\f\r]+")
    s = df.select(
        "doc_id", F.posexplode(sents).alias("pos0", "sent")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "sent")
    w = Window.partitionBy("sent").orderBy("doc_id", "pos")
    ranked = s.withColumn("rn", F.row_number().over(w))
    rows = {
        r.doc_id: r
        for r in ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sents"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("rn") == 1,
                                F.struct(F.col("pos"), F.col("sent")),
                            )
                        )
                    ),
                    lambda st: st["sent"],
                ),
                ". ",
            ).alias("cleaned"),
        )
        .collect()
    }
    assert rows[1].n_sents == 3 and rows[1].n_kept == 3
    assert rows[1].cleaned == (
        "cookie notice. real content one. all rights reserved"
    )
    # doc 2: boilerplate already seen in doc 1; only its own content
    # survives ('real content two' differs from doc 1's)
    assert rows[2].n_sents == 3 and rows[2].n_kept == 1
    assert rows[2].cleaned == "real content two"
    # doc 3: pure boilerplate -> empty
    assert rows[3].n_sents == 2 and rows[3].n_kept == 0
    assert rows[3].cleaned == ""


def test_chunk_kernel_matches_duckdb_oracle_on_leading_whitespace():
    """kernel == oracle on leading/trailing NON-SPACE whitespace (the
    r7 ADVICE class: bare .strip() would eat '\\tdoc' / '\\ndoc'
    edges that DuckDB's space-only trim() keeps): replay the
    q_udtf_chunks oracle's token pipeline in DuckDB on adversarial
    inputs and assert the Python kernel yields the identical
    (chunk_ix, chunk_text, chunk_tokens) rows."""
    import duckdb

    from breweries_data_pipeline_spark.operators.text import chunk_tokens_py

    inputs = ["\tdoc", "\ndoc", "doc\n", "\t", "\n x\ty \n", "  \tdoc  "]
    con = duckdb.connect()
    for text in inputs:
        oracle = con.execute(
            r"""
            WITH toks AS (
              SELECT regexp_split_to_array(trim(?), '[ \t\n\x0b\f\r]+') AS tk
            ), ix AS (
              SELECT tk, unnest(range(0, CAST(ceil(len(tk)/2.0) AS BIGINT))) AS i
              FROM toks WHERE trim(?) <> ''
            )
            SELECT CAST(i AS INT),
                   array_to_string(tk[(i*2+1):(i*2+2)], ' '),
                   CAST(len(tk[(i*2+1):(i*2+2)]) AS INT)
            FROM ix ORDER BY i
            """,
            [text, text],
        ).fetchall()
        kernel = list(chunk_tokens_py(text, 2))
        assert kernel == [tuple(r) for r in oracle], repr(text)
