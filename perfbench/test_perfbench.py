"""Tests for the benchmark's own code: generators, output checks, span
arithmetic and the event-log join.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import spans  # noqa: E402

# ------------------------------------------------------------ generators


def test_generators_are_deterministic_per_seed():
    assert gen.medallion_input(7, 300) == gen.medallion_input(7, 300)
    assert gen.medallion_input(7, 300) != gen.medallion_input(8, 300)
    assert gen.corpus_input(7, 200) == gen.corpus_input(7, 200)
    assert gen.corpus_input(7, 200) != gen.corpus_input(8, 200)


def test_medallion_input_mixes_duplicates_updates_and_ties():
    m = gen.medallion_input(3, 2000)
    ids = [r["id"] for r in m.records]
    assert len(set(ids)) == m.distinct_ids < len(ids)
    as_json = [json.dumps(r, sort_keys=True) for r in m.records]
    assert len(set(as_json)) < len(as_json)            # identical re-fetches
    by_id: dict[str, list[dict]] = {}
    for r in m.records:
        by_id.setdefault(r["id"], []).append(r)
    ts_sets = [{r["updated_at"] for r in v} for v in by_id.values()]
    assert any(len(t) > 1 for t in ts_sets)            # later updates
    assert m.silver_min < m.silver_max                 # same-timestamp conflicts


def test_silver_bounds_count_ties_on_the_earliest_timestamp_only():
    def rec(i, ts, name="x"):
        return {"id": i, "name": name, "state": "s", "country": "c", "updated_at": ts}
    records = [
        rec("a", "1"),                                  # kept
        rec("b", "1", None),                            # dropped
        rec("c", "1"), rec("c", "1", None),             # either
        rec("d", "1"), rec("d", "2", None),             # kept: the null row is later
        rec("e", "2"), rec("e", "1", None),             # dropped: the null row is earlier
    ]
    assert gen.silver_bounds(records) == (2, 3)


def test_corpus_ground_truth_matches_the_engine_key():
    c = gen.corpus_input(5, 300)
    text = dict(c.docs)
    for g in c.exact_groups:
        assert len({gen.normalized(text[i]) for i in g}) == 1
    assert any(len({text[i] for i in g}) > 1 for g in c.exact_groups)
    for g in c.near_groups:
        assert g[0] == min(g)
    assert gen.normalized("  A \t b  c ") == "a b c"


# ------------------------------------------------------------ spans


def test_self_time_subtracts_nested_children():
    ticks = iter([0.0, 1.0, 2.0, 4.0, 5.0, 5.5, 6.0, 10.0])
    t = spans.Tracer(clock=lambda: next(ticks))
    with t.span("root"):                    # 0 .. 10
        with t.span("a"):                   # 1 .. 5
            with t.span("a.1"):             # 2 .. 4
                pass
        with t.span("b"):                   # 5.5 .. 6
            pass
    names = {s.name: s for s in t.spans}
    selfs = spans.self_times(t.spans)
    assert names["a"].parent == names["root"].id
    assert names["a.1"].parent == names["a"].id
    assert selfs[names["a.1"].id] == pytest.approx(2.0)
    assert selfs[names["a"].id] == pytest.approx(2.0)
    assert selfs[names["b"].id] == pytest.approx(0.5)
    assert selfs[names["root"].id] == pytest.approx(10.0 - 4.0 - 0.5)


def test_tracing_overhead_cancels_a_linear_warm_up_trend():
    import traced

    # cold, U, T, U, T, U on a trend falling 1 s per pass; tracing adds 0.5 s
    walls = [20.0, 9.0, 8.0 + 0.5, 7.0, 6.0 + 0.5, 5.0]
    assert traced.overhead_s(walls) == pytest.approx(0.5)


def test_event_log_counters_join_by_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Properties": {spans.GROUP_PROP: "g1"},
         "Stage Infos": [{"Stage ID": 0, "RDD Info": [
             {"Name": "x", "Scope": '{"id":"3","name":"ArrowEvalPython"}'}]},
             {"Stage ID": 1, "RDD Info": []}]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Properties": {},
         "Stage Infos": [{"Stage ID": 2, "RDD Info": []}]},
    ]
    for sid, shuffle in [(0, 10), (0, 5), (1, 7), (2, 100)]:
        events.append({"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Task Metrics": {
            "Executor CPU Time": 2_000_000, "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}})
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    c = spans.read_event_log(str(path))
    assert set(c) == {"g1"}
    g = c["g1"]
    assert (g.jobs, g.tasks, g.python_tasks, g.shuffle_write_bytes) == (1, 3, 2, 22)
    assert g.exec_cpu_ms == pytest.approx(6.0)


# ------------------------------------------------------------ output checks


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import harness

    work = str(tmp_path_factory.mktemp("perfbench"))
    harness.env_for(work, 2)
    s = harness.start_session(work)
    yield s
    harness.stop_session(s)


@pytest.fixture(scope="module")
def medallion(spark, tmp_path_factory):
    import workloads

    wl = workloads.Medallion(spark, str(tmp_path_factory.mktemp("med")), 4, distinct_ids=300)
    res = wl.run_pass(0)
    return wl, res


def _copy_pass(res: dict, tmp_path) -> dict:
    base = str(tmp_path / "pass")
    shutil.copytree(res["base"], base)
    return {**res, "base": base}


def test_medallion_checks_pass_on_engine_output(medallion):
    wl, res = medallion
    assert wl.pass_problems(res) == []
    assert wl.output_problems(res) == []


def test_medallion_pass_check_fails_outside_bounds_or_failed_rule(medallion):
    wl, res = medallion
    assert wl.pass_problems({**res, "silver_rows": wl.data.silver_max + 1})
    assert wl.pass_problems({**res, "silver_rows": wl.data.silver_min - 1})
    assert wl.pass_problems({**res, "quality": [("not_null", "aggregation", False)]})
    assert wl.pass_problems({**res, "records": res["records"] - 1})


@pytest.mark.parametrize("corruption, expected", [
    ("duplicate_id", "not unique"),
    ("null_name", "null required"),
    ("unnormalised", "unnormalised strings"),
    ("gold_sum", "counts sum"),
])
def test_medallion_output_check_fails_on_corrupted_output(spark, medallion, tmp_path,
                                                          corruption, expected):
    from pyspark.sql import functions as F

    wl, res = medallion
    bad = _copy_pass(res, tmp_path)
    if corruption == "gold_sum":
        gold = spark.read.parquet(os.path.join(res["base"], "gold"))
        gold.limit(1).write.mode("append").parquet(os.path.join(bad["base"], "gold"))
    else:
        row = spark.read.parquet(os.path.join(res["base"], "silver")).limit(1)
        if corruption == "null_name":
            row = row.withColumn("name", F.lit(None).cast("string"))
        elif corruption == "unnormalised":
            row = row.withColumn("city", F.upper("city"))
        row.write.mode("append").partitionBy("state", "country") \
            .parquet(os.path.join(bad["base"], "silver"))
        bad["silver_rows"] += 1
    problems = wl.output_problems(bad)
    assert any(expected in p for p in problems), problems


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    import workloads

    wl = workloads.CorpusDedup(spark, str(tmp_path_factory.mktemp("corpus")), 4, base_docs=300)
    res = wl.run_pass(0)
    wl.finish_pass(res)
    return wl, res


def test_corpus_checks_pass_on_engine_output(corpus):
    wl, res = corpus
    assert wl.pass_problems(res) == []
    assert wl.output_problems(res) == []
    assert wl.near_recall(res["kept"]) > 0.9


def test_corpus_checks_fail_on_corrupted_output(corpus):
    wl, res = corpus
    group = wl.data.exact_groups[0]
    assert wl.pass_problems({"kept": res["kept"][1:]})           # hash changed
    problems = wl.output_problems({"kept": sorted(set(res["kept"]) | set(group))})
    assert any("not collapsed" in p for p in problems), problems
    assert any("exact dedup removes" in p for p in problems), problems
    assert wl.near_recall(res["kept"] + [i for g in wl.data.near_groups for i in g[1:]]) == 0.0


def test_useful_edge_frac_counts_edges_inside_planted_groups(corpus):
    wl, _ = corpus
    g = wl.data.near_groups[0]
    unrelated = [d for d, _ in wl.data.docs if not any(d in x for x in wl.data.near_groups
                                                        + wl.data.exact_groups)][:2]
    assert wl.useful_edge_frac([(g[0], g[1]), (unrelated[0], unrelated[1])]) == 0.5
