"""The traced run: per-layer metrics from spans and the event log.

Every traced run measures every layer, so each workload is traced in
it. The named workload goes first: one cold pass, then untraced and
traced passes alternating, starting and ending with an untraced one,
for ``--seconds``; its tracing overhead compares each traced pass with
its untraced neighbours (``overhead_s``). Each other workload gets one
cold pass and one traced pass, which keeps the run inside its time
limit on a slow host. Counters come from the last traced pass; a
counter that differs between the traced passes of one run is reported
on stdout.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict

import harness
import procstat
import spans
import workloads

# (span name, measure) pairs reported per workload; a measure is a
# span's self time, an event-log counter summed over the span and its
# descendants, or a count the wrapper recorded
LAYER_METRICS = {
    "medallion": [
        ("sources.rest_api.fetch_all", "self_s"),
        ("sources.rest_api.fetch_all", "pages"),
        ("sources.writers.write_parquet", "files"),
        ("sources.writers.write_parquet", "bytes"),
        *[(f"pipeline.run_{stage}_stage", m)
          for stage in ("ingest", "transform", "aggregate", "quality")
          for m in ("self_s", "jobs", "tasks", "shuffle_write_bytes")],
    ],
    "corpus_dedup": [
        ("operators.dedup.minhash_signatures", "self_s"),
        ("operators.dedup.minhash_signatures", "python_tasks"),
        ("operators.dedup.minhash_signatures", "exec_cpu_ms"),
        ("operators.dedup.exact_dedup", "self_s"),
        ("operators.dedup.exact_dedup", "shuffle_write_bytes"),
        ("operators.dedup.exact_dedup", "rows_out"),
        ("operators.dedup.lsh_bucket_star_edges", "self_s"),
        ("operators.dedup.lsh_bucket_star_edges", "edges"),
        ("operators.dedup.lsh_bucket_star_edges", "shuffle_write_bytes"),
        ("operators.graph.connected_components", "self_s"),
        ("operators.graph.connected_components", "jobs"),
    ],
}
# measures that are times, so vary run to run; the rest are counts
TIMED = {"self_s", "exec_cpu_ms"}


def _pass_measures(all_spans: list[spans.Span], root: spans.Span, selfs: dict[int, float],
                   counters: dict[str, spans.GroupCounters]) -> dict[str, float]:
    """``<span name>.<measure>`` summed over the spans of one pass."""
    children = defaultdict(list)
    for s in all_spans:
        children[s.parent].append(s)

    def subtree(s: spans.Span) -> list[spans.Span]:
        out, stack = [], [s]
        while stack:
            x = stack.pop()
            out.append(x)
            stack.extend(children[x.id])
        return out

    out: dict[str, float] = defaultdict(float)
    for s in subtree(root)[1:]:
        out[f"{s.name}.self_s"] += selfs[s.id]
        for k, v in s.counts.items():
            out[f"{s.name}.{k}"] += v
        for d in subtree(s):
            c = counters.get(d.group)
            if c is None:
                continue
            for k in ("jobs", "tasks", "python_tasks", "shuffle_write_bytes", "exec_cpu_ms"):
                out[f"{s.name}.{k}"] += getattr(c, k)
    return out


def overhead_s(walls: list[float]) -> float:
    """Median over traced passes of the traced wall minus the mean of
    the untraced passes on either side. ``walls`` is the cold pass,
    then untraced and traced passes alternating, ending untraced;
    taking both neighbours cancels the warm-up trend between them."""
    return statistics.median(
        walls[i] - (walls[i - 1] + walls[i + 1]) / 2 for i in range(2, len(walls) - 1, 2))


class TracedRun:
    """State of one traced run: the session, the tracer, and what the
    passes of each workload recorded."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.log_dir = os.path.join(work, "eventlog")
        os.makedirs(self.log_dir)
        self.tracer = spans.Tracer()
        self.problems: list[str] = []
        self.attempted = self.failed = 0
        self.walls: dict[str, list[float]] = {}      # per workload, in pass order
        self.roots: dict[str, list[spans.Span]] = {}    # per workload, one per traced pass
        self.extras: dict[str, list[float]] = defaultdict(list)
        self.jvm_rows: list[dict] = []

    def start_session(self) -> None:
        """Start the session with the event log on, with a span around
        ``session.get_spark``."""
        from breweries_data_pipeline_spark import session

        orig = session.get_spark

        def timed_get_spark(*a, **kw):
            with self.tracer.span("session.get_spark"):
                return orig(*a, **kw)

        session.get_spark = timed_get_spark
        try:
            self.spark = harness.start_session(self.work, spans.event_log_conf(self.log_dir))
        finally:
            session.get_spark = orig
        self.tracer.spark = self.spark

    def trace_workload(self, name: str, budget: float | None, mem: procstat.PeakMemory) -> None:
        """Cold pass, then untraced and traced passes alternating and
        ending on an untraced one (U T U [T U ...]) until ``budget``
        seconds after the cold pass; with no budget, the cold pass and
        one traced pass."""
        wl = workloads.WORKLOADS[name](self.spark, os.path.join(self.work, "data", name),
                                       self.args.seed)
        log = harness.PassLog(self.spark, mem)
        self.roots[name] = []
        t_end = None
        i = 0
        last = None
        while (i < 2 if budget is None
               else i < 4 or i % 2 == 1 or time.perf_counter() < t_end):
            traced = i == 1 if budget is None else i > 0 and i % 2 == 0
            self.attempted += 1
            if traced:
                restore = spans.install(self.tracer)
                try:
                    res = log.timed(self._traced_pass, name, wl, i)
                finally:
                    restore()
            else:
                res = log.timed(wl.run_pass, i)
            bad = wl.pass_problems(res)
            if bad:
                self.failed += 1
                self.problems.extend(f"{name} pass {i}: {p}" for p in bad)
            if traced:
                self._after_traced_pass(name, wl, res)
            elif i > 0 and name == self.args.workload:
                self.jvm_rows.append(log.rows[-1])
            wl.finish_pass(res)
            last = res
            if t_end is None and budget is not None:
                t_end = time.perf_counter() + budget
            i += 1
        self.walls[name] = [r["wall_s"] for r in log.rows]
        final = wl.output_problems(last)
        if final:
            self.failed += 1
            self.problems.extend(f"{name}: {p}" for p in final)
        for line in wl.report_lines():
            print(f"  {name}: {line}")

    def _traced_pass(self, name: str, wl, i: int):
        with self.tracer.span("perfbench.pass") as root:
            res = wl.run_pass(i)
        self.roots[name].append(root)
        return res

    def _after_traced_pass(self, name: str, wl, res) -> None:
        """Ratios and checks that need the pass's intermediate results,
        then release what the wrappers persisted."""
        if name == "medallion":
            self.extras["medallion.write_amp"].append(wl.write_amp(res))
        else:
            edges = self.tracer.outputs["operators.dedup.lsh_bucket_star_edges"].collect()
            self.extras["operators.dedup.useful_edge_frac"].append(
                wl.useful_edge_frac([(r[0], r[1]) for r in edges]))
            exact = self.tracer.outputs["operators.dedup.exact_dedup"].count()
            if exact != len(wl.expected_exact_kept()):
                self.problems.append(f"{name}: exact dedup kept {exact} docs, "
                                     f"expected {len(wl.expected_exact_kept())}")
        self.tracer.release()

    def metrics(self, counters: dict[str, spans.GroupCounters],
                selfs: dict[int, float]) -> tuple[dict[str, tuple[float, str]], list[str]]:
        """Per-layer metrics, and the counts that differed between the
        traced passes of a workload."""
        metrics: dict[str, tuple[float, str]] = {}
        unsteady: list[str] = []
        for name, pairs in LAYER_METRICS.items():
            per_pass = [_pass_measures(self.tracer.spans, r, selfs, counters)
                        for r in self.roots[name]]
            for span_name, measure in pairs:
                key = f"{span_name}.{measure}"
                vals = [p.get(key, 0.0) for p in per_pass]
                if measure in TIMED:
                    metrics[key] = (statistics.median(vals), "s" if measure == "self_s" else "ms")
                else:
                    if len(set(vals)) > 1:
                        unsteady.append(f"{key} {vals}")
                    metrics[key] = (vals[-1], "bytes" if "bytes" in measure else "count")
        for key, vals in self.extras.items():
            metrics[key] = (statistics.median(vals), "ratio")
        metrics["trace.overhead_s"] = (overhead_s(self.walls[self.args.workload]), "s")
        get_spark = next(s for s in self.tracer.spans if s.name == "session.get_spark")
        metrics["session.get_spark.s"] = (get_spark.end - get_spark.start, "s")
        metrics["jvm.jit_ms"] = (statistics.median(r["jit_ms"] for r in self.jvm_rows), "ms")
        metrics["jvm.gc_ms"] = (statistics.median(r["gc_ms"] for r in self.jvm_rows), "ms")
        return metrics, unsteady


def run(args, work: str) -> dict:
    t = TracedRun(args, work)
    t.start_session()
    others = [w for w in workloads.WORKLOADS if w != args.workload]
    with procstat.PeakMemory() as mem:
        t.trace_workload(args.workload, args.seconds, mem)
        for name in others:
            t.trace_workload(name, None, mem)
    harness.stop_session(t.spark)

    counters = spans.read_event_log(spans.find_event_log(t.log_dir))
    selfs = spans.self_times(t.tracer.spans)
    metrics, unsteady = t.metrics(counters, selfs)
    _dump_spans(args, t.tracer, selfs, counters)
    print(f"traced run: workload {args.workload} seed {args.seed}; pass walls (cold, then "
          "untraced and traced alternating): "
          + "; ".join(f"{n} " + " ".join(f"{w:.2f}" for w in ws) for n, ws in t.walls.items()))
    for key, (v, unit) in sorted(metrics.items()):
        print(f"  {key:<58} {v:14.4f} {unit}")
    _print_span_table(t.tracer, selfs)
    for u in unsteady:
        print(f"  NOTE count differs between traced passes: {u}")
    for p in t.problems:
        print(f"  PROBLEM {p}")
    return {"correct": not t.problems, "attempted": t.attempted, "failed": t.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def _print_span_table(tracer: spans.Tracer, selfs: dict[int, float]) -> None:
    by_name: dict[str, list[float]] = defaultdict(list)
    for s in tracer.spans:
        by_name[s.name].append(selfs[s.id])
    print("  span self time (calls, median s, total s):")
    for n, v in sorted(by_name.items()):
        print(f"    {n:<50} {len(v):5d} {statistics.median(v):9.4f} {sum(v):9.3f}")


def _dump_spans(args, tracer: spans.Tracer, selfs, counters) -> None:
    out_dir = os.path.join(os.path.dirname(harness.RUN_PY), os.pardir, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    rows = []
    for s in tracer.spans:
        c = counters.get(s.group)
        rows.append({"id": s.id, "name": s.name, "parent": s.parent, "start": s.start,
                     "end": s.end, "self_s": selfs[s.id], "counts": s.counts,
                     "events": c.__dict__ if c else {}})
    path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump(rows, f)
