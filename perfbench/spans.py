"""Spans around calls into the engine's layers, with Spark's own
counters attributed to them.

The benchmark replaces module attributes of the engine with timing
wrappers (``install``) for the length of a traced pass and puts the
originals back afterwards; the engine's code is not changed. Each span
runs its Spark jobs under a job group of its own, and the event log
the session writes (``event_log_conf``) is joined to the spans by that
group after the session stops. Spans stay in memory until then.

A wrapper around a function that returns a lazy DataFrame persists and
counts the result inside its span, so the work is charged to the layer
that planned it. That cuts the plan at every span boundary, which is
part of what the tracing overhead measures.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable

GROUP_PROP = "spark.jobGroup.id"
# operator names in an RDD scope that mean a task ran Python code
_PYTHON_SCOPES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                  "MapInArrow", "FlatMapGroupsInPandas", "PythonUDTF")


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover.
    Children of one span never overlap (calls are sequential), but a
    child is clipped to its parent's interval before subtracting."""
    covered: dict[int, float] = defaultdict(float)
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            covered[p.id] += max(0.0, min(s.end, p.end) - max(s.start, p.start))
    return {s.id: max(0.0, (s.end - s.start) - covered[s.id]) for s in spans}


class Tracer:
    """Records spans; sets the job group of each span on the session's
    (single, main) thread and restores the enclosing span's group on
    exit."""

    def __init__(self, spark=None, clock: Callable[[], float] = time.perf_counter):
        self.spark = spark
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.persisted: list[Any] = []
        self.outputs: dict[str, Any] = {}   # span name -> its persisted result

    def _set_group(self, span: Span | None) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty(
                GROUP_PROP, span.group if span is not None else None)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, self.clock())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()
            self._set_group(parent)

    def materialize(self, df, count_as: str = "rows_out"):
        """Persist and count ``df`` inside the current span."""
        span = self._stack[-1]
        df = df.persist()
        self.persisted.append(df)
        self.outputs[span.name] = df
        span.counts[count_as] = float(df.count())
        return df

    def release(self) -> None:
        self.outputs.clear()
        while self.persisted:
            self.persisted.pop().unpersist()


# ------------------------------------------------------------ wrappers

def _dir_files(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring commit markers and
    checksums."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def install(tracer: Tracer) -> Callable[[], None]:
    """Wrap the engine's layer entry points; returns the undo."""
    from breweries_data_pipeline_spark import pipeline
    from breweries_data_pipeline_spark.operators import dedup, graph

    undo: list[Callable[[], None]] = []

    def patch(owner, attr: str, wrapper_for: Callable[[Callable], Callable]) -> None:
        if isinstance(owner, dict):
            orig = owner[attr]
            owner[attr] = wrapper_for(orig)
            undo.append(lambda: owner.__setitem__(attr, orig))
        else:
            orig = getattr(owner, attr)
            setattr(owner, attr, wrapper_for(orig))
            undo.append(lambda: setattr(owner, attr, orig))

    def timed(name: str, count_as: str | None = None):
        """Span around ``fn``; with ``count_as`` the returned DataFrame
        is materialised in the span and its row count recorded."""
        def wrapper_for(fn):
            def wrapped(*args, **kwargs):
                with tracer.span(name):
                    out = fn(*args, **kwargs)
                    return out if count_as is None else tracer.materialize(out, count_as)
            return wrapped
        return wrapper_for

    def fetch_all_wrapper(fn):
        def wrapped(fetch_page, *args, **kwargs):
            def transport(page, per_page):
                with tracer.span("perfbench.transport.fetch_page"):
                    return fetch_page(page, per_page)
            with tracer.span("sources.rest_api.fetch_all") as s:
                out = fn(transport, *args, **kwargs)
            s.counts["pages"] = float(sum(
                1 for c in tracer.spans
                if c.parent == s.id and c.name == "perfbench.transport.fetch_page"))
            return out
        return wrapped

    def write_parquet_wrapper(fn):
        def wrapped(df, path, *args, **kwargs):
            with tracer.span("sources.writers.write_parquet") as s:
                fn(df, path, *args, **kwargs)
            s.counts["files"], s.counts["bytes"] = map(float, _dir_files(path))
        return wrapped

    # the pipeline calls these through its own module namespace (names
    # it imported) and through its stage-runner table
    patch(pipeline, "fetch_all", fetch_all_wrapper)
    patch(pipeline, "write_parquet", write_parquet_wrapper)
    patch(pipeline, "run_ingest_stage", timed("pipeline.run_ingest_stage"))
    for kind in ("transform", "aggregate", "quality"):
        patch(pipeline._RUNNERS, kind, timed(f"pipeline.run_{kind}_stage"))
    # near_dedup_lsh_buckets resolves these through the dedup module and
    # imports connected_components from the graph module at call time
    for attr in ("exact_dedup", "minhash_signatures", "near_dedup_lsh_buckets"):
        patch(dedup, attr, timed(f"operators.dedup.{attr}", "rows_out"))
    patch(dedup, "lsh_bucket_star_edges",
          timed("operators.dedup.lsh_bucket_star_edges", "edges"))
    patch(graph, "connected_components",
          timed("operators.graph.connected_components", "rows_out"))

    def restore() -> None:
        while undo:
            undo.pop()()
    return restore


# ------------------------------------------------------------ event log

@dataclass
class GroupCounters:
    jobs: int = 0
    tasks: int = 0
    python_tasks: int = 0
    shuffle_write_bytes: int = 0
    exec_cpu_ms: float = 0.0


def read_event_log(path: str) -> dict[str, GroupCounters]:
    """Per job group: jobs, tasks, tasks in stages that ran Python
    code, shuffle bytes written and executor CPU time."""
    stage_group: dict[int, str] = {}
    stage_python: dict[int, bool] = {}
    out: dict[str, GroupCounters] = defaultdict(GroupCounters)
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(GROUP_PROP)
                if group is None:
                    continue
                out[group].jobs += 1
                for info in ev.get("Stage Infos", []):
                    sid = info["Stage ID"]
                    stage_group[sid] = group
                    stage_python[sid] = any(
                        p in (r.get("Scope") or "") or p in (r.get("Name") or "")
                        for r in info.get("RDD Info", []) for p in _PYTHON_SCOPES)
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
    for ev in tasks:
        sid = ev["Stage ID"]
        group = stage_group.get(sid)
        if group is None:
            continue
        c = out[group]
        c.tasks += 1
        c.python_tasks += int(stage_python.get(sid, False))
        m = ev.get("Task Metrics") or {}
        c.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        c.exec_cpu_ms += m.get("Executor CPU Time", 0) / 1e6
    return dict(out)


def find_event_log(log_dir: str) -> str:
    logs = [os.path.join(log_dir, n) for n in os.listdir(log_dir)
            if not n.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    return logs[0]
