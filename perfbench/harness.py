"""Session lifecycle and pass timing shared by the untraced and the
traced run."""

from __future__ import annotations

import os
import statistics
import subprocess
import time

import procstat

RUN_PY = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
DRIVER_MEMORY = "1g"
# The JIT keeps compiling through every pass of a run, so each warm pass
# is faster than the one before. A fixed minimum puts the median at the
# same point of that curve in every run, and with three passes one pass
# slowed by the host does not decide it.
MIN_WARM_PASSES = 3


def env_for(work: str, cores: int) -> None:
    """Pin the session width and keep every scratch file in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts, the launcher's included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def session_conf(work: str) -> dict[str, str]:
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(work: str, extra: dict[str, str] | None = None):
    """Import the engine, build its session and complete one job."""
    from breweries_data_pipeline_spark import session

    spark = session.get_spark("perfbench", extra_conf={**session_conf(work), **(extra or {})})
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while len(procstat.tree_pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in procstat.tree_pids()[1:]:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


class PassLog:
    """Per-pass wall, process-tree CPU, peak memory and host
    diagnostics."""

    def __init__(self, spark, mem: procstat.PeakMemory):
        self.spark = spark
        self.mem = mem
        self.rows: list[dict] = []

    def timed(self, fn, *args):
        self.mem.take()
        jit0, gc0 = procstat.jvm_times_ms(self.spark)
        host0, cpu0 = procstat.host_cpu_ticks(), procstat.tree_cpu_s()
        t0 = time.perf_counter()
        result = fn(*args)
        wall = time.perf_counter() - t0
        cpu = procstat.tree_cpu_s() - cpu0
        jit1, gc1 = procstat.jvm_times_ms(self.spark)
        self.rows.append({
            "wall_s": wall, "cpu_s": cpu, "peak_mb": self.mem.take(),
            "jit_ms": jit1 - jit0, "gc_ms": gc1 - gc0,
            "steal_frac": procstat.steal_frac(host0, procstat.host_cpu_ticks()),
            "load_1m": procstat.load_avg_1m(),
        })
        return result


def run_passes(wl, log: PassLog, seconds: float, problems: list[str]):
    """First pass, then warm passes until ``seconds`` have passed since
    it ended and at least ``MIN_WARM_PASSES`` ran. Returns (attempted,
    failed, last good result); ``log.rows`` holds the passes that
    returned."""
    attempted = failed = 0
    last = None
    t_warm = None
    while (t_warm is None or attempted < 1 + MIN_WARM_PASSES
           or time.perf_counter() - t_warm < seconds):
        i = attempted
        attempted += 1
        try:
            res = log.timed(wl.run_pass, i)
        except Exception as e:  # noqa: BLE001 — a failed warm pass is counted, not fatal
            if i == 0:
                raise  # without a first pass there is nothing to report
            failed += 1
            problems.append(f"pass {i} raised {type(e).__name__}: {e}")
        else:
            bad = wl.pass_problems(res)
            if bad:
                failed += 1
                problems.extend(f"pass {i}: {p}" for p in bad)
            wl.finish_pass(res)
            last = res
        if t_warm is None:
            t_warm = time.perf_counter()
    return attempted, failed, last
