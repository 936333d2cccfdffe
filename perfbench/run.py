"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload medallion --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (see perfbench/README.md). Everything the run writes
goes under ``.perfbench_work/`` (removed at exit) and, for traced
runs, the span dump under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import harness  # noqa: E402
import procstat  # noqa: E402

def untraced(args, work: str) -> dict:
    import workloads

    spark = harness.start_session(work)
    setup_s = procstat.process_age_s()
    problems: list[str] = []
    with procstat.PeakMemory() as mem:
        wl = workloads.WORKLOADS[args.workload](spark, os.path.join(work, "data"), args.seed)
        log = harness.PassLog(spark, mem)
        attempted, failed, last = harness.run_passes(wl, log, args.seconds, problems)
    if last is not None:
        final = wl.output_problems(last)
        if final:
            failed = min(attempted, failed + 1)
            problems.extend(final)
    harness.stop_session(spark)

    warm = log.rows[1:]
    walls = [r["wall_s"] for r in warm]
    q1, med, q3 = harness.quartiles(walls)
    metrics = {
        "setup_s": (setup_s, "s"),
        "first_pass_s": (log.rows[0]["wall_s"], "s"),
        "rows_per_s": (wl.input_rows / med, "1/s"),
        "cpu_s_per_pass": (statistics.median(r["cpu_s"] for r in warm), "s"),
        "peak_rss_mb": (statistics.median(r["peak_mb"] for r in warm), "MB"),
    }
    print(f"workload {args.workload} seed {args.seed} input_rows {wl.input_rows} "
          f"cores {args.cores} warm_passes {len(warm)}")
    for name, (v, unit) in metrics.items():
        print(f"  {name:<16} {v:12.4f} {unit}")
    print(f"  {'failed_frac':<16} {failed / attempted:12.4f} 1  ({failed} of {attempted} passes)")
    print(f"  warm wall quartiles s: {q1:.3f} {med:.3f} {q3:.3f}")
    for line in wl.report_lines():
        print(f"  {line}")
    print("  per pass: " + "; ".join(
        f"{r['wall_s']:.2f}s cpu {r['cpu_s']:.1f}s pss {r['peak_mb']:.0f}MB jit {r['jit_ms']:.0f}ms gc {r['gc_ms']:.0f}ms "
        f"steal {r['steal_frac']:.3f} load {r['load_1m']:.1f}" for r in log.rows))
    for p in problems:
        print(f"  PROBLEM {p}")
    return {"correct": not problems, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["medallion", "corpus_dedup"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "breweries_data_pipeline_spark")):
        print("engine package breweries_data_pipeline_spark not found next to perfbench/",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    harness.env_for(work, args.cores)
    try:
        if args.trace:
            import traced
            result = traced.run(args, work)
        else:
            result = untraced(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
