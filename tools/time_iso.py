"""Isolated fresh-JVM timing of named registry queries (noop sink).

Usage:
  python tools/time_iso.py q_foo q_bar --reps 3
  python tools/time_iso.py q_foo --sf-dir /root/repo/.localdata/sf1

Methodology mirrors bench.py: warm the input tables first, burn one
calibration probe (codegen/first-touch), then run each query REPS
times through the noop sink and report min/median plus the probe wall
before each query (host-contention evidence). Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1"))
    ap.add_argument("--probe-dir", default=None,
                    help="calibration-probe data dir; defaults to the "
                         "sibling sf0.1 of --sf-dir (r12 advice: no "
                         "hardcoded /root/testdata)")
    args = ap.parse_args()

    import bench
    from breweries_data_pipeline_spark.session import get_spark
    from breweries_data_pipeline_spark.sources import read_table

    unknown = [q for q in args.queries if q not in bench.REGISTRY]
    if unknown:
        raise SystemExit(f"not in registry: {unknown}")

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")
    spark = get_spark(
        "time-iso", extra_conf={"spark.cleaner.periodicGC.interval": "45s"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    for t in bench.WARMUP_TABLES:
        bench._materialize(read_table(spark, args.sf_dir, t))
    # probe dir: explicit flag > the canonical sf0.1 (keeps probe walls
    # comparable to bench.py's clean spread) > sibling sf0.1 of
    # --sf-dir > --sf-dir itself (r12 advice: never FAIL on a host
    # without the canonical path; the probe only needs a small stable
    # parquet layout)
    candidates = [
        args.probe_dir,
        "/root/testdata/sf0.1",
        os.path.join(os.path.dirname(args.sf_dir.rstrip("/")), "sf0.1"),
        args.sf_dir,
    ]
    sf01 = next((d for d in candidates if d and os.path.isdir(d)), None)
    if sf01 is None:
        raise SystemExit(f"no probe dir found; tried {[d for d in candidates if d]}")
    bench._calibration_probe(spark, sf01)  # burn codegen/first-touch

    out: dict[str, dict] = {}
    for name in args.queries:
        probe = bench._calibration_probe(spark, sf01)
        fn, _ = bench.REGISTRY[name]
        spark.sparkContext.setJobDescription(f"time_iso:{name}")
        walls = []
        for _ in range(args.reps):
            t0 = time.perf_counter()
            bench._materialize(fn(spark, args.sf_dir))
            walls.append(round(time.perf_counter() - t0, 3))
            spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(None)
        walls_sorted = sorted(walls)
        out[name] = {
            "min": walls_sorted[0],
            "med": walls_sorted[len(walls_sorted) // 2],
            "reps": walls,
            "probe": probe,
            "load": bench._load_avg(),
        }
        bench._jvm_gc(spark)
    spark.stop()
    print(json.dumps(out, separators=(",", ":")))


if __name__ == "__main__":
    main()
