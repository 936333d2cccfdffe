"""The driver harness supplies its OWN plain SparkSession — the engine
must not depend on confs that only ``get_spark()`` sets (round-1
failure mode: ``spark.sql.legacy.parquet.nanosAsLong`` was session-only
and 4 registry queries died with PARQUET_TYPE_ILLEGAL under the
driver's vanilla session).

Two layers of defense:

1. fast in-process: force the conf to the hostile value and check
   ``read_table`` still reads events.parquet (it must set the conf at
   runtime itself);
2. subprocess: build a genuinely vanilla ``SparkSession`` (no engine
   confs at all — they'd otherwise leak in via the shared SparkConf)
   and run EVERY registry query to completion.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from pyspark.sql import types as T

from breweries_data_pipeline_spark.sources.readers import read_table

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_read_table_overrides_hostile_nanos_conf(spark, sf_dir):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    try:
        df = read_table(spark, sf_dir, "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)
        assert df.count() > 0
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


_VANILLA_RUNNER = """
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession

# deliberately NO engine confs: this is the driver harness's posture
spark = (
    SparkSession.builder.master("local[4]")
    .appName("vanilla-parity")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
from breweries_data_pipeline_spark.queries import REGISTRY, release_caches

failures = {{}}
for name, (fn, _sql) in sorted(REGISTRY.items()):
    try:
        n = fn(spark, {sf_dir!r}).count()
        assert n >= 0
    except Exception as exc:  # noqa: BLE001
        failures[name] = f"{{type(exc).__name__}}: {{exc}}"[:300]
# drop the caches and scratch catalog tables the queries left
release_caches()
print("RESULT:" + json.dumps(failures))
"""


def test_full_registry_under_vanilla_session(sf_dir):
    code = _VANILLA_RUNNER.format(repo=REPO, sf_dir=sf_dir)
    proc = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=600,
        check=False,
    )
    marker = [l for l in proc.stdout.splitlines() if l.startswith("RESULT:")]
    assert marker, f"runner died: rc={proc.returncode}\n{proc.stderr[-3000:]}"
    failures = json.loads(marker[0][len("RESULT:"):])
    assert not failures, f"queries failing under vanilla session: {failures}"
