"""Vector column expressions over array<float|double> embeddings
(SURVEY.md §2.6 X8).

Pure JVM-side higher-order functions (aggregate) — no UDF, no
serialization. Elements are cast to double before accumulating so
results are precision-stable regardless of the stored element type.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def l2_norm(a: Column) -> Column:
    sq = F.aggregate(
        a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
    )
    return F.sqrt(sq)
