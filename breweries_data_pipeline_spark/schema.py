"""Declarative schema compiler: YAML/dict metadata -> Spark StructType.

Re-expresses the reference's metadata-driven schema system
(reference src/pipelines/breweries_transform_silver_notebook.py:47-62;
configs/metadata/breweries_metadata_ingestion.yml:10-42):

- per-column ``{name, type, nullable, description}`` records
- a ``"double?"`` suffix convention marks nullable typed columns
  (reference configs/breweries_ingestion_pipeline.yml:63-64)
- unlike the reference (which silently maps unknown type names to
  StringType), unknown types are an error, and ``integer`` maps to a
  real integral type instead of falling through to string.

Extension types (array<float>, binary, ...) support the LLM-pipeline
tables (embeddings, multimodal blobs).
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import types as T

_ATOMIC_TYPES: dict[str, T.DataType] = {
    "string": T.StringType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "timestamp": T.TimestampType(),
    "date": T.DateType(),
    "integer": T.IntegerType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "bigint": T.LongType(),
    "boolean": T.BooleanType(),
    "binary": T.BinaryType(),
}

_ARRAY_RE = re.compile(r"^(?:array|list)\s*<\s*(.+?)\s*>$")
_DECIMAL_RE = re.compile(r"^decimal\s*\(\s*(\d+)\s*,\s*(\d+)\s*\)$")


def parse_type(type_str: str) -> tuple[T.DataType, bool]:
    """Parse a metadata type string -> (DataType, nullable_hint).

    A trailing ``?`` marks the column nullable regardless of the
    record-level ``nullable`` flag (the reference strips it with
    ``.replace("?", "")`` — breweries_transform_silver_notebook.py:57).
    """
    s = type_str.strip().lower()
    nullable_hint = s.endswith("?")
    if nullable_hint:
        s = s[:-1].strip()
    m = _ARRAY_RE.match(s)
    if m:
        inner, _ = parse_type(m.group(1))
        return T.ArrayType(inner), nullable_hint
    m = _DECIMAL_RE.match(s)
    if m:
        return T.DecimalType(int(m.group(1)), int(m.group(2))), nullable_hint
    if s not in _ATOMIC_TYPES:
        raise ValueError(f"unknown type in schema metadata: {type_str!r}")
    return _ATOMIC_TYPES[s], nullable_hint


def build_struct_type(columns: list[dict[str, Any]]) -> T.StructType:
    """Compile a list of column metadata records into a StructType.

    Each record: ``{name: str, type: str, nullable: bool = True,
    description: str = ""}``.
    """
    fields = []
    for col in columns:
        dtype, nullable_hint = parse_type(col["type"])
        nullable = bool(col.get("nullable", True)) or nullable_hint
        fields.append(
            T.StructField(
                col["name"],
                dtype,
                nullable,
                metadata={"description": col.get("description", "")},
            )
        )
    return T.StructType(fields)
