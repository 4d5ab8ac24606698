"""Explicit StructType schemas for the records the daily pipeline reads.

Derived from the reference's observed record shapes (SURVEY.md §1.1):
- source payload: reference polla_app/sources/pozos.py:248-257,429-438
  plus ``source_name`` (pipeline.py:127) and an explicit
  ``source_priority`` column — the reference's consensus tie-break is
  Python-dict insertion order (pipeline.py:82-85,163-165); under Spark
  parallelism that ordering must be materialized as data.
- state row: pipeline.py:431-437 (fields used by _compute_unchanged,
  pipeline.py:257-285)

CLP amounts are LongType everywhere: test amounts reach 1.2e12
(reference tests/test_monetary_parser.py:51), overflowing int32.
"""

from __future__ import annotations

from pyspark.sql import types as T

#: The 9 category labels the reference extracts
#: (reference polla_app/sources/pozos.py:20-33).
CATEGORY_LABELS = [
    "Loto Clásico",
    "Recargado",
    "Revancha",
    "Desquite",
    "Jubilazo $1.000.000",
    "Jubilazo $500.000",
    "Jubilazo 50 años $1.000.000",
    "Jubilazo 50 años $500.000",
    "Total estimado",
]

# ---------------------------------------------------------------------------
# Ingest payloads
# ---------------------------------------------------------------------------

SOURCE_PAYLOAD = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("source_name", T.StringType(), False),
        T.StructField("source_priority", T.IntegerType(), False),
        T.StructField("fuente", T.StringType(), False),
        T.StructField("fetched_at", T.TimestampType(), False),
        T.StructField("sha256", T.StringType(), False),
        T.StructField("estimado", T.BooleanType(), False),
        T.StructField("user_agent", T.StringType(), True),
        T.StructField("sorteo", T.LongType(), True),
        T.StructField("fecha", T.DateType(), True),
        T.StructField("montos", T.MapType(T.StringType(), T.LongType()), True),
    ]
)

# ---------------------------------------------------------------------------
# Decision state
# ---------------------------------------------------------------------------

STATE_ROW = T.StructType(
    [
        # reference pipeline.py:257-285 comparison inputs
        T.StructField("sorteo", T.LongType(), True),
        T.StructField("fecha", T.DateType(), True),
        T.StructField("primary_sha256", T.StringType(), True),
        T.StructField("pozos_proximo", T.MapType(T.StringType(), T.LongType()), True),
    ]
)
