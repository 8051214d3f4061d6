"""Explicit StructType schemas for the sources the engine reads by hand.

The reference enforces schemas nowhere (CSV columns positional,
``generate_images_from_dicom.py:23-30``; dims hardcoded,
``generate_images_from_dicom.py:49``). The engine declares everything:
no ``inferSchema``, ever — on 100 TB an inference pass is a full extra
scan, and a drifting inferred type silently changes query semantics.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Reference-shaped inputs (FIXTURES.md F1-F7)
# ---------------------------------------------------------------------------

# F1: stage_1_train_labels.csv — one row per box; x/y/w/h arrive as string
# numerals and get int(float(s)) truncation casts (SURVEY.md O2).
LABELS_CSV = T.StructType(
    [
        T.StructField("patientId", T.StringType(), False),
        T.StructField("x", T.StringType(), True),
        T.StructField("y", T.StringType(), True),
        T.StructField("width", T.StringType(), True),
        T.StructField("height", T.StringType(), True),
        T.StructField("Target", T.StringType(), False),
    ]
)

# ---------------------------------------------------------------------------
# Driver-provided events table (FIXTURES.md F9) — declared, not inferred.
# ---------------------------------------------------------------------------

# The driver's events parquet has shipped ts in two physical shapes across
# testdata generations: TIMESTAMP(NANOS) (which Spark's parquet reader only
# accepts as a long via spark.sql.legacy.parquet.nanosAsLong) and plain
# TIMESTAMP(MICROS) without UTC adjustment (which Spark reads as
# TIMESTAMP_NTZ). Loaders sniff the footer and normalize either shape to
# microsecond TimestampType in a UTC session — the exact instants DuckDB
# produces for the same file, so differential checks on time arithmetic
# stay exact. EVENTS_RAW_NANOS / EVENTS_RAW_TS_NTZ are the two raw source
# schemas; EVENTS is the normalized shape every operator consumes.
EVENTS_RAW_NANOS = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.LongType(), False),  # ns since epoch
        T.StructField("user_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("value", T.DoubleType(), False),
        T.StructField("props", T.StringType(), True),
    ]
)

EVENTS_RAW_TS_NTZ = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampNTZType(), False),
        T.StructField("user_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("value", T.DoubleType(), False),
        T.StructField("props", T.StringType(), True),
    ]
)

EVENTS = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("user_id", T.LongType(), False),
        T.StructField("event_type", T.StringType(), False),
        T.StructField("value", T.DoubleType(), False),
        T.StructField("props", T.StringType(), True),
    ]
)
