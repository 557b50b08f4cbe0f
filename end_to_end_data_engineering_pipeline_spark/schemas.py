"""Explicit StructType schemas per layer (SURVEY §1).

Schema system is fixed + declared, validated at runtime — mirrors the
reference DDL (sql/raw_schema.sql, sql/staging_schema.sql) and the
payload shape imposed at flatten time (transformation/clean_data.py:59-89).
``local_frame`` turns a handful of driver-side rows into a DataFrame of
one of these schemas.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Bronze: raw API responses (reference sql/raw_schema.sql:23-36)
# ---------------------------------------------------------------------------

BRONZE_RESPONSES = T.StructType(
    [
        T.StructField("ingestion_id", T.StringType(), False),
        T.StructField("batch_id", T.StringType(), False),
        T.StructField("ingested_at", T.TimestampType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("city", T.StringType(), False),
        T.StructField("latitude", T.DoubleType(), True),
        T.StructField("longitude", T.DoubleType(), True),
        T.StructField("requested_start", T.DateType(), True),
        T.StructField("requested_end", T.DateType(), True),
        T.StructField("http_status", T.IntegerType(), True),
        # JSONB payload -> JSON string column (SURVEY §1.1)
        T.StructField("payload", T.StringType(), True),
        T.StructField("payload_bytes", T.LongType(), True),
    ]
)

# Batch log (reference sql/raw_schema.sql:7-19). "UPDATE" of status is
# modeled as append + latest-wins view (SURVEY §4.3.2).
BATCH_LOG = T.StructType(
    [
        T.StructField("batch_id", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("event_time", T.TimestampType(), False),
        T.StructField("requested_start", T.DateType(), True),
        T.StructField("requested_end", T.DateType(), True),
        T.StructField("locations", T.StringType(), True),  # JSON list
        T.StructField("status", T.StringType(), False),
        T.StructField("http_success_count", T.IntegerType(), True),
        T.StructField("http_failure_count", T.IntegerType(), True),
        T.StructField("total_payload_bytes", T.LongType(), True),
    ]
)

# The Open-Meteo payload document (FIXTURES.md A1; shape consumed at
# reference transformation/clean_data.py:59-74). Parallel arrays under
# `hourly`; `time` elements use format %Y-%m-%dT%H:%M.
PAYLOAD = T.StructType(
    [
        T.StructField("latitude", T.DoubleType(), True),
        T.StructField("longitude", T.DoubleType(), True),
        T.StructField(
            "hourly",
            T.StructType(
                [
                    T.StructField("time", T.ArrayType(T.StringType()), True),
                    T.StructField(
                        "temperature_2m", T.ArrayType(T.DoubleType()), True
                    ),
                    T.StructField(
                        "relative_humidity_2m", T.ArrayType(T.DoubleType()), True
                    ),
                    T.StructField(
                        "precipitation", T.ArrayType(T.DoubleType()), True
                    ),
                    T.StructField(
                        "wind_speed_10m", T.ArrayType(T.DoubleType()), True
                    ),
                ]
            ),
            True,
        ),
    ]
)

# Location list of the partition-parallel ingest (sources/rest.py)
LOCATIONS = T.StructType(
    [
        T.StructField("city", T.StringType(), True),
        T.StructField("latitude", T.DoubleType(), True),
        T.StructField("longitude", T.DoubleType(), True),
    ]
)

# ---------------------------------------------------------------------------
# Silver: staging.weather_hourly (reference sql/staging_schema.sql:7-20,
# PK (city, ts_utc) at :19 — enforced by keep-first dedup, SURVEY §1.3)
# ---------------------------------------------------------------------------

SILVER_WEATHER_HOURLY = T.StructType(
    [
        T.StructField("batch_id", T.StringType(), False),
        T.StructField("city", T.StringType(), False),
        T.StructField("latitude", T.DoubleType(), False),
        T.StructField("longitude", T.DoubleType(), False),
        T.StructField("ts_utc", T.TimestampType(), False),
        T.StructField("temperature_c", T.DoubleType(), True),
        T.StructField("relative_humidity_pct", T.IntegerType(), True),
        T.StructField("precipitation_mm", T.DoubleType(), True),
        T.StructField("wind_speed_kmh", T.DoubleType(), True),
        T.StructField("source_ingested_at", T.TimestampType(), False),
        T.StructField("loaded_at", T.TimestampType(), False),
    ]
)

SILVER_KEY = ("city", "ts_utc")

# Quality audit row (reference sql/staging_schema.sql:24-35)
QUALITY_RESULTS = T.StructType(
    [
        T.StructField("check_id", T.StringType(), False),
        T.StructField("batch_id", T.StringType(), False),
        T.StructField("checked_at", T.TimestampType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("row_count", T.LongType(), False),
        T.StructField("null_counts", T.StringType(), True),  # JSON map
        T.StructField("duplicate_count", T.LongType(), True),
        T.StructField("range_violations", T.StringType(), True),  # JSON map
    ]
)


def require_columns(df, cols) -> None:
    """Structural validation (reference transformation/clean_data.py:173-187
    and quality/checks.py:74-89): raise if any required column is absent."""
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"missing required columns: {missing}; have {df.columns}")


def local_frame(
    spark: SparkSession, rows: Sequence[dict[str, Any]], schema: T.StructType
) -> DataFrame:
    """A handful of driver-side rows (dicts keyed by field name) as a
    DataFrame of ``schema``, read by the JVM as one Arrow batch.

    ``spark.createDataFrame(rows, schema)`` pickles a Python list into a
    ``defaultParallelism``-slice RDD, so a one-row append runs one
    Python-worker task per core; an Arrow table becomes one partition
    with no Python worker. Naive datetimes are read as UTC, the session
    time zone ``get_spark`` pins. None in a non-nullable field raises
    ValueError, as on the list path."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(list(rows), schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema)
