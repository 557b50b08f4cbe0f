"""End-to-end pipeline driver: ingest -> transform -> quality -> load -> gold.

The Airflow DAG chain (airflow/dags/etl_pipeline_dag.py:80 ``ingest >>
transform >> quality_checks >> load >> dbt_run >> dbt_test``) as one
plain Python function over a warehouse directory. Spark handles
intra-stage distribution; stage boundaries are the intentional
materialization points (bronze/silver/gold Parquet) — SURVEY §3/§4.1.

The transform stage is ONE lazy plan (scan bronze -> filter batch ->
flatten -> project/cast -> na.drop -> keep-first dedup -> sort), where
the reference round-trips per-city Polars frames and a mid-pipeline
Parquet handoff (clean_data.py:130,156,171). ``run_pipeline`` persists
that plan's result once per batch: the quality gate's two jobs and the
upsert read the cached batch instead of each re-running the scan,
flatten and dedup.
"""

from __future__ import annotations

import datetime as dt
import os
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import dedup_keep_first, flatten_payloads, merge_upsert
from .plans import build_dim_date, build_dim_location, build_fact_weather
from .quality import Expectations, not_null_rule, range_rule, relationship_violations
from .schemas import SILVER_KEY, SILVER_WEATHER_HOURLY
from .sources import Fetcher, Location, ingest_batch


@dataclass
class Warehouse:
    root: str

    @property
    def bronze(self) -> str:
        return os.path.join(self.root, "bronze", "open_meteo_responses")

    @property
    def batch_log(self) -> str:
        return os.path.join(self.root, "bronze", "ingestion_batches")

    @property
    def silver(self) -> str:
        return os.path.join(self.root, "silver", "weather_hourly")

    @property
    def gold(self) -> str:
        return os.path.join(self.root, "gold")


def silver_expectations() -> Expectations:
    """The reference's physical range rules (quality/checks.py:100-107).

    Built lazily — Column expressions need an active SparkContext."""
    return Expectations(
        required_columns=[f.name for f in SILVER_WEATHER_HOURLY.fields],
        rules=[
            not_null_rule("city"),
            not_null_rule("ts_utc"),
            not_null_rule("batch_id"),
            range_rule("temperature_c", -90.0, 60.0),
            range_rule("relative_humidity_pct", 0, 100),
            range_rule("precipitation_mm", 0.0, 500.0),
            range_rule("wind_speed_kmh", 0.0, 200.0),
        ],
        unique_keys=SILVER_KEY,
    )


def transform(spark: SparkSession, wh: Warehouse, batch_id: str) -> DataFrame:
    """Bronze batch -> typed, deduplicated silver-shaped DataFrame.

    Mirrors clean_data.py:92-159 as one Catalyst plan: S5 filtered scan
    (partition-prunable on batch_id), F1 flatten, P4 lit batch_id,
    P1 fixed projection, P5 drop_nulls, O3 keep-first dedup, O1 sort."""
    bronze = spark.read.parquet(wh.bronze).where(F.col("batch_id") == batch_id)
    flat = flatten_payloads(bronze)
    projected = flat.select(
        F.lit(batch_id).alias("batch_id"),
        "city",
        "latitude",
        "longitude",
        "ts_utc",
        "temperature_c",
        "relative_humidity_pct",
        "precipitation_mm",
        "wind_speed_kmh",
        "source_ingested_at",
    ).na.drop("any")
    deduped = dedup_keep_first(
        projected, SILVER_KEY, ["source_ingested_at", "batch_id"]
    )
    return deduped.orderBy("city", "ts_utc").withColumn(
        "loaded_at", F.lit(dt.datetime(2026, 1, 1)).cast("timestamp")
    )


def run_pipeline(
    spark: SparkSession,
    warehouse_root: str,
    locations: Sequence[Location],
    start: dt.date,
    end: dt.date,
    fetcher: Fetcher,
) -> dict:
    """Full DAG for one batch. Returns stage summary."""
    wh = Warehouse(warehouse_root)

    batch_id = ingest_batch(
        spark, locations, start, end, fetcher, wh.bronze, wh.batch_log
    )
    silver_batch = transform(spark, wh, batch_id).persist()
    try:
        # quality gate BEFORE load (DAG order: transform >> quality >> load)
        audit = silver_expectations().gate(silver_batch, batch_id)
        n_silver = merge_upsert(spark, wh.silver, silver_batch, SILVER_KEY)
    finally:
        silver_batch.unpersist()

    # gold rebuild (dbt run): full refresh per reference materialization
    silver = spark.read.parquet(wh.silver)
    dim_location = build_dim_location(silver)
    dim_date = build_dim_date(silver)
    fact = build_fact_weather(silver)
    for name, df in [
        ("dim_location", dim_location),
        ("dim_date", dim_date),
        ("fact_weather_hourly", fact),
    ]:
        df.write.mode("overwrite").parquet(os.path.join(wh.gold, name))

    # dbt-test equivalents (schema.yml): uniqueness + referential integrity
    gold = {
        n: spark.read.parquet(os.path.join(wh.gold, n))
        for n in ("dim_location", "dim_date", "fact_weather_hourly")
    }
    fact_df = gold["fact_weather_hourly"]
    tests = {
        "unique_dim_location": gold["dim_location"]
        .groupBy("location_id")
        .count()
        .where("count > 1")
        .count(),
        "unique_dim_date": gold["dim_date"]
        .groupBy("date_id")
        .count()
        .where("count > 1")
        .count(),
        "fk_location": relationship_violations(
            fact_df, gold["dim_location"], "location_id"
        ),
        "fk_date": relationship_violations(fact_df, gold["dim_date"], "date_id"),
    }
    if any(tests.values()):
        raise RuntimeError(f"gold data tests failed: {tests}")

    return {
        "batch_id": batch_id,
        "audit": audit,
        "n_silver": n_silver,
        "gold_tests": tests,
    }
