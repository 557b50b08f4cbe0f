"""S1/S2/S3/S4: REST API source -> bronze append + batch log.

Reference: per-location GET against the Open-Meteo archive with
retrying session (ingestion/fetch_data.py:71-84 retry policy,
:168-177 request params), payload rows into raw JSONB (:194-216),
batch metadata open/close (:146-163, :242-263).

Engine design: the fetcher is INJECTED (``fetcher`` callable) so tests
and offline runs use a deterministic synthetic payload generator while
production wires an HTTP client with the same retry policy. Fetch
results and batch-log rows become DataFrames through
``schemas.local_frame``: one Arrow batch read by the JVM, so each
append is a one-task job with no Python worker, where
``spark.createDataFrame`` over a Python list would run one pickled
task per core. "Batch close" is an append of a final-status row
resolved by the latest-wins view (operators/merge.py) — no in-place
UPDATE (SURVEY §4.3.2).

Scale path: for thousands of locations, the location list becomes a
DataFrame and the fetch runs partition-parallel inside ``mapInPandas``
(each executor owns its HTTP session); the driver-side loop here is
the reference-parity formulation for handfuls of cities.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import uuid
from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..schemas import BATCH_LOG, BRONZE_RESPONSES, LOCATIONS, local_frame

SOURCE_NAME = "open-meteo-archive"


@dataclass(frozen=True)
class Location:
    city: str
    latitude: float
    longitude: float


@dataclass
class FetchResult:
    http_status: int
    payload: str | None  # JSON document (FIXTURES.md A1) or None on failure


Fetcher = Callable[[Location, dt.date, dt.date], FetchResult]


def synthetic_fetcher(
    fail_cities: Sequence[str] = (),
    missing_arrays: Sequence[str] = (),
    null_every: int = 0,
) -> Fetcher:
    """Deterministic fake Open-Meteo archive (no network; FIXTURES.md A1).

    Hourly values are smooth functions of (lat, lon, hour-index) so any
    run regenerates identical payloads. ``fail_cities`` simulate non-200
    responses (skip path P6); ``missing_arrays`` drops those keys from
    ``hourly`` (tolerance path F2); ``null_every`` nulls every Nth
    element (lenient-cast path P8)."""

    def fetch(loc: Location, start: dt.date, end: dt.date) -> FetchResult:
        if loc.city in fail_cities:
            return FetchResult(http_status=500, payload=None)
        hours = []
        cur = dt.datetime.combine(start, dt.time(0, 0))
        stop = dt.datetime.combine(end, dt.time(23, 0))
        while cur <= stop:
            hours.append(cur)
            cur += dt.timedelta(hours=1)

        def series(scale: float, offset: float, ndigits: int = 1):
            vals = []
            for i, _ in enumerate(hours):
                v = round(
                    offset
                    + scale * math.sin(i / 7.0 + loc.latitude)
                    + (i % 5) * 0.1,
                    ndigits,
                )
                if null_every and i % null_every == null_every - 1:
                    vals.append(None)
                else:
                    vals.append(v)
            return vals

        hourly = {
            "time": [h.strftime("%Y-%m-%dT%H:%M") for h in hours],
            "temperature_2m": series(8.0, 15.0),
            "relative_humidity_2m": [
                None if v is None else int(min(100, max(0, v)))
                for v in series(20.0, 60.0, 0)
            ],
            "precipitation": [
                None if v is None else round(max(0.0, v), 1)
                for v in series(2.0, 0.5)
            ],
            "wind_speed_10m": series(6.0, 12.0),
        }
        for k in missing_arrays:
            hourly.pop(k, None)
        doc = {
            "latitude": loc.latitude,
            "longitude": loc.longitude,
            "hourly": hourly,
        }
        return FetchResult(http_status=200, payload=json.dumps(doc))

    return fetch


def _require_hive_layout(bronze_path: str) -> None:
    """Appending partitioned files into a directory that already holds
    flat (non-partitioned) part files yields a mixed layout that
    ``spark.read.parquet`` misreads — root files mask partition
    discovery — so refuse rather than corrupt the bronze table."""
    if os.path.isdir(bronze_path) and any(
        f.endswith(".parquet") for f in os.listdir(bronze_path)
    ):
        raise RuntimeError(
            f"bronze path {bronze_path!r} holds non-partitioned parquet "
            "files; migrate it to batch_id= hive layout before appending"
        )


def ingest_batch(
    spark: SparkSession,
    locations: Sequence[Location],
    start: dt.date,
    end: dt.date,
    fetcher: Fetcher,
    bronze_path: str,
    batch_log_path: str,
    now: dt.datetime | None = None,
) -> str:
    """Run one ingestion batch; returns batch_id (SURVEY §3 entry 1).

    Appends one bronze row per location response and two batch-log rows
    (RUNNING open + final status close — reference fetch_data.py:146-163
    / :242-263). Raises if zero successes (:274-275)."""
    batch_id = str(uuid.uuid4())
    now = now or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)

    def log_row(status: str, ok: int, fail: int, nbytes: int) -> dict:
        return {
            "batch_id": batch_id,
            "source": SOURCE_NAME,
            "event_time": now,
            "requested_start": start,
            "requested_end": end,
            "locations": json.dumps(
                [
                    {"city": l.city, "latitude": l.latitude, "longitude": l.longitude}
                    for l in locations
                ]
            ),
            "status": status,
            "http_success_count": ok,
            "http_failure_count": fail,
            "total_payload_bytes": nbytes,
        }

    local_frame(spark, [log_row("RUNNING", 0, 0, 0)], BATCH_LOG).write.mode(
        "append"
    ).parquet(batch_log_path)

    rows, ok, fail, nbytes = [], 0, 0, 0
    for loc in locations:
        res = fetcher(loc, start, end)
        blen = len(res.payload or "")
        if res.http_status == 200:
            ok += 1
        else:
            fail += 1
        nbytes += blen
        rows.append(
            {
                "ingestion_id": str(uuid.uuid4()),
                "batch_id": batch_id,
                "ingested_at": now,
                "source": SOURCE_NAME,
                "city": loc.city,
                "latitude": loc.latitude,
                "longitude": loc.longitude,
                "requested_start": start,
                "requested_end": end,
                "http_status": res.http_status,
                "payload": res.payload,
                "payload_bytes": blen,
            }
        )
    # hive-partition by batch_id: partition pruning replaces the
    # reference's raw.batch_id index (sql/raw_schema.sql:40-41) — the
    # per-batch transform scan reads one partition, not the table
    _require_hive_layout(bronze_path)
    local_frame(spark, rows, BRONZE_RESPONSES).write.mode("append").partitionBy(
        "batch_id"
    ).parquet(bronze_path)

    status = "SUCCESS" if fail == 0 else "PARTIAL_FAILURE"
    final = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    row = log_row(status, ok, fail, nbytes)
    row["event_time"] = final if final > now else now + dt.timedelta(seconds=1)
    local_frame(spark, [row], BATCH_LOG).write.mode("append").parquet(batch_log_path)
    if ok == 0:
        raise RuntimeError(f"batch {batch_id}: zero successful responses")
    return batch_id


def retrying_fetcher(
    inner: Fetcher,
    max_retries: int = 5,
    backoff_factor: float = 0.5,
    retry_statuses: Sequence[int] = (429, 500, 502, 503, 504),
    sleeper: Callable[[float], None] | None = None,
) -> Fetcher:
    """S2 retry policy around any fetcher: up to ``max_retries``
    re-attempts on retryable HTTP statuses with exponential backoff
    (reference ingestion/fetch_data.py:71-84 — urllib3 Retry with
    backoff_factor 0.5 on 429/5xx, GET only).

    ``sleeper`` is injectable so tests assert the backoff schedule
    without waiting; production passes time.sleep (the default)."""
    import time as _time

    sleep = sleeper if sleeper is not None else _time.sleep

    def fetch(loc: Location, start: dt.date, end: dt.date) -> FetchResult:
        attempt = 0
        while True:
            res = inner(loc, start, end)
            if res.http_status not in retry_statuses or attempt >= max_retries:
                return res
            # urllib3 schedule: {backoff} * 2^(attempt) seconds
            sleep(backoff_factor * (2**attempt))
            attempt += 1

    return fetch


def ingest_batch_distributed(
    spark: SparkSession,
    locations: Sequence[Location],
    start: dt.date,
    end: dt.date,
    fetcher_factory: Callable[[], Fetcher],
    bronze_path: str,
    batch_log_path: str,
    now: dt.datetime | None = None,
    fetch_partitions: int = 8,
) -> str:
    """The 100 TB-shape ingestion: the location list becomes a DataFrame
    and the fetch runs partition-parallel inside ``mapInPandas`` — each
    executor builds its own fetcher (``fetcher_factory`` runs ON the
    executor, so HTTP sessions/retry state are per-worker, never
    pickled). The driver-side loop variant (ingest_batch) remains the
    reference-parity form for handfuls of cities.

    Returns batch_id; writes the same bronze rows + batch-log open/close
    rows as ingest_batch.
    """
    import pandas as pd

    batch_id = str(uuid.uuid4())
    now = now or dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    loc_rows = [
        {"city": l.city, "latitude": l.latitude, "longitude": l.longitude}
        for l in locations
    ]

    def log_df(status: str, ok: int, fail: int, nbytes: int, ts: dt.datetime):
        return local_frame(
            spark,
            [
                {
                    "batch_id": batch_id,
                    "source": SOURCE_NAME,
                    "event_time": ts,
                    "requested_start": start,
                    "requested_end": end,
                    "locations": json.dumps(loc_rows),
                    "status": status,
                    "http_success_count": ok,
                    "http_failure_count": fail,
                    "total_payload_bytes": nbytes,
                }
            ],
            BATCH_LOG,
        )

    log_df("RUNNING", 0, 0, 0, now).write.mode("append").parquet(batch_log_path)

    loc_df = local_frame(spark, loc_rows, LOCATIONS).repartition(
        min(fetch_partitions, max(1, len(loc_rows)))
    )

    def fetch_partition(batches):
        fetcher = fetcher_factory()  # one per task: executor-local state
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                res = fetcher(Location(r.city, r.latitude, r.longitude), start, end)
                out.append(
                    {
                        "ingestion_id": str(uuid.uuid4()),
                        "batch_id": batch_id,
                        "ingested_at": now,
                        "source": SOURCE_NAME,
                        "city": r.city,
                        "latitude": r.latitude,
                        "longitude": r.longitude,
                        "requested_start": start,
                        "requested_end": end,
                        "http_status": res.http_status,
                        "payload": res.payload,
                        "payload_bytes": len(res.payload or ""),
                    }
                )
            yield pd.DataFrame(
                out, columns=[f.name for f in BRONZE_RESPONSES.fields]
            )

    bronze = loc_df.mapInPandas(fetch_partition, schema=BRONZE_RESPONSES)
    _require_hive_layout(bronze_path)
    bronze.write.mode("append").partitionBy("batch_id").parquet(bronze_path)

    written = spark.read.parquet(bronze_path).where(
        f"batch_id = '{batch_id}'"
    )
    from pyspark.sql import functions as F

    counters = written.agg(
        F.sum((F.col("http_status") == 200).cast("int")).alias("ok"),
        F.sum((F.col("http_status") != 200).cast("int")).alias("fail"),
        F.sum("payload_bytes").alias("nbytes"),
    ).collect()[0]
    status = "SUCCESS" if (counters.fail or 0) == 0 else "PARTIAL_FAILURE"
    log_df(
        status,
        int(counters.ok or 0),
        int(counters.fail or 0),
        int(counters.nbytes or 0),
        now + dt.timedelta(seconds=1),
    ).write.mode("append").parquet(batch_log_path)
    if (counters.ok or 0) == 0:
        raise RuntimeError(f"batch {batch_id}: zero successful responses")
    return batch_id
