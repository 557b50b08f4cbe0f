"""End-to-end weather pipeline tests (the reference's core path).

Covers SURVEY §7 step 2-5: ingest (synthetic fetcher) -> flatten ->
dedup -> quality gate -> merge-upsert -> star schema + data tests.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time
import uuid

import pytest
from pyspark.sql import functions as F

from end_to_end_data_engineering_pipeline_spark.operators import (
    dedup_keep_first,
    flatten_payloads,
    merge_upsert,
)
from end_to_end_data_engineering_pipeline_spark.operators.merge import latest_wins
from end_to_end_data_engineering_pipeline_spark.pipeline import (
    Warehouse,
    run_pipeline,
    transform,
)
from end_to_end_data_engineering_pipeline_spark.quality import (
    Expectations,
    QualityGateError,
    not_null_rule,
    range_rule,
)
from end_to_end_data_engineering_pipeline_spark.schemas import (
    BATCH_LOG,
    BRONZE_RESPONSES,
    local_frame,
)
from end_to_end_data_engineering_pipeline_spark.sources import (
    FetchResult,
    Location,
    ingest_batch,
    synthetic_fetcher,
)

LOCS = [
    Location("Paris", 48.8566, 2.3522),
    Location("Lyon", 45.7640, 4.8357),
    Location("Marseille", 43.2965, 5.3698),
]
START, END = dt.date(2026, 8, 1), dt.date(2026, 8, 3)


def test_pipeline_end_to_end(spark, tmp_path):
    out = run_pipeline(
        spark, str(tmp_path), LOCS, START, END, synthetic_fetcher()
    )
    # 3 cities x 3 days x 24 h
    assert out["n_silver"] == 3 * 3 * 24
    assert out["audit"]["status"] == "PASS"
    assert all(v == 0 for v in out["gold_tests"].values())

    wh = Warehouse(str(tmp_path))
    silver = spark.read.parquet(wh.silver)
    assert silver.where(F.col("ts_utc").isNull()).count() == 0
    dim_loc = spark.read.parquet(wh.gold + "/dim_location")
    assert dim_loc.count() == 3

    # second run with overlapping window: upsert keeps key uniqueness
    out2 = run_pipeline(
        spark,
        str(tmp_path),
        LOCS,
        dt.date(2026, 8, 2),
        dt.date(2026, 8, 4),
        synthetic_fetcher(),
    )
    silver2 = spark.read.parquet(wh.silver)
    # 4 distinct days now
    assert silver2.count() == 3 * 4 * 24
    dups = silver2.groupBy("city", "ts_utc").count().where("count > 1").count()
    assert dups == 0
    # overlapping days re-assigned to the newer batch (DO UPDATE wins)
    overlap = silver2.where(F.to_date("ts_utc") == F.lit("2026-08-03"))
    assert set(r.batch_id for r in overlap.select("batch_id").distinct().collect()) == {
        out2["batch_id"]
    }


def test_partial_failure_and_skip_path(spark, tmp_path):
    wh = Warehouse(str(tmp_path))
    batch_id = ingest_batch(
        spark,
        LOCS,
        START,
        END,
        synthetic_fetcher(fail_cities=["Lyon"]),
        wh.bronze,
        wh.batch_log,
    )
    bronze = spark.read.parquet(wh.bronze)
    assert bronze.where("http_status = 500").count() == 1
    # non-200 rows are skipped by the flatten filter (P6)
    flat = flatten_payloads(bronze.where(F.col("batch_id") == batch_id))
    assert flat.select("city").distinct().count() == 2
    # batch log: latest-wins resolves to PARTIAL_FAILURE
    log = latest_wins(
        spark.read.parquet(wh.batch_log), "batch_id", "event_time"
    )
    row = log.where(F.col("batch_id") == batch_id).collect()[0]
    assert row.status == "PARTIAL_FAILURE"
    assert row.http_success_count == 2 and row.http_failure_count == 1


def test_missing_arrays_tolerated(spark, tmp_path):
    wh = Warehouse(str(tmp_path))
    ingest_batch(
        spark,
        LOCS[:1],
        START,
        START,
        synthetic_fetcher(missing_arrays=["precipitation"]),
        wh.bronze,
        wh.batch_log,
    )
    flat = flatten_payloads(spark.read.parquet(wh.bronze))
    assert flat.count() == 24
    assert flat.where(F.col("precipitation_mm").isNull()).count() == 24
    assert flat.where(F.col("temperature_c").isNull()).count() == 0


def test_zero_success_raises(spark, tmp_path):
    wh = Warehouse(str(tmp_path))
    with pytest.raises(RuntimeError, match="zero successful"):
        ingest_batch(
            spark,
            LOCS,
            START,
            END,
            synthetic_fetcher(fail_cities=[l.city for l in LOCS]),
            wh.bronze,
            wh.batch_log,
        )


def test_dedup_keep_first_deterministic(spark):
    rows = [
        ("a", 1, "x", 3),
        ("a", 1, "y", 1),
        ("a", 1, "z", 2),
        ("b", 2, "w", 9),
    ]
    df = spark.createDataFrame(rows, ["k1", "k2", "v", "ord"])
    out = dedup_keep_first(df, ["k1", "k2"], ["ord"])
    got = {(r.k1, r.k2): r.v for r in out.collect()}
    assert got == {("a", 1): "y", ("b", 2): "w"}


def test_quality_gate_fails_with_exact_counts(spark):
    rows = [
        # (city, ts, temp, hum)
        ("p", dt.datetime(2026, 1, 1, 0), -120.0, 50),  # temp range violation
        ("p", dt.datetime(2026, 1, 1, 1), 10.0, 150),  # humidity violation
        ("p", dt.datetime(2026, 1, 1, 1), 11.0, 60),  # duplicate key
        ("p", dt.datetime(2026, 1, 1, 2), None, 60),  # null temp ok (range only)
        (None, dt.datetime(2026, 1, 1, 3), 10.0, 60),  # null city
    ]
    df = spark.createDataFrame(
        rows, "city string, ts_utc timestamp, temperature_c double, relative_humidity_pct int"
    )
    exp = Expectations(
        rules=[
            not_null_rule("city"),
            range_rule("temperature_c", -90, 60),
            range_rule("relative_humidity_pct", 0, 100),
        ],
        unique_keys=("city", "ts_utc"),
    )
    audit = exp.run(df, "b1")
    assert audit["status"] == "FAIL"
    assert audit["row_count"] == 5
    assert audit["duplicate_count"] == 1
    assert audit["violations"] == {
        "null:city": 1,
        "range:temperature_c": 1,
        "range:relative_humidity_pct": 1,
    }
    with pytest.raises(QualityGateError):
        exp.gate(df, "b1")
    # clean subset passes (filter BEFORE dedup — dropDuplicates keeps an
    # arbitrary row, the exact trap dedup_keep_first exists to avoid)
    clean = (
        df.where("city is not null")
        .na.drop()
        .where("temperature_c >= -90 and relative_humidity_pct <= 100")
        .dropDuplicates(["city", "ts_utc"])
    )
    ok = exp.run(clean, "b1")
    assert ok["status"] == "PASS"


def test_merge_upsert_new_wins(spark, tmp_path):
    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [("a", 1, "old"), ("b", 2, "old")], ["k", "ts", "val"]
    )
    n = merge_upsert(spark, path, base, ["k", "ts"])
    assert n == 2
    upd = spark.createDataFrame(
        [("a", 1, "new"), ("c", 3, "new")], ["k", "ts", "val"]
    )
    n2 = merge_upsert(spark, path, upd, ["k", "ts"])
    assert n2 == 3
    got = {(r.k, r.ts): r.val for r in spark.read.parquet(path).collect()}
    assert got == {("a", 1): "new", ("b", 2): "old", ("c", 3): "new"}


def test_null_elements_survive_flatten(spark, tmp_path):
    wh = Warehouse(str(tmp_path))
    ingest_batch(
        spark,
        LOCS[:1],
        START,
        START,
        synthetic_fetcher(null_every=6),
        wh.bronze,
        wh.batch_log,
    )
    flat = flatten_payloads(spark.read.parquet(wh.bronze))
    assert flat.count() == 24
    assert flat.where(F.col("temperature_c").isNull()).count() == 4


def test_retrying_fetcher_backoff_schedule(spark):
    from end_to_end_data_engineering_pipeline_spark.sources.rest import (
        FetchResult,
        retrying_fetcher,
    )

    calls = {"n": 0}
    sleeps: list[float] = []

    def flaky(loc, start, end):
        calls["n"] += 1
        if calls["n"] < 4:
            return FetchResult(http_status=503, payload=None)
        return FetchResult(http_status=200, payload="{}")

    fetch = retrying_fetcher(flaky, max_retries=5, sleeper=sleeps.append)
    res = fetch(LOCS[0], START, END)
    assert res.http_status == 200
    assert calls["n"] == 4
    assert sleeps == [0.5, 1.0, 2.0]  # the urllib3 exponential schedule

    # non-retryable status returns immediately
    calls["n"] = 0
    sleeps.clear()
    fetch2 = retrying_fetcher(
        lambda l, s, e: FetchResult(404, None), sleeper=sleeps.append
    )
    assert fetch2(LOCS[0], START, END).http_status == 404
    assert sleeps == []

    # budget exhaustion returns the last failure
    always = retrying_fetcher(
        lambda l, s, e: FetchResult(500, None), max_retries=2, sleeper=sleeps.append
    )
    assert always(LOCS[0], START, END).http_status == 500
    assert len(sleeps) == 2


def test_retrying_fetcher_batch_log_accounting(spark, tmp_path):
    """Retry wrapper composed with ingest_batch: a city that recovers
    within the retry budget counts as a SUCCESS row; one that never
    recovers is a failure row and flips the batch to PARTIAL_FAILURE —
    the reference's http_success/http_failure counters
    (ingestion/fetch_data.py:242-263) fed through the retry session
    (:71-84)."""
    from end_to_end_data_engineering_pipeline_spark.sources.rest import (
        FetchResult,
        retrying_fetcher,
    )

    wh = Warehouse(str(tmp_path))
    good = synthetic_fetcher()
    attempts: dict[str, int] = {}

    def flaky(loc, start, end):
        n = attempts.get(loc.city, 0) + 1
        attempts[loc.city] = n
        if loc.city == "Lyon" and n < 3:  # recovers on 3rd attempt
            return FetchResult(http_status=429, payload=None)
        if loc.city == "Marseille":  # never recovers
            return FetchResult(http_status=503, payload=None)
        return good(loc, start, end)

    sleeps: list[float] = []
    batch_id = ingest_batch(
        spark,
        LOCS,
        START,
        END,
        retrying_fetcher(flaky, max_retries=3, sleeper=sleeps.append),
        wh.bronze,
        wh.batch_log,
    )
    assert attempts == {"Paris": 1, "Lyon": 3, "Marseille": 4}
    # Lyon: 2 backoffs (0.5, 1.0); Marseille: full budget (0.5, 1.0, 2.0)
    assert sorted(sleeps) == [0.5, 0.5, 1.0, 1.0, 2.0]
    bronze = spark.read.parquet(wh.bronze).where(
        F.col("batch_id") == batch_id
    )
    assert bronze.where("http_status = 200").count() == 2  # Paris + Lyon
    assert bronze.where("http_status = 503").count() == 1  # Marseille
    log = latest_wins(
        spark.read.parquet(wh.batch_log), "batch_id", "event_time"
    ).collect()[0]
    assert log.status == "PARTIAL_FAILURE"
    assert log.http_success_count == 2
    assert log.http_failure_count == 1


def test_distributed_ingest_matches_driver_loop(spark, tmp_path):
    from end_to_end_data_engineering_pipeline_spark.sources.rest import (
        ingest_batch_distributed,
    )

    wh_a = Warehouse(str(tmp_path / "a"))
    wh_b = Warehouse(str(tmp_path / "b"))
    now = dt.datetime(2026, 8, 10, 12, 0, 0)
    ingest_batch(
        spark, LOCS, START, END, synthetic_fetcher(), wh_a.bronze, wh_a.batch_log,
        now=now,
    )
    ingest_batch_distributed(
        spark, LOCS, START, END, synthetic_fetcher,
        wh_b.bronze, wh_b.batch_log, now=now,
    )
    a = spark.read.parquet(wh_a.bronze).select(
        "city", "latitude", "longitude", "http_status", "payload", "payload_bytes"
    )
    b = spark.read.parquet(wh_b.bronze).select(
        "city", "latitude", "longitude", "http_status", "payload", "payload_bytes"
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # the flatten downstream agrees too
    fa = flatten_payloads(spark.read.parquet(wh_a.bronze))
    fb = flatten_payloads(spark.read.parquet(wh_b.bronze))
    assert fa.count() == fb.count() == 3 * 3 * 24


def test_ingest_refuses_flat_bronze_layout(spark, tmp_path):
    """Appending batch_id-partitioned files into a directory of flat
    part files produces a mixed layout Spark misreads; ingest must
    refuse rather than corrupt the bronze table."""
    import pytest

    wh = Warehouse(str(tmp_path))
    # simulate a legacy non-partitioned bronze dir
    spark.range(3).write.mode("overwrite").parquet(wh.bronze)
    with pytest.raises(RuntimeError, match="non-partitioned"):
        ingest_batch(
            spark, LOCS, START, END, synthetic_fetcher(), wh.bronze,
            wh.batch_log,
        )


def test_merge_upsert_schema_evolution(spark, tmp_path):
    """allow_schema_evolution: a new column in the update batch is
    null-filled on existing rows (Delta autoMerge analog); without the
    flag the same drift raises instead of silently corrupting."""
    import pytest

    target = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "k int, v string"
    ).write.parquet(target)

    evolved = spark.createDataFrame(
        [(2, "b2", 9.0), (3, "c", 7.0)], "k int, v string, score double"
    )
    # strict default: drift raises
    with pytest.raises(Exception):
        merge_upsert(spark, target, evolved, ["k"])

    n = merge_upsert(spark, target, evolved, ["k"], allow_schema_evolution=True)
    assert n == 3
    got = {r.k: (r.v, r.score) for r in spark.read.parquet(target).collect()}
    assert got == {1: ("a", None), 2: ("b2", 9.0), 3: ("c", 7.0)}

    # the new column is in every rewritten file's parquet FOOTER (not
    # just schema-merged at read time)
    import os

    import pyarrow.parquet as pq

    for f in os.listdir(target):
        if f.endswith(".parquet") and not f.startswith((".", "_")):
            names = pq.ParquetFile(os.path.join(target, f)).schema_arrow.names
            assert "score" in names, (f, names)

    # the mirror direction: an update batch MISSING a column null-fills it
    shrunk = spark.createDataFrame([(4, "d")], "k int, v string")
    n2 = merge_upsert(spark, target, shrunk, ["k"], allow_schema_evolution=True)
    assert n2 == 4
    got2 = {r.k: (r.v, r.score) for r in spark.read.parquet(target).collect()}
    assert got2[4] == ("d", None) and got2[2] == ("b2", 9.0)


def test_quarantine_split_reasons_and_partition(spark):
    """Routing is an exact partition: every row lands in exactly one
    side, reasons list EVERY violated rule in declaration order, and
    nulls are not range violations (they hit the null rule only)."""
    from end_to_end_data_engineering_pipeline_spark.quality.expectations import (
        not_null_row,
        quarantine_split,
        range_row,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, 99.0), (3, None), (4, -5.0)],
        "id long, v double",
    )
    good, bad = quarantine_split(
        df, [not_null_row("v"), range_row("v", 0, 50)]
    )
    assert [r.id for r in good.collect()] == [1]
    got = {r.id: list(r.quarantine_reasons) for r in bad.collect()}
    assert got == {
        2: ["range:v"],
        3: ["null:v"],  # null is NOT a range violation
        4: ["range:v"],
    }
    assert good.count() + bad.count() == df.count()


@pytest.fixture
def utc_process(monkeypatch):
    """``createDataFrame`` over a Python list reads naive datetimes in
    the process's local zone; ``local_frame`` reads them in the session
    zone (UTC). The engine runs with both in UTC, so compare there."""
    monkeypatch.setenv("TZ", "UTC")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_local_frame_matches_list_path(spark, utc_process):
    ts = dt.datetime(2026, 8, 1, 13, 5, 7, 123456)
    bronze = [
        {
            "ingestion_id": "i1",
            "batch_id": "b1",
            "ingested_at": ts,
            "source": "s",
            "city": "Paris",
            "latitude": 48.8566,
            "longitude": 2.3522,
            "requested_start": dt.date(2026, 8, 1),
            "requested_end": dt.date(2026, 8, 3),
            "http_status": 200,
            "payload": '{"hourly": {}}',
            "payload_bytes": 14,
        },
        {
            "ingestion_id": "i2",
            "batch_id": "b1",
            "ingested_at": ts + dt.timedelta(microseconds=1),
            "source": "s",
            "city": "Lyon",
            "latitude": None,
            "longitude": None,
            "requested_start": None,
            "requested_end": None,
            "http_status": None,
            "payload": None,
            "payload_bytes": None,
        },
    ]
    log = [
        {
            "batch_id": "b1",
            "source": "s",
            "event_time": dt.datetime(1999, 12, 31, 23, 59, 59, 999999),
            "requested_start": dt.date(1970, 1, 1),
            "requested_end": None,
            "locations": None,
            "status": "RUNNING",
            "http_success_count": None,
            "http_failure_count": 0,
            "total_payload_bytes": 2**40,
        }
    ]
    for rows, schema in ((bronze, BRONZE_RESPONSES), (log, BATCH_LOG)):
        got = local_frame(spark, rows, schema)
        want = spark.createDataFrame(rows, schema)
        assert got.schema == want.schema == schema
        assert got.collect() == want.collect()
        # None in a non-nullable field is still refused
        bad = [dict(rows[0], batch_id=None)]
        with pytest.raises(ValueError):
            local_frame(spark, bad, schema)
        with pytest.raises(ValueError):
            spark.createDataFrame(bad, schema)


@pytest.mark.parametrize("zone", ["UTC", "America/New_York"])
def test_pin_result_round_trips_types(spark, monkeypatch, zone):
    """pin_result hands back the schema and the rows it pinned, for
    struct, array, map, decimal, microsecond-timestamp, date and null
    columns and duplicate column names, whatever the driver process's
    time zone (``collect()`` renders TIMESTAMP in it)."""
    from end_to_end_data_engineering_pipeline_spark.catalog import pin_result

    monkeypatch.setenv("TZ", zone)
    time.tzset()
    try:
        flat = spark.sql(
            """
            SELECT * FROM VALUES
              (1, CAST('12345.6789' AS DECIMAL(18, 4)),
               TIMESTAMP'2021-03-14 07:30:00.000001', DATE'2020-02-29',
               CAST(NULL AS STRING), 10L),
              (2, NULL, NULL, NULL, 'y', 20L)
            AS t(id, dec, ts, d, n, id)
            """
        )
        nested = spark.sql(
            """
            SELECT * FROM VALUES
              (1, named_struct('a', 1L, 'b', 'x'), array(1, NULL, 3),
               map('k', TIMESTAMP'2026-08-01 13:05:07.123456')),
              (2, NULL, NULL, NULL)
            AS t(id, s, arr, m)
            """
        )
        for df in (flat, nested):
            pinned = pin_result(df)
            assert pinned.schema == df.schema
            assert pinned.collect() == df.collect()
    finally:
        monkeypatch.undo()
        time.tzset()


def _stage_task_counts(spark, group: str) -> list[int]:
    st = spark.sparkContext.statusTracker()
    counts = []
    for job_id in st.getJobIdsForGroup(group):
        for stage_id in st.getJobInfo(job_id).stageIds:
            info = st.getStageInfo(stage_id)
            if info is not None:
                counts.append(info.numTasks)
    return counts


def test_one_row_ingest_appends_stay_in_the_jvm(spark, tmp_path):
    """Each append of a one-city batch is a 1-2 task job, not one
    pickled-row task per core (defaultParallelism is 8 here)."""
    wh = Warehouse(str(tmp_path))
    group = f"one_row_ingest_{uuid.uuid4().hex}"
    sc = spark.sparkContext
    sc.setJobGroup(group, "one-row ingest")
    try:
        ingest_batch(
            spark, LOCS[:1], START, START, synthetic_fetcher(),
            wh.bronze, wh.batch_log,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    counts = _stage_task_counts(spark, group)
    assert len(counts) >= 3  # RUNNING row, bronze row, final row
    assert max(counts) <= 2 < sc.defaultParallelism, counts


def _persisted_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_pipeline_releases_its_cached_batch(spark, tmp_path):
    before = _persisted_rdds(spark)
    run_pipeline(spark, str(tmp_path / "ok"), LOCS, START, END, synthetic_fetcher())
    assert _persisted_rdds(spark) <= before

    inner = synthetic_fetcher()

    def too_hot(loc, start, end):
        doc = json.loads(inner(loc, start, end).payload)
        doc["hourly"]["temperature_2m"] = [99.0] * len(doc["hourly"]["time"])
        return FetchResult(200, json.dumps(doc))

    with pytest.raises(QualityGateError):
        run_pipeline(spark, str(tmp_path / "bad"), LOCS, START, END, too_hot)
    assert _persisted_rdds(spark) <= before
    assert not os.path.exists(Warehouse(str(tmp_path / "bad")).silver)
