"""Structured Streaming tests: streaming results must equal their batch
twins, watermarks must drop late data, the foreachBatch upsert sink
must merge idempotently."""

from __future__ import annotations

import datetime as dt
import shutil

import pytest
from pyspark.sql import functions as F

from end_to_end_data_engineering_pipeline_spark.streaming import (
    stream_events,
    streaming_dedup,
    streaming_tumbling_agg,
    streaming_upsert_sink,
)


def _run_to_memory(df, name: str, mode: str = "append"):
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def test_streaming_agg_equals_batch(spark, sf_dir, tmp_path):
    src = str(tmp_path / "events_src")
    (tmp_path / "events_src").mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src + "/part-0.parquet")

    stream = stream_events(spark, src)
    agg = streaming_tumbling_agg(stream, watermark="0 seconds")
    _run_to_memory(agg, "stream_agg", mode="complete")
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM stream_agg").collect()
    }

    from end_to_end_data_engineering_pipeline_spark.catalog import load

    batch = (
        load(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(27,4)")), 4)
            .cast("double")
            .alias("v"),
        )
    )
    want = {
        (r.w.start, r.event_type): (r.n, r.v) for r in batch.collect()
    }
    assert got == want


def test_streaming_dedup_keeps_one_per_key(spark, tmp_path):
    src = str(tmp_path / "dups")
    base = dt.datetime(2026, 1, 1, 0, 0, 0)
    rows = [
        (1, base, 10, "click", 1.0, "{}"),
        (2, base + dt.timedelta(minutes=1), 10, "click", 2.0, "{}"),  # dup key
        (3, base + dt.timedelta(minutes=2), 11, "view", 3.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    df.coalesce(1).write.parquet(src)

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        ).parquet(src)
    )
    out = streaming_dedup(stream, ["user_id", "event_type"])
    _run_to_memory(out, "stream_dedup")
    got = spark.sql("SELECT user_id, event_type, count(*) c FROM stream_dedup GROUP BY 1,2").collect()
    assert all(r.c == 1 for r in got)
    assert len(got) == 2


def test_streaming_upsert_sink_merges(spark, tmp_path):
    src = str(tmp_path / "src")
    target = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")
    base = dt.datetime(2026, 1, 1, 0, 30, 0)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    spark.createDataFrame(
        [(1, base, 1, "click", 1.0, "{}"), (2, base, 2, "view", 2.0, "{}")],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    q = streaming_upsert_sink(agg, spark, target, ["ws", "event_type"], ckpt).start()
    q.processAllAvailable()
    q.stop()
    first = {
        (r.ws, r.event_type): r.n for r in spark.read.parquet(target).collect()
    }
    assert all(n == 1 for n in first.values()) and len(first) == 2

    # second file with more clicks in the same window -> count grows via upsert
    spark.createDataFrame(
        [(3, base + dt.timedelta(minutes=5), 3, "click", 1.0, "{}")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    q2 = streaming_upsert_sink(agg, spark, target, ["ws", "event_type"], ckpt).start()
    q2.processAllAvailable()
    q2.stop()
    got = {
        (r.ws, r.event_type): r.n for r in spark.read.parquet(target).collect()
    }
    clicks = [v for (ws, et), v in got.items() if et == "click"]
    assert clicks == [2]
    assert len(got) == 2


def test_stateful_running_totals(spark, tmp_path):
    from end_to_end_data_engineering_pipeline_spark.streaming.stateful import (
        running_user_totals,
    )

    src = str(tmp_path / "stateful_src")
    base = dt.datetime(2026, 1, 1)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    # two files -> two micro-batches (maxFilesPerTrigger=1)
    spark.createDataFrame(
        [(1, base, 1, "a", 10.50, "{}"), (2, base, 2, "a", 1.25, "{}")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(3, base, 1, "b", 2.25, "{}")], schema
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = running_user_totals(stream)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("stateful_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM stateful_out").collect()
    # the LAST emission per user carries the final running totals
    final = {}
    for r in rows:
        final[r.user_id] = (r.n_events, r.total_value)
    assert final[1] == (2, 12.75)
    assert final[2] == (1, 1.25)


def test_weather_streaming_matches_batch(spark, tmp_path):
    """The reference pipeline's streaming twin: bronze file stream ->
    flatten -> dedup -> MERGE silver must equal the batch transform."""
    from end_to_end_data_engineering_pipeline_spark.sources import (
        Location,
        ingest_batch,
        synthetic_fetcher,
    )
    from end_to_end_data_engineering_pipeline_spark.streaming.weather import (
        weather_stream_to_silver,
    )

    bronze = str(tmp_path / "bronze")
    log = str(tmp_path / "log")
    silver = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")
    locs = [Location("Paris", 48.8566, 2.3522), Location("Lyon", 45.764, 4.8357)]
    # two overlapping batches arriving as separate files
    ingest_batch(
        spark, locs, dt.date(2026, 8, 1), dt.date(2026, 8, 2),
        synthetic_fetcher(), bronze, log,
    )
    ingest_batch(
        spark, locs, dt.date(2026, 8, 2), dt.date(2026, 8, 3),
        synthetic_fetcher(), bronze, log,
    )

    q = weather_stream_to_silver(spark, bronze, silver, ckpt).start()
    q.processAllAvailable()
    q.stop()

    out = spark.read.parquet(silver)
    assert out.count() == 2 * 3 * 24  # 2 cities x 3 distinct days x 24h
    dups = out.groupBy("city", "ts_utc").count().where("count > 1").count()
    assert dups == 0


def test_stream_static_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static enrichment must equal the batch join, and the
    stream side must stay streaming (stateless join)."""
    import shutil

    from end_to_end_data_engineering_pipeline_spark.streaming.windows import (
        stream_events,
        stream_static_enrich,
    )

    src = str(tmp_path / "ev")
    (tmp_path / "ev").mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src + "/part-0.parquet")
    ev = stream_events(spark, src)
    # static side: per-user tier derived from customer keys
    dim = spark.createDataFrame(
        [(i, "gold" if i % 3 == 0 else "basic") for i in range(200)],
        ["user_id", "tier"],
    )
    joined = stream_static_enrich(ev, dim)
    assert joined.isStreaming
    agg = joined.groupBy("tier").count()
    _run_to_memory(agg, "ss_join", mode="complete")
    got = {
        r.tier: r["count"]
        for r in spark.sql("SELECT * FROM ss_join").collect()
    }

    from end_to_end_data_engineering_pipeline_spark.catalog import load

    batch = load(spark, sf_dir, "events").join(dim, "user_id").groupBy(
        "tier"
    ).count()
    want = {r.tier: r["count"] for r in batch.collect()}
    assert got == want


def test_stream_stream_join_matches_batch(spark, sf_dir, tmp_path):
    """Watermarked stream-stream attribution join must equal the batch
    join over the same bounded input."""
    from end_to_end_data_engineering_pipeline_spark.streaming.windows import (
        stream_events,
        stream_stream_attribution,
    )

    src = str(tmp_path / "ev2")
    (tmp_path / "ev2").mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src + "/part-0.parquet")

    ev = stream_events(spark, src)
    views = ev.where("event_type = 'view'")
    purchases = ev.where("event_type = 'purchase'")
    joined = stream_stream_attribution(views, purchases, gap="1 hour")
    assert joined.isStreaming
    _run_to_memory(joined, "ss_attr", mode="append")
    got = {
        (r.user_id, r.purchase_id, r.view_id)
        for r in spark.sql("SELECT * FROM ss_attr").collect()
    }

    from pyspark.sql import functions as SF

    from end_to_end_data_engineering_pipeline_spark.catalog import load

    bev = load(spark, sf_dir, "events")
    bv = bev.where("event_type = 'view'").select(
        SF.col("user_id").alias("v_user"),
        SF.col("event_id").alias("view_id"),
        SF.col("ts").alias("view_ts"),
    )
    bp = bev.where("event_type = 'purchase'").select(
        "user_id",
        SF.col("event_id").alias("purchase_id"),
        SF.col("ts").alias("purchase_ts"),
    )
    want = {
        (r.user_id, r.purchase_id, r.view_id)
        for r in bp.join(
            bv,
            (SF.col("user_id") == SF.col("v_user"))
            & (SF.col("view_ts") <= SF.col("purchase_ts"))
            & (
                SF.col("view_ts")
                >= SF.col("purchase_ts") - SF.expr("INTERVAL 1 hour")
            ),
        ).collect()
    }
    assert got == want and len(got) > 0


def test_rate_source_event_stream(spark, tmp_path):
    """Rate-source load generator: rows arrive in the events schema,
    deterministically derived from the offset, and feed the windowed
    aggregate unchanged."""
    import time

    from end_to_end_data_engineering_pipeline_spark.streaming.ratesource import (
        rate_event_stream,
    )

    ev = rate_event_stream(spark, rows_per_second=200, num_partitions=2)
    assert set(ev.columns) == {
        "event_id", "ts", "user_id", "event_type", "value", "props",
    }
    q = (
        ev.writeStream.format("memory")
        .queryName("rate_events")
        .option(
            "checkpointLocation", str(tmp_path / "ckpt")
        )
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            if spark.sql("SELECT COUNT(*) FROM rate_events").first()[0] >= 50:
                break
            time.sleep(0.5)
        got = spark.sql(
            "SELECT event_id, user_id, event_type, value FROM rate_events "
            "ORDER BY event_id LIMIT 50"
        ).collect()
        assert len(got) == 50
        for r in got:
            # deterministic arithmetic mapping from the offset
            assert r.user_id == r.event_id % 50
            assert r.value == float(r.event_id % 1000)
            assert r.event_type == ("view", "click", "purchase")[r.event_id % 3]
    finally:
        q.stop()


def test_stream_stream_left_outer_emits_unmatched(spark, sf_dir, tmp_path):
    """Left-outer stream-stream join: purchases with no qualifying view
    emit null view columns once the watermark proves no match can
    arrive. A far-future sentinel file advances the watermark past all
    real data so every unmatched purchase flushes from state."""
    from end_to_end_data_engineering_pipeline_spark.catalog import load
    from end_to_end_data_engineering_pipeline_spark.streaming.windows import (
        stream_events,
        stream_stream_attribution,
    )

    src = str(tmp_path / "ev3")
    (tmp_path / "ev3").mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src + "/part-0.parquet")
    # sentinel: one view + one purchase far past max ts, pushing the
    # watermark beyond every real purchase_ts + gap on BOTH sides
    bev = load(spark, sf_dir, "events")
    max_ts = bev.agg(F.max("ts")).first()[0]
    # two sentinel files: the watermark computed after sentinel batch N
    # only evicts/emits during batch N+1, so a second even-later file
    # guarantees a data-carrying batch AFTER the watermark has passed
    # every real purchase_ts + gap
    for i, extra_h in enumerate((100, 200)):
        far_i = max_ts + dt.timedelta(hours=extra_h)
        sentinel = spark.createDataFrame(
            [
                (-1 - 10 * i, far_i, -1, "view", 0.0, "{}"),
                (-2 - 10 * i, far_i, -1, "purchase", 0.0, "{}"),
            ],
            ["event_id", "ts", "user_id", "event_type", "value", "props"],
        ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        sentinel.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "sent"))
        shutil.copy(
            next((tmp_path / "sent").glob("part-*.parquet")),
            src + f"/part-{i + 1}.parquet",
        )

    ev = stream_events(spark, src)
    joined = stream_stream_attribution(
        ev.where("event_type = 'view'"),
        ev.where("event_type = 'purchase'"),
        gap="1 hour",
        how="left_outer",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_louter")
        .start()
    )
    q.processAllAvailable()
    # outer-row eviction happens in a NO-DATA cleanup micro-batch that
    # processAllAvailable does not wait for — poll until the sink is
    # stable across a short quiet period
    import time as _time

    last, stable_since = -1, _time.time()
    deadline = _time.time() + 30
    while _time.time() < deadline:
        n = spark.sql("SELECT COUNT(*) FROM ss_louter").first()[0]
        if n != last:
            last, stable_since = n, _time.time()
        elif _time.time() - stable_since > 3:
            break
        _time.sleep(0.3)
    q.stop()
    got = {
        (r.user_id, r.purchase_id, r.view_id)
        for r in spark.sql(
            "SELECT * FROM ss_louter WHERE user_id >= 0"
        ).collect()
    }

    bv = bev.where("event_type = 'view'").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    bp = bev.where("event_type = 'purchase'").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    want = {
        (r.user_id, r.purchase_id, r.view_id)
        for r in bp.join(
            bv,
            (F.col("user_id") == F.col("v_user"))
            & (F.col("view_ts") <= F.col("purchase_ts"))
            & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 hour")),
            "left_outer",
        ).collect()
    }
    assert got == want
    # outer rows actually present (some purchase had no view)
    assert any(v is None for _, _, v in got)


def test_streaming_cdc_apply_changes_matches_batch(spark, tmp_path):
    """CDC composition over the rate source (e15's streaming side): a
    changelog shaped from rate rows is applied per-microbatch with
    apply_changes under foreachBatch; the resulting state table must
    equal a ONE-SHOT batch apply_changes over the full logged
    changelog — sequential per-batch latest-wins composes to global
    latest-wins because seq (the rate offset) is monotone per key
    across microbatches.

    The handler processes exactly 3 non-empty microbatches and ignores
    the rest, so q.stop() can never interrupt a half-applied batch
    (interruption mid-apply would make log and state diverge for
    reasons that are test-harness artifacts, not operator bugs)."""
    import time

    from end_to_end_data_engineering_pipeline_spark.operators.merge import (
        apply_changes,
    )
    from end_to_end_data_engineering_pipeline_spark.streaming.ratesource import (
        rate_event_stream,
    )

    log_dir = str(tmp_path / "changelog")
    state_dir = str(tmp_path / "state")
    n_batches = 3
    done = {"n": 0}

    ev = rate_event_stream(spark, rows_per_second=300, num_partitions=2)
    changes = ev.select(
        F.col("user_id").alias("k"),
        F.col("value").alias("v"),
        F.when(F.col("event_id") % 10 == 9, "D")
        .when(F.col("event_id") % 10 >= 5, "U")
        .otherwise("I")
        .alias("op"),
        F.col("event_id").alias("seq"),
    )

    def handle(batch_df, _batch_id):
        if done["n"] >= n_batches or batch_df.isEmpty():
            return
        batch_df.persist()
        batch_df.write.mode("append").parquet(log_dir)
        apply_changes(
            batch_df.sparkSession, state_dir, batch_df, ["k"], "seq"
        )
        batch_df.unpersist()
        done["n"] += 1

    q = (
        changes.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and done["n"] < n_batches:
            time.sleep(0.25)
    finally:
        q.stop()
        q.awaitTermination()
    assert done["n"] == n_batches

    full_log = spark.read.parquet(log_dir)
    assert full_log.count() > 0
    twin_dir = str(tmp_path / "state_twin")
    apply_changes(spark, twin_dir, full_log, ["k"], "seq")

    got = sorted(map(tuple, spark.read.parquet(state_dir).collect()))
    want = sorted(map(tuple, spark.read.parquet(twin_dir).collect()))
    assert got == want and len(want) > 0


def test_streaming_session_window_equals_batch(spark, sf_dir, tmp_path):
    """Native session_window under a watermark (append mode — the only
    mode Spark allows for merging windows) must equal the batch
    session_window aggregate. A far-future sentinel event advances the
    watermark so every real session is provably closed and emitted."""
    import datetime as dt

    from end_to_end_data_engineering_pipeline_spark.catalog import load
    from end_to_end_data_engineering_pipeline_spark.streaming.windows import (
        stream_events,
        streaming_session_agg,
    )

    src = str(tmp_path / "events_src")
    (tmp_path / "events_src").mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src + "/part-0.parquet")

    batch_events = load(spark, sf_dir, "events")
    max_ts = batch_events.agg(F.max("ts")).collect()[0][0]
    sentinel_user = -1
    # sentinel file must match the fixture's on-disk encoding
    # (timestamp[us] / NTZ) so the stream's declared schema reads both
    spark.createDataFrame(
        [
            (
                10**9,
                max_ts + dt.timedelta(days=10),
                sentinel_user,
                "view",
                0.0,
                "{}",
            )
        ],
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    ).coalesce(1).write.mode("append").parquet(src)

    got_df = streaming_session_agg(
        stream_events(spark, src), gap="30 minutes", watermark="0 seconds"
    )
    _run_to_memory(got_df, "stream_sessions", mode="append")
    got = {
        (r.user_id, r.session_start, r.session_end): (
            r.n_events, r.session_value,
        )
        for r in spark.sql(
            f"SELECT * FROM stream_sessions WHERE user_id <> {sentinel_user}"
        ).collect()
    }

    want_df = (
        batch_events.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(27,4)")), 4)
            .cast("double")
            .alias("v"),
        )
    )
    want = {
        (r.user_id, r.w.start, r.w.end): (r.n, r.v)
        for r in want_df.collect()
    }
    assert len(got) > 0
    assert got == want


def test_stream_events_handles_nanos_encoding(spark, sf_dir, tmp_path):
    """stream_events must also read a TIMESTAMP(NANOS) fixture (the
    encoding older driver rounds shipped): probe chooses the bigint
    schema + explicit conversion, and the streamed rows equal the
    batch loader's."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from end_to_end_data_engineering_pipeline_spark.catalog import load
    from end_to_end_data_engineering_pipeline_spark.streaming.windows import (
        stream_events,
    )

    tbl = pq.read_table(f"{sf_dir}/events.parquet")
    ts_ns = tbl.column("ts").cast(pa.timestamp("ns"))
    tbl_ns = tbl.set_column(tbl.schema.get_field_index("ts"), "ts", ts_ns)
    src = tmp_path / "ev_nanos"
    src.mkdir()
    pq.write_table(tbl_ns, str(src / "part-0.parquet"))

    got_df = stream_events(spark, str(src)).select("event_id", "ts")
    q = (
        got_df.writeStream.outputMode("append")
        .format("memory")
        .queryName("nanos_stream")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.event_id, r.ts)
        for r in spark.sql("SELECT * FROM nanos_stream").collect()
    }
    want = {
        (r.event_id, r.ts)
        for r in load(spark, sf_dir, "events").select("event_id", "ts").collect()
    }
    assert got == want and len(want) > 0


def test_stream_events_starts_on_empty_source_dir(spark, sf_dir, tmp_path):
    """An empty (not-yet-populated) source dir must not kill the
    stream at construction: the schema probe falls back to the
    declared current-encoding schema, the query starts cleanly, and
    files dropped in later are picked up."""
    import shutil as sh

    src = tmp_path / "empty_src"
    src.mkdir()
    ev = stream_events(spark, str(src))  # must not raise
    agg = streaming_tumbling_agg(ev, watermark="0 seconds")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("empty_start")
        .start()
    )
    q.processAllAvailable()
    assert spark.sql("SELECT * FROM empty_start").count() == 0
    sh.copy(f"{sf_dir}/events.parquet", str(src / "part-0.parquet"))
    q.processAllAvailable()
    q.stop()
    assert spark.sql("SELECT * FROM empty_start").count() > 0


def test_watermark_drops_late_straggler_keeps_fresh(spark, tmp_path):
    """Late-data semantics at the watermark boundary, straggler on
    each side: after the watermark has passed a window's end, a
    too-late event (below the watermark) is DROPPED — the finalized
    window's count never changes — while a straggler still above the
    watermark is KEPT and lands in its (open) window."""
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    src = str(tmp_path / "late_src")
    t = lambda h, m: dt.datetime(2026, 1, 1, h, m)

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    # batch 1: two events in the 10:00 window
    feed([(1, t(10, 0), 1, "click", 1.0, "{}"),
          (2, t(10, 30), 1, "click", 1.0, "{}")])

    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    agg = streaming_tumbling_agg(stream, window="1 hour", watermark="1 hour")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_agg")
        .start()
    )
    q.processAllAvailable()

    # batch 2: 13:00 event -> watermark advances to 12:00; the 10:00
    # window (end 11:00) finalizes and emits with n=2
    feed([(3, t(13, 0), 2, "click", 1.0, "{}")])
    q.processAllAvailable()
    emitted = {
        r.window_start: r.n_events
        for r in spark.sql("SELECT * FROM late_agg").collect()
    }
    assert emitted.get(t(10, 0)) == 2

    # batch 3, stragglers on both sides of the 12:00 watermark:
    # 10:15 is below it -> dropped; 12:30 is above it -> kept
    feed([(4, t(10, 15), 1, "click", 1.0, "{}"),
          (5, t(12, 30), 2, "click", 1.0, "{}")])
    q.processAllAvailable()
    # batch 4: 14:30 -> watermark 13:30 finalizes the 12:00 window
    feed([(6, t(14, 30), 3, "view", 1.0, "{}")])
    q.processAllAvailable()
    q.stop()

    rows = spark.sql("SELECT * FROM late_agg").collect()
    by_window = {}
    for r in rows:
        by_window.setdefault(r.window_start, []).append(r.n_events)
    # the finalized 10:00 window emitted exactly once, count still 2:
    # the 10:15 straggler was dropped, not re-emitted or re-counted
    assert by_window[t(10, 0)] == [2]
    # the 12:30 straggler (above watermark at arrival) WAS counted
    assert by_window[t(12, 0)] == [1]
    # the 13:00 window (end 14:00) is still OPEN at watermark 13:30 —
    # append mode must not have emitted it yet
    assert t(13, 0) not in by_window


def test_streaming_scd2_apply_matches_one_shot_rebuild(spark, tmp_path):
    """Incremental SCD2 under foreachBatch (e17's streaming side):
    each microbatch's changelog is merged into the history table with
    scd2_apply; the result must equal the ONE-SHOT scd2_history
    rebuild over the full logged changelog. Valid because the rate
    offset (seq) is monotone across microbatches, so every key's
    changes arrive in increasing-seq batches — scd2_apply's ordering
    contract. Same 3-non-empty-batch protocol as the CDC twin."""
    import time

    from end_to_end_data_engineering_pipeline_spark.operators.merge import (
        scd2_apply,
        scd2_history,
    )
    from end_to_end_data_engineering_pipeline_spark.streaming.ratesource import (
        rate_event_stream,
    )

    log_dir = str(tmp_path / "changelog")
    hist_dir = str(tmp_path / "hist")
    n_batches = 3
    done = {"n": 0}

    ev = rate_event_stream(spark, rows_per_second=300, num_partitions=2)
    changes = ev.select(
        F.col("user_id").alias("k"),
        F.col("value").alias("v"),
        F.when(F.col("event_id") % 10 == 9, "D")
        .when(F.col("event_id") % 10 >= 5, "U")
        .otherwise("I")
        .alias("op"),
        F.col("event_id").alias("seq"),
    )

    def handle(batch_df, _batch_id):
        if done["n"] >= n_batches or batch_df.isEmpty():
            return
        batch_df.persist()
        batch_df.write.mode("append").parquet(log_dir)
        scd2_apply(batch_df.sparkSession, hist_dir, batch_df, ["k"])
        batch_df.unpersist()
        done["n"] += 1

    q = (
        changes.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and done["n"] < n_batches:
            time.sleep(0.25)
    finally:
        q.stop()
        q.awaitTermination()
    assert done["n"] == n_batches

    full_log = spark.read.parquet(log_dir)
    got = {
        (r.k, r.v, r.valid_from, r.valid_to, r.is_current)
        for r in spark.read.parquet(hist_dir).collect()
    }
    want = {
        (r.k, r.v, r.valid_from, r.valid_to, r.is_current)
        for r in scd2_history(full_log, ["k"]).collect()
    }
    assert got == want and len(want) > 0
    # history is richer than latest-state: some records must be closed
    assert any(not cur for _, _, _, _, cur in want)


def test_streaming_dedup_within_watermark_across_batches(spark, tmp_path):
    """dropDuplicatesWithinWatermark must suppress duplicate keys
    ACROSS microbatches while their event time is inside the
    watermark: two files share ids 3..5, maxFilesPerTrigger=1 forces
    them into separate batches, and the appended output still carries
    each id exactly once — the streaming twin of e5's keyed dedup
    (state-store dedup is the exactly-once ingestion building block)."""
    import datetime as dt

    src = tmp_path / "dedup_src"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    spark.createDataFrame(
        [(i, t0) for i in (1, 2, 3, 4, 5)], "event_id long, ts timestamp"
    ).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(
        [(i, t0 + dt.timedelta(minutes=1)) for i in (3, 4, 5, 6, 7)],
        "event_id long, ts timestamp",
    ).coalesce(1).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema("event_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("dedup_wm")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    rows = spark.sql("SELECT event_id FROM dedup_wm").collect()
    ids = [r.event_id for r in rows]
    assert sorted(ids) == [1, 2, 3, 4, 5, 6, 7]  # each id exactly once


def test_streaming_snapshot_sink_linear_history(spark, tmp_path):
    """Streaming into the snapshot table (operators/snapshots.py):
    each micro-batch commits one APPEND version under foreachBatch, so
    the table gains a linear, time-travelable history — version N is
    exactly the stream's first N+1 micro-batches, and the final state
    equals everything the stream logged. This is the exactly-once
    story for the manifest table: a batch that crashes mid-commit
    leaves only invisible files, and the re-driven batch commits a
    fresh manifest."""
    import time

    from end_to_end_data_engineering_pipeline_spark.operators.snapshots import (
        list_versions,
        snapshot_read,
        snapshot_write,
    )
    from end_to_end_data_engineering_pipeline_spark.streaming.ratesource import (
        rate_event_stream,
    )

    log_dir = str(tmp_path / "log")
    table = str(tmp_path / "snap")
    n_batches = 3
    done = {"n": 0}

    ev = rate_event_stream(spark, rows_per_second=200, num_partitions=2)
    rows = ev.select("event_id", "user_id", "value")

    def handle(batch_df, _batch_id):
        if done["n"] >= n_batches or batch_df.isEmpty():
            return
        batch_df.persist()
        batch_df.write.mode("append").parquet(log_dir)
        snapshot_write(batch_df.sparkSession, table, batch_df, mode="append")
        batch_df.unpersist()
        done["n"] += 1

    q = (
        rows.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and done["n"] < n_batches:
            time.sleep(0.25)
    finally:
        q.stop()
        q.awaitTermination()
    assert done["n"] == n_batches
    assert list_versions(table) == [0, 1, 2]

    # final state == everything logged; historical versions are prefixes
    want = sorted(
        map(tuple, spark.read.parquet(log_dir).collect())
    )
    got = sorted(map(tuple, snapshot_read(spark, table).collect()))
    assert got == want and len(want) > 0
    sizes = [
        snapshot_read(spark, table, version=v).count() for v in (0, 1, 2)
    ]
    assert sizes[0] < sizes[2] and sizes == sorted(sizes)


def test_streaming_incremental_agg_matches_one_shot(spark, tmp_path):
    """Streaming materialized-view maintenance: each micro-batch's
    I/U/D delta (with before images) folds into the maintained
    aggregate under foreachBatch; because the delta algebra is
    associative, the batch-wise fold must equal ONE delta computed
    over the full logged changelog — the property that makes the
    maintained view correct no matter how the stream is chopped into
    micro-batches."""
    import time

    from pyspark.sql import functions as F

    from end_to_end_data_engineering_pipeline_spark.operators.merge import (
        apply_agg_delta,
        incremental_agg_delta,
    )
    from end_to_end_data_engineering_pipeline_spark.streaming.ratesource import (
        rate_event_stream,
    )

    log_dir = str(tmp_path / "log")
    agg_dir = str(tmp_path / "agg")
    n_batches = 3
    done = {"n": 0}

    ev = rate_event_stream(spark, rows_per_second=300, num_partitions=2)
    changes = ev.select(
        (F.col("user_id") % 5).cast("string").alias("g"),
        F.when(F.col("event_id") % 10 >= 9, "D")
        .when(F.col("event_id") % 10 >= 6, "U")
        .otherwise("I")
        .alias("op"),
        F.when(F.col("event_id") % 10 >= 6, F.col("value")).alias("before"),
        F.when(F.col("event_id") % 10 < 9, F.col("value") * 2).alias("after"),
    )

    def handle(batch_df, _batch_id):
        if done["n"] >= n_batches or batch_df.isEmpty():
            return
        batch_df.persist()
        batch_df.write.mode("append").parquet(log_dir)
        sp = batch_df.sparkSession
        delta = incremental_agg_delta(batch_df, ["g"])
        import os

        if os.path.isdir(agg_dir):
            agg = sp.read.parquet(agg_dir)
        else:
            agg = sp.createDataFrame([], "g string, n long, total double")
        new = apply_agg_delta(agg, delta, ["g"], "n", "total")
        new.write.mode("overwrite").parquet(agg_dir + "_tmp")
        sp.read.parquet(agg_dir + "_tmp").write.mode("overwrite").parquet(
            agg_dir
        )
        batch_df.unpersist()
        done["n"] += 1

    q = (
        changes.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and done["n"] < n_batches:
            time.sleep(0.25)
    finally:
        q.stop()
        q.awaitTermination()
    assert done["n"] == n_batches

    full = spark.read.parquet(log_dir)
    one_shot = apply_agg_delta(
        spark.createDataFrame([], "g string, n long, total double"),
        incremental_agg_delta(full, ["g"]),
        ["g"],
        "n",
        "total",
    )
    got = {r.g: (r.n, r.total) for r in spark.read.parquet(agg_dir).collect()}
    want = {r.g: (r.n, r.total) for r in one_shot.collect()}
    assert set(got) == set(want) and want
    for g in want:
        assert got[g][0] == want[g][0]  # counts exact
        # double sums: batch-wise vs one-shot reduction order may
        # differ in final ulps — tolerance, not bit equality
        assert abs(got[g][1] - want[g][1]) < 1e-6 * max(1.0, abs(want[g][1]))


def test_stream_static_join_pinned_snapshot_version(spark, tmp_path):
    """The lakehouse serving pattern (r6 verdict #4): a stream enriches
    each micro-batch against a VERSION-PINNED snapshot_read of the dim
    table. snapshot_read resolves the manifest once and passes an
    explicit file list to the reader, and data files are immutable —
    so a concurrent writer OVERWRITING the dim mid-stream (new version,
    new files) must not shift the running stream's view: every batch,
    including ones processed after the commit, joins against the
    pinned version's rows. The refresh is an explicit re-pin, never a
    data race."""
    import time

    from end_to_end_data_engineering_pipeline_spark.operators.snapshots import (
        current_version,
        snapshot_read,
        snapshot_write,
    )
    from end_to_end_data_engineering_pipeline_spark.streaming.ratesource import (
        rate_event_stream,
    )

    table = str(tmp_path / "dim")
    dim_rows = [(u, "v0") for u in range(50)]
    snapshot_write(
        spark,
        table,
        spark.createDataFrame(dim_rows, "user_id long, segment string"),
    )
    pinned = snapshot_read(spark, table, version=0)  # serve THIS version

    seen: list[tuple] = []
    state = {"batches": 0, "flipped_at": None}
    n_batches = 3

    def handle(batch_df, _batch_id):
        if state["batches"] >= n_batches or batch_df.isEmpty():
            return
        joined = batch_df.join(F.broadcast(pinned), "user_id", "left")
        seen.extend(
            (r["user_id"], r["segment"])
            for r in joined.select("user_id", "segment").collect()
        )
        state["batches"] += 1
        if state["flipped_at"] is None:
            # concurrent writer replaces the whole dim AFTER batch 1
            snapshot_write(
                batch_df.sparkSession,
                table,
                batch_df.sparkSession.createDataFrame(
                    [(u, "v1") for u in range(50)],
                    "user_id long, segment string",
                ),
                mode="overwrite",
            )
            state["flipped_at"] = state["batches"]

    ev = rate_event_stream(spark, rows_per_second=200, num_partitions=2)
    q = (
        ev.select("event_id", "user_id")
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and state["batches"] < n_batches:
            time.sleep(0.25)
    finally:
        q.stop()
        q.awaitTermination()

    assert state["batches"] == n_batches
    assert state["flipped_at"] == 1  # the overwrite landed mid-stream
    assert current_version(table) == 1  # and really committed
    assert len(seen) > 0
    # the running stream NEVER saw v1: every enriched row carries v0,
    # no row missed the join (dim covers the full user_id domain)
    assert {seg for _, seg in seen} == {"v0"}
    # an explicit re-pin (the refresh path) serves the new version
    assert {
        r["segment"] for r in snapshot_read(spark, table).collect()
    } == {"v1"}


def test_streaming_incremental_lsh_matches_batch_recompute(spark, tmp_path):
    """Streaming near-dup detection via incremental LSH index
    maintenance (operators/dedup_fuzzy.py): each micro-batch hashes
    only its own docs, joins them against the band table accumulated
    by earlier batches, emits pairs involving a new doc, and appends
    its band rows to the index. Because every pair is discovered
    exactly once (when its LATER member arrives), the union of all
    per-batch emissions must equal the one-shot minhash_lsh_pairs
    recompute over everything the stream saw — the dedup-at-ingest
    contract: index once, join increments forever."""
    import os
    import time

    from end_to_end_data_engineering_pipeline_spark.operators.dedup_fuzzy import (
        incremental_lsh_pairs,
        lsh_band_table,
        minhash_lsh_pairs,
    )
    from end_to_end_data_engineering_pipeline_spark.streaming.ratesource import (
        rate_event_stream,
    )

    band_dir = str(tmp_path / "bands")
    docs_dir = str(tmp_path / "docs")

    def synth(ids_df):
        own = F.col("doc_id")
        prev = own - 1

        def toks(base, js):
            return [
                F.md5(F.concat(base.cast("string"), F.lit(str(j))))
                for j in js
            ]

        return ids_df.select(
            "doc_id",
            F.when(
                own % 10 == 7,
                F.concat_ws(
                    " ", *toks(prev, range(7)), F.md5(own.cast("string"))
                ),
            )
            .otherwise(F.concat_ws(" ", *toks(own, range(8))))
            .alias("text"),
        )

    emitted: list[tuple] = []
    state = {"batches": 0}
    n_batches = 3

    def handle(batch_df, _batch_id):
        if state["batches"] >= n_batches or batch_df.isEmpty():
            return
        s = batch_df.sparkSession
        new = synth(
            batch_df.select(F.col("event_id").alias("doc_id"))
        ).persist()
        if os.path.isdir(docs_dir):
            old_docs = s.read.parquet(docs_dir)
            old_bands = s.read.parquet(band_dir)
        else:
            old_docs = s.createDataFrame([], "doc_id long, text string")
            old_bands = None
        pairs = incremental_lsh_pairs(
            old_docs, new, threshold=0.3, old_band_table=old_bands
        )
        emitted.extend(
            (r.id_a, r.id_b, r.jaccard) for r in pairs.collect()
        )
        lsh_band_table(new).write.mode("append").parquet(band_dir)
        new.write.mode("append").parquet(docs_dir)
        new.unpersist()
        state["batches"] += 1

    ev = rate_event_stream(spark, rows_per_second=300, num_partitions=2)
    q = (
        ev.select("event_id")
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline and state["batches"] < n_batches:
            time.sleep(0.25)
    finally:
        q.stop()
        q.awaitTermination()

    assert state["batches"] == n_batches
    full = {
        (r.id_a, r.id_b, r.jaccard)
        for r in minhash_lsh_pairs(
            spark.read.parquet(docs_dir), threshold=0.3
        ).collect()
    }
    got = set(emitted)
    assert len(got) == len(emitted)  # no pair discovered twice
    assert got == full and len(full) > 0


def test_streaming_hll_register_merge_matches_batch(spark, tmp_path):
    """Streaming distinct-count sketch maintenance (operators/
    sketches.py): each micro-batch computes its own HLL register
    table and merges it into a persisted one by MAX — the same
    operation partial aggregation performs inside a batch job, now
    across time. After the stream, the persisted registers must equal
    the one-shot hll_registers over everything the stream saw
    (byte-identical: max is associative/commutative/idempotent, so
    batch boundaries and replays cannot move a register), and the
    estimate over them is the same deterministic arithmetic."""
    import os
    import time

    from end_to_end_data_engineering_pipeline_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )
    from end_to_end_data_engineering_pipeline_spark.streaming.ratesource import (
        rate_event_stream,
    )

    log_dir = str(tmp_path / "seen")
    reg_dir = str(tmp_path / "regs")
    n_batches = 3
    done = {"n": 0}

    ev = rate_event_stream(spark, rows_per_second=300, num_partitions=2)

    def handle(batch_df, _batch_id):
        if done["n"] >= n_batches or batch_df.isEmpty():
            return
        batch_df.persist()
        batch_df.write.mode("append").parquet(log_dir)
        sp = batch_df.sparkSession
        incr = hll_registers(batch_df, "user_id", group_cols=["event_type"])
        if os.path.isdir(reg_dir):
            prev = sp.read.parquet(reg_dir)
            merged = (
                prev.unionByName(incr)
                .groupBy("event_type", "register")
                .agg(F.max("max_rho").alias("max_rho"))
            )
        else:
            merged = incr
        merged.write.mode("overwrite").parquet(reg_dir + "_tmp")
        sp.read.parquet(reg_dir + "_tmp").write.mode("overwrite").parquet(
            reg_dir
        )
        batch_df.unpersist()
        done["n"] += 1

    q = (
        ev.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and done["n"] < n_batches:
            time.sleep(0.25)
    finally:
        q.stop()
        q.awaitTermination()
    assert done["n"] == n_batches

    seen = spark.read.parquet(log_dir)
    want_regs = sorted(
        map(
            tuple,
            hll_registers(
                seen, "user_id", group_cols=["event_type"]
            ).collect(),
        )
    )
    got_regs = sorted(map(tuple, spark.read.parquet(reg_dir).collect()))
    assert got_regs == want_regs and want_regs

    est = {
        r.event_type: (r.n_registers_set, r.raw_estimate)
        for r in hll_estimate(
            spark.read.parquet(reg_dir), group_cols=["event_type"]
        ).collect()
    }
    exact = {
        r.event_type: r.n
        for r in seen.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for t, n in exact.items():
        assert abs(est[t][1] - n) / n < 0.39, (t, n, est[t])


def test_streaming_erasure_requests_apply_like_one_shot(spark, tmp_path):
    """Right-to-be-forgotten at ingest cadence: a stream of erasure
    requests applies snapshot_delete per micro-batch against a seeded
    snapshot table. Sequential CoW deletes must equal ONE anti-join
    of everything the stream requested (delete is idempotent and
    order-free on disjoint keys), history stays linear (one version
    per applying batch), and the seed version remains time-travelable
    — the audit trail a compliance process needs."""
    import time

    from end_to_end_data_engineering_pipeline_spark.operators.snapshots import (
        snapshot_delete,
        snapshot_history,
        snapshot_read,
        snapshot_write,
    )
    from end_to_end_data_engineering_pipeline_spark.streaming.ratesource import (
        rate_event_stream,
    )

    store = str(tmp_path / "t")
    seed = spark.range(200).select(
        F.col("id").alias("user_id"), (F.col("id") * 10).alias("balance")
    )
    snapshot_write(spark, store, seed.repartitionByRange(4, "user_id"))

    n_batches = 3
    done = {"n": 0}
    requested: list[int] = []

    ev = rate_event_stream(spark, rows_per_second=200, num_partitions=2)

    def handle(batch_df, _batch_id):
        if done["n"] >= n_batches or batch_df.isEmpty():
            return
        reqs = (
            batch_df.select((F.col("user_id") * 7 % 200).alias("user_id"))
            .distinct()
        )
        requested.extend(r.user_id for r in reqs.collect())
        snapshot_delete(batch_df.sparkSession, store, reqs, ["user_id"])
        done["n"] += 1

    q = (
        ev.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and done["n"] < n_batches:
            time.sleep(0.25)
    finally:
        q.stop()
        q.awaitTermination()
    assert done["n"] == n_batches and requested

    latest = sorted(r.user_id for r in snapshot_read(spark, store).collect())
    want = sorted(set(range(200)) - set(requested))
    assert latest == want
    # linear history: seed + one delete version per applying batch
    hist = snapshot_history(store)
    assert len(hist) == 1 + n_batches
    # the seed version is still complete (retention contract)
    assert snapshot_read(spark, store, version=0).count() == 200


def test_streaming_quarantine_routing_partitions_exactly(spark, tmp_path):
    """Dead-letter routing at ingest: each micro-batch splits through
    quarantine_split into good/quarantine sinks. The union of the two
    sinks must equal everything the stream saw (exact partition — no
    row lost, none duplicated), and every quarantined row carries its
    violated-rule attribution."""
    import time

    from end_to_end_data_engineering_pipeline_spark.quality.expectations import (
        quarantine_split,
        range_row,
    )
    from end_to_end_data_engineering_pipeline_spark.streaming.ratesource import (
        rate_event_stream,
    )

    good_dir = str(tmp_path / "good")
    bad_dir = str(tmp_path / "bad")
    seen_dir = str(tmp_path / "seen")
    n_batches = 3
    done = {"n": 0}

    ev = rate_event_stream(spark, rows_per_second=300, num_partitions=2)

    def handle(batch_df, _batch_id):
        if done["n"] >= n_batches or batch_df.isEmpty():
            return
        batch_df.persist()
        batch_df.write.mode("append").parquet(seen_dir)
        good, bad = quarantine_split(
            batch_df, [range_row("value", 0, 500)]
        )
        good.write.mode("append").parquet(good_dir)
        bad.withColumn(
            "reason_set", F.array_join("quarantine_reasons", ";")
        ).drop("quarantine_reasons").write.mode("append").parquet(bad_dir)
        batch_df.unpersist()
        done["n"] += 1

    q = (
        ev.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and done["n"] < n_batches:
            time.sleep(0.25)
    finally:
        q.stop()
        q.awaitTermination()
    assert done["n"] == n_batches

    seen = spark.read.parquet(seen_dir)
    good = spark.read.parquet(good_dir)
    bad = spark.read.parquet(bad_dir)
    assert good.count() + bad.count() == seen.count()
    assert good.where(
        (F.col("value") < 0) | (F.col("value") > 500)
    ).count() == 0
    assert bad.where(F.col("reason_set") != "range:value").count() == 0
    want_bad = seen.where(
        (F.col("value") < 0) | (F.col("value") > 500)
    ).count()
    assert bad.count() == want_bad and want_bad > 0


def test_streaming_backfill_sink_replay_idempotent(spark, tmp_path):
    """p20's streaming half (streaming_partition_backfill_sink): the
    SAME corrected-day micro-batch delivered TWICE — a fresh
    checkpoint over the same source replays the file, exactly
    foreachBatch's at-least-once redelivery after a checkpoint loss —
    must leave the target equal to a single delivery: the corrected
    day's partition holds the corrected rows ONCE (overwritten, not
    appended) and untouched days keep their original rows."""
    from end_to_end_data_engineering_pipeline_spark.streaming.windows import (
        streaming_partition_backfill_sink,
    )

    target = str(tmp_path / "gold")
    schema = "day string, k long, v double"
    # seed: a stale day-1 partition and an untouched day-2 partition
    spark.createDataFrame(
        [("d1", 1, 10.0), ("d1", 2, 20.0), ("d2", 3, 30.0)], schema
    ).write.partitionBy("day").mode("overwrite").parquet(target)

    # the corrected WHOLE day-1 partition arrives on the stream
    src = str(tmp_path / "corrections")
    corrected = [("d1", 1, 11.0), ("d1", 4, 40.0)]
    spark.createDataFrame(corrected, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    def deliver(ckpt: str) -> None:
        stream = spark.readStream.schema(schema).parquet(src)
        q = streaming_partition_backfill_sink(
            stream, spark, target, "day", str(tmp_path / ckpt)
        ).start()
        q.processAllAvailable()
        q.stop()

    deliver("ckpt1")
    once = sorted(
        (r.day, r.k, r.v) for r in spark.read.parquet(target).collect()
    )
    assert once == sorted([("d1", 1, 11.0), ("d1", 4, 40.0), ("d2", 3, 30.0)])

    # redelivery: a FRESH checkpoint replays the same source file
    deliver("ckpt2")
    twice = sorted(
        (r.day, r.k, r.v) for r in spark.read.parquet(target).collect()
    )
    assert twice == once


def test_streaming_wap_sink_publishes_only_audited_batches(spark, tmp_path):
    """p21's streaming twin (streaming_snapshot_publish_sink): a good
    micro-batch commits AND publishes; a later batch that fails the
    audit commits as a staged version (kept for the post-mortem) but
    the tag — what consumers read — still serves the last audited
    state."""
    from end_to_end_data_engineering_pipeline_spark.operators.snapshots import (
        list_versions,
        snapshot_read_tag,
        snapshot_tags,
    )
    from end_to_end_data_engineering_pipeline_spark.streaming.windows import (
        streaming_snapshot_publish_sink,
    )

    target = str(tmp_path / "silver")
    src = str(tmp_path / "src")
    schema = "k long, v double"

    def audit(staged):
        # release rule: no negative values may publish
        return staged.where(F.col("v") < 0).count() == 0

    def deliver(rows, ckpt):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        q = streaming_snapshot_publish_sink(
            stream, spark, target, audit, str(tmp_path / ckpt)
        ).start()
        q.processAllAvailable()
        q.stop()

    deliver([(1, 10.0), (2, 20.0)], "c1")
    assert snapshot_tags(target) == {"published": 0}
    good = sorted(
        (r.k, r.v)
        for r in snapshot_read_tag(spark, target, "published").collect()
    )
    assert good == [(1, 10.0), (2, 20.0)]

    # bad batch: commits as v1, audit fails, tag stays at v0
    deliver([(3, -5.0)], "c2")
    assert list_versions(target) == [0, 1]  # staged version kept
    assert snapshot_tags(target) == {"published": 0}
    assert (
        sorted(
            (r.k, r.v)
            for r in snapshot_read_tag(spark, target, "published").collect()
        )
        == good
    )


def test_stateful_running_totals_tws_matches_v1(spark, tmp_path):
    """The Spark 4 transformWithStateInPandas twin emits the same
    final running totals as the applyInPandasWithState operator on
    identical micro-batched input (RocksDB state store, as the new
    API requires). Skipped where protobuf is absent (the API's
    Python state server needs it); the guard itself is always
    asserted."""
    import pytest as _pytest

    from end_to_end_data_engineering_pipeline_spark.streaming.stateful import (
        StatefulV2Unavailable,
        running_user_totals_tws,
    )

    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        # the guard must fire loudly, not crash a query mid-stream
        with _pytest.raises(StatefulV2Unavailable, match="protobuf"):
            running_user_totals_tws(
                spark.readStream.format("rate").load().selectExpr(
                    "value AS user_id", "CAST(value AS DOUBLE) AS value"
                )
            )
        _pytest.skip("protobuf runtime absent; guard behavior verified")

    src = str(tmp_path / "tws_src")
    base = dt.datetime(2026, 1, 1)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    spark.createDataFrame(
        [(1, base, 1, "a", 10.50, "{}"), (2, base, 2, "a", 1.25, "{}")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(3, base, 1, "b", 2.25, "{}")], schema
    ).coalesce(1).write.mode("append").parquet(src)

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = running_user_totals_tws(stream)
        q = (
            out.writeStream.outputMode("update")
            .format("memory")
            .queryName("tws_out")
            .start()
        )
        q.processAllAvailable()
        q.stop()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
    rows = spark.sql("SELECT * FROM tws_out").collect()
    final = {}
    for r in rows:
        final[r.user_id] = (r.n_events, r.total_value)
    # same contract the v1 test pins
    assert final[1] == (2, 12.75)
    assert final[2] == (1, 1.25)


def test_streaming_postings_index_equals_rebuild(spark, tmp_path):
    """t51's streaming twin: a document stream maintained through
    streaming_postings_index_sink (bootstrap + increments) must leave
    postings/dfreq identical to a batch rebuild over everything
    delivered — and a RE-DELIVERED epoch (foreachBatch's at-least-once
    contract) must be skipped whole via the meta last_epoch marker,
    never double-counted."""
    from pyspark.sql import functions as F

    from end_to_end_data_engineering_pipeline_spark.operators.snapshots import (
        snapshot_read,
    )
    from end_to_end_data_engineering_pipeline_spark.operators.text import (
        tokenize_tf,
    )
    from end_to_end_data_engineering_pipeline_spark.streaming.windows import (
        streaming_postings_index_sink,
    )

    src = str(tmp_path / "docs_src")
    store = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"
    batches = [
        [(1, "fast scan table"), (2, "merge window merge")],
        [(3, "fast fast stream"), (4, "scan scan scan batch")],
        [(5, "window table fast scan")],
    ]
    for b in batches:
        spark.createDataFrame(b, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_postings_index_sink(stream, spark, store, ckpt).start()
    q.processAllAvailable()
    q.stop()

    all_docs = spark.createDataFrame(
        [r for b in batches for r in b], schema
    )
    rebuilt = tokenize_tf(all_docs)
    got = snapshot_read(spark, store + "/postings")
    assert got.exceptAll(rebuilt).count() == 0
    assert rebuilt.exceptAll(got).count() == 0
    meta = snapshot_read(spark, store + "/meta").collect()[0]
    assert meta.n_docs == 5 and meta.last_epoch is not None

    # re-delivery through the REAL foreachBatch path: restart the
    # stream over the same source with a FRESH checkpoint, so every
    # batch re-arrives with an epoch id <= the recorded last_epoch —
    # the guard must skip them all (same-data re-delivery, the
    # Delta txnVersion idiom)
    q2 = streaming_postings_index_sink(
        stream, spark, store, str(tmp_path / "ckpt2")
    ).start()
    q2.processAllAvailable()
    q2.stop()
    n_after = snapshot_read(spark, store + "/postings").count()
    assert n_after == rebuilt.count()  # unchanged: replay was skipped
    dfreq = snapshot_read(spark, store + "/dfreq")
    want_df = rebuilt.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    assert dfreq.exceptAll(want_df).count() == 0
    assert want_df.exceptAll(dfreq).count() == 0


def test_postings_sink_reapplies_epoch_after_failed_commit(
    spark, tmp_path, monkeypatch
):
    """An increment whose dfreq commit fails must not record its epoch
    in meta (meta commits last), so the re-delivered epoch is applied,
    once: the index then equals a batch rebuild, postings included."""
    from end_to_end_data_engineering_pipeline_spark.operators import snapshots
    from end_to_end_data_engineering_pipeline_spark.operators.snapshots import (
        list_versions,
        snapshot_read,
    )
    from end_to_end_data_engineering_pipeline_spark.operators.text import (
        tokenize_tf,
    )
    from end_to_end_data_engineering_pipeline_spark.streaming.windows import (
        streaming_postings_index_sink,
    )

    src = str(tmp_path / "docs_src")
    store = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"
    batches = [
        [(1, "fast scan table"), (2, "merge window merge")],
        [(3, "fast fast stream"), (4, "scan scan batch")],
    ]

    def deliver():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = streaming_postings_index_sink(stream, spark, store, ckpt).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    def add(batch):
        spark.createDataFrame(batch, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    add(batches[0])
    deliver()  # bootstrap epoch
    meta_versions = list_versions(store + "/meta")

    def failing_merge(*args, **kwargs):
        raise RuntimeError("injected dfreq commit failure")

    add(batches[1])
    monkeypatch.setattr(snapshots, "snapshot_merge", failing_merge)
    with pytest.raises(Exception, match="injected dfreq commit failure"):
        deliver()
    assert list_versions(store + "/meta") == meta_versions

    monkeypatch.undo()
    deliver()  # the failed epoch is re-delivered from the checkpoint
    rebuilt = tokenize_tf(
        spark.createDataFrame([r for b in batches for r in b], schema)
    )
    got = snapshot_read(spark, store + "/postings")
    assert got.exceptAll(rebuilt).count() == 0
    assert rebuilt.exceptAll(got).count() == 0
    want_df = rebuilt.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    dfreq = snapshot_read(spark, store + "/dfreq")
    assert dfreq.exceptAll(want_df).count() == 0
    assert want_df.exceptAll(dfreq).count() == 0
    assert snapshot_read(spark, store + "/meta").collect()[0].n_docs == 4


def test_postings_sink_reruns_failed_bootstrap(spark, tmp_path, monkeypatch):
    """A bootstrap epoch whose dfreq write fails after postings landed
    runs again on re-delivery, over what it left: the index then
    equals a batch rebuild of the first batch."""
    from end_to_end_data_engineering_pipeline_spark.operators import snapshots
    from end_to_end_data_engineering_pipeline_spark.operators.snapshots import (
        list_versions,
        snapshot_read,
    )
    from end_to_end_data_engineering_pipeline_spark.operators.text import (
        tokenize_tf,
    )
    from end_to_end_data_engineering_pipeline_spark.streaming.windows import (
        streaming_postings_index_sink,
    )

    src = str(tmp_path / "docs_src")
    store = str(tmp_path / "idx")
    ckpt = str(tmp_path / "ckpt")
    schema = "doc_id long, text string"
    batch = [(1, "fast scan table"), (2, "merge window merge")]
    spark.createDataFrame(batch, schema).coalesce(1).write.parquet(src)

    def deliver():
        stream = spark.readStream.schema(schema).parquet(src)
        q = streaming_postings_index_sink(stream, spark, store, ckpt).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    real_write = snapshots.snapshot_write

    def failing_dfreq(spark_, path, *args, **kwargs):
        if path.endswith("/dfreq"):
            raise RuntimeError("injected dfreq write failure")
        return real_write(spark_, path, *args, **kwargs)

    monkeypatch.setattr(snapshots, "snapshot_write", failing_dfreq)
    with pytest.raises(Exception, match="injected dfreq write failure"):
        deliver()
    assert list_versions(store + "/postings")
    assert not list_versions(store + "/meta")

    monkeypatch.undo()
    deliver()  # the failed bootstrap epoch is re-delivered
    rebuilt = tokenize_tf(spark.createDataFrame(batch, schema))
    got = snapshot_read(spark, store + "/postings")
    assert got.exceptAll(rebuilt).count() == 0
    assert rebuilt.exceptAll(got).count() == 0
    want_df = rebuilt.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    dfreq = snapshot_read(spark, store + "/dfreq")
    assert dfreq.exceptAll(want_df).count() == 0
    assert want_df.exceptAll(dfreq).count() == 0
    assert snapshot_read(spark, store + "/meta").collect()[0].n_docs == 2


def test_streaming_cdc_eq_sink_applies_and_replays_idempotently(
    spark, tmp_path
):
    """The MoR DML family's streaming twin (streaming_cdc_eq_sink):
    each micro-batch reduces latest-wins per key, then commits
    tombstones (snapshot_delete_eq) and upserts (snapshot_upsert_eq)
    with ZERO reads of the target — and a replayed batch leaves
    content unchanged."""
    import datetime as dt

    from end_to_end_data_engineering_pipeline_spark.operators.snapshots import (
        snapshot_compact,
        snapshot_read,
    )
    from end_to_end_data_engineering_pipeline_spark.streaming.windows import (
        streaming_cdc_eq_sink,
    )

    src = str(tmp_path / "cdc")
    target = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    schema = "k long, v string, seq long, op string"
    t0 = dt.datetime(2026, 1, 1)

    def run(ckpt_dir):
        stream = spark.readStream.schema(schema).parquet(src)
        q = streaming_cdc_eq_sink(
            stream, spark, target, ["k"], "seq", "op", ckpt_dir
        ).start()
        q.processAllAvailable()
        q.stop()

    # batch 1: inserts for k=1..3, plus an intra-batch correction of
    # k=2 (seq 2 beats seq 1) and an upsert+delete exact tie on k=3
    # (delete wins the tie)
    spark.createDataFrame(
        [
            (1, "a", 1, "upsert"),
            (2, "b", 1, "upsert"),
            (2, "b2", 2, "upsert"),
            (3, "c", 1, "upsert"),
            (3, None, 2, "delete"),
            (3, "c2", 2, "upsert"),
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    run(ckpt)
    got = {(r.k, r.v) for r in snapshot_read(spark, target).collect()}
    assert got == {(1, "a"), (2, "b2")}

    # batch 2: delete k=1, re-insert k=3, update k=2
    spark.createDataFrame(
        [
            (1, None, 3, "delete"),
            (3, "c3", 3, "upsert"),
            (2, "b3", 3, "upsert"),
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)
    run(ckpt)
    got = {(r.k, r.v) for r in snapshot_read(spark, target).collect()}
    assert got == {(2, "b3"), (3, "c3")}

    # replay BOTH batches from a fresh checkpoint (at-least-once
    # delivery): content must be unchanged
    run(str(tmp_path / "ckpt2"))
    got = {(r.k, r.v) for r in snapshot_read(spark, target).collect()}
    assert got == {(2, "b3"), (3, "c3")}

    # ordinary maintenance materializes the accumulated tombstones
    snapshot_compact(spark, target)
    got = {(r.k, r.v) for r in snapshot_read(spark, target).collect()}
    assert got == {(2, "b3"), (3, "c3")}
