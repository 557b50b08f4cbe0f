"""Pipeline-operator queries: the reference's signature transforms
exposed over the driver's tables so the DuckDB oracle can grade them.

The weather pipeline itself runs on synthetic payloads (tests/
test_weather_pipeline.py); here each CORE operator of that pipeline is
re-expressed over events/orders:

- p1: the F1 flatten (from_json -> explode(arrays_zip)) as a lossless
  round-trip — build a struct-of-parallel-arrays JSON payload per
  user (exactly the Open-Meteo shape), then flatten it back; the
  oracle is the identity projection of the source table. Proves the
  flatten is positionally exact.
- p2: the dim_date gold model (A7 + X3-X6) built from orders dates.
- p3: the S10/S11 SQL surface: a model authored as SQL text over
  registered views.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load, pin_dataset, pin_result, register_views
from ..functions import iso_dow
from .benchmeta import fixture_phase
from .registry import query

_TS_FMT = "yyyy-MM-dd HH:mm:ss"

# The payload schema for p1 — same parallel-array shape as
# schemas.PAYLOAD (reference transformation/clean_data.py:59-74), with
# events fields standing in for the weather measures.
_P1_PAYLOAD = T.StructType(
    [
        T.StructField(
            "hourly",
            T.StructType(
                [
                    T.StructField("time", T.ArrayType(T.StringType())),
                    T.StructField("value", T.ArrayType(T.DoubleType())),
                    T.StructField("event_id", T.ArrayType(T.LongType())),
                ]
            ),
        )
    ]
)


@query(
    "p1_flatten_roundtrip",
    oracle="""
    SELECT user_id,
           STRFTIME(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_str,
           value, event_id
    FROM events
    """,
)
def p1_flatten_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack each user's events into a struct-of-parallel-arrays JSON
    document, then flatten with from_json + explode(arrays_zip) — the
    reference's F1 operator (clean_data.py:59-89). The result must
    reproduce the source rows exactly (oracle = identity), proving
    positional alignment survives the round trip.

    Scale note: the pack stage is one groupBy(user_id) shuffle; the
    flatten stage is shuffle-free row explosion — the same profile as
    the real bronze->silver transform.
    """
    ev = load(spark, sf_dir, "events")
    # stage the sorted event list as a bound column FIRST — referencing
    # the collect_list expression inside each transform would rebuild
    # and re-sort the array once per projected field
    sorted_events = (
        ev.select(
            "user_id",
            F.date_format("ts", _TS_FMT).alias("ts_str"),
            "value",
            "event_id",
            F.struct("ts", "event_id").alias("ord"),
        )
        .groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ord", "ts_str", "value", "event_id"))
            ).alias("evs")
        )
    )
    packed = sorted_events.select(
        "user_id",
        F.to_json(
            F.struct(
                F.struct(
                    F.transform(F.col("evs"), lambda s: s["ts_str"]).alias("time"),
                    F.transform(F.col("evs"), lambda s: s["value"]).alias("value"),
                    F.transform(F.col("evs"), lambda s: s["event_id"]).alias(
                        "event_id"
                    ),
                ).alias("hourly")
            )
        ).alias("payload"),
    )
    parsed = packed.withColumn("p", F.from_json("payload", _P1_PAYLOAD))
    return parsed.select(
        "user_id",
        F.explode(
            F.arrays_zip(
                F.col("p.hourly.time").alias("time"),
                F.col("p.hourly.value").alias("value"),
                F.col("p.hourly.event_id").alias("event_id"),
            )
        ).alias("h"),
    ).select(
        "user_id",
        F.col("h.time").alias("ts_str"),
        F.col("h.value").alias("value"),
        F.col("h.event_id").alias("event_id"),
    )


@query(
    "p2_dim_date_build",
    oracle="""
    SELECT DISTINCT STRFTIME(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS date_id,
           EXTRACT(isodow FROM o_orderdate) AS iso_day_of_week,
           EXTRACT(week FROM o_orderdate) AS iso_week,
           EXTRACT(month FROM o_orderdate) AS month,
           EXTRACT(year FROM o_orderdate) AS year
    FROM orders
    """,
)
def p2_dim_date_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dim_date gold model (plans/star.py:build_dim_date; reference
    dbt/models/analytics/dim_date.sql:1-13) applied to orders dates —
    DISTINCT projection + ISO calendar attributes."""
    o = load(spark, sf_dir, "orders")
    return (
        o.select(F.to_date("o_orderdate").alias("d"))
        .distinct()
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("date_id"),
            iso_dow("d").cast("long").alias("iso_day_of_week"),
            F.weekofyear("d").cast("long").alias("iso_week"),
            F.month("d").cast("long").alias("month"),
            F.year("d").cast("long").alias("year"),
        )
    )


@query(
    "p3_sql_model_over_views",
    oracle="""
    SELECT n_name, o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name, o_orderpriority
    """,
)
def p3_sql_model_over_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A model authored as SQL text over registered temp views — the
    dbt-source surface (S10/S11: views are plan subtrees; Catalyst
    optimizes through them identically to the DataFrame form)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n_name, o_orderpriority, COUNT(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name, o_orderpriority
        """
    )


@query(
    "p4_quality_gate_counters",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS "null:l_quantity",
           CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS "null:l_shipdate",
           CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
                    THEN 1 ELSE 0 END) AS BIGINT) AS "range:l_quantity",
           CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1
                    THEN 1 ELSE 0 END) AS BIGINT) AS "range:l_discount",
           CAST(SUM(CASE WHEN l_tax < 0 OR l_tax > 0.08
                    THEN 1 ELSE 0 END) AS BIGINT) AS "range:l_tax"
    FROM lineitem
    """,
)
def p4_quality_gate_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality/expectations module itself (SURVEY §2.11 — the
    reference's distinctive capability, quality/checks.py:59-157) run
    through the driver's correctness gate: every rule compiles to a
    sum(when(...)) counter, ONE aggregate pass computes all of them."""
    from ..quality import Expectations, not_null_rule, range_rule

    exp = Expectations(
        rules=[
            not_null_rule("l_quantity"),
            not_null_rule("l_shipdate"),
            range_rule("l_quantity", 1, 50),
            range_rule("l_discount", 0.0, 0.1),
            range_rule("l_tax", 0.0, 0.08),
        ],
    )
    li = load(spark, sf_dir, "lineitem")
    return exp.counters_df(li)


@query(
    "p5_incremental_gold",
    oracle="""
    SELECT STRFTIME(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
           COUNT(*) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(15,2))), 4) AS DOUBLE)
             AS sum_price
    FROM orders GROUP BY month
    """,
)
def p5_incremental_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental gold materialization (ModelRunner + partition-scoped
    MERGE): a monthly-revenue model built in TWO runs — a historical
    backfill (months < 1997-04) then an incremental run recomputing all
    complete months >= 1997-01. The overlap (1997-01..03) exercises the
    REPLACE path (anti-join drops the stale aggregate rows, the fresh
    batch wins); months before the watermark are untouched on disk.
    The merged table must equal the one-shot full aggregate (the
    oracle) — dbt's incremental-vs-full-refresh equivalence contract
    (dbt_project.yml:19-21 vs clean_data.py:222-243). At 100 TB the
    second run reads and rewrites only the watermarked partitions."""
    import shutil
    import tempfile

    from ..functions import dec2, dsum_expr
    from ..plans import ModelRunner
    from ..schemas import local_frame

    o = load(spark, sf_dir, "orders")

    def monthly(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("month", F.date_format("o_orderdate", "yyyy-MM"))
            .groupBy("month")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                dsum_expr(dec2("o_totalprice"), "sum_price"),
            )
        )

    tmp = tempfile.mkdtemp(prefix="p5_incr_")
    runner = ModelRunner(warehouse_dir=tmp)
    phase = {"n": 1}

    @runner.model(
        "gold_monthly_revenue",
        materialization="incremental",
        unique_key=("month",),
        partition_col="month",
    )
    def gold(s: SparkSession) -> DataFrame:
        if phase["n"] == 1:  # historical backfill
            return monthly(o.where(F.col("o_orderdate") < F.lit("1997-04-01")))
        # incremental: recompute complete months from the watermark on
        return monthly(o.where(F.col("o_orderdate") >= F.lit("1997-01-01")))

    try:
        with fixture_phase():  # backfill; operator = incremental run
            runner.run(spark)
        phase["n"] = 2
        out = runner.run(spark)
        # one row per month: materialize on the driver so the warehouse
        # can go before the caller collects
        gold = out["gold_monthly_revenue"].select("month", "n_orders", "sum_price")
        return local_frame(spark, [r.asDict() for r in gold.collect()], gold.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@query(
    "p6_compaction_roundtrip",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(15,2))), 4)
                AS DOUBLE) AS sum_price
    FROM lineitem WHERE l_shipdate >= '1998-01-01'
    GROUP BY l_returnflag
    """,
)
def p6_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction preserves data exactly (operators/
    maintenance.py): a lineitem slice is written as a deliberately
    fragmented partitioned table (4 appends x 4 tasks per returnflag
    partition), compacted down to the byte-justified file count, and
    re-aggregated — the result must equal the oracle's aggregate over
    the ORIGINAL rows, proving the rewrite is content-neutral. The
    lake-maintenance analog of Delta OPTIMIZE: at 100 TB, per-batch
    ingestion appends accrete thousands of files per partition and
    scan cost tracks file count, so compaction is a first-class
    operator, not an offline chore."""
    import shutil
    import tempfile

    from ..functions import dec2, dsum_expr
    from ..operators.maintenance import compact_partitions

    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") >= F.lit("1998-01-01")
    ).select("l_returnflag", "l_quantity", "l_extendedprice", "l_orderkey")

    tmp = tempfile.mkdtemp(prefix="p6_compact_")
    path = tmp + "/t"
    try:
        with fixture_phase():  # fragment; operator = the compaction
            for i in range(4):  # 4 appends x 4 tasks per partition
                li.where((F.col("l_orderkey") % 4) == i).repartition(
                    4
                ).write.mode("append").partitionBy("l_returnflag").parquet(
                    path
                )
        compact_partitions(spark, path, target_file_bytes=1 << 30)
        out = (
            spark.read.parquet(path)
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
                dsum_expr(dec2("l_extendedprice"), "sum_price"),
            )
        )
        out = pin_result(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@query(
    "p7_schema_evolution_merge",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderdate >= '1996-07-01'
                THEN o_orderstatus END AS status
    FROM orders
    """,
)
def p7_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opt-in schema evolution under MERGE (operators/merge.py
    allow_schema_evolution — the Delta autoMerge analog the
    reference's fixed-DDL ON CONFLICT upsert cannot do,
    clean_data.py:222-243): a table seeded WITHOUT the status column
    takes an update batch that carries it; pre-existing rows null-fill,
    updated/inserted rows carry their value, and the final footer
    schema includes the new column. The seed (< 1997-01-01) and batch
    (>= 1996-07-01) windows overlap, so all three row fates occur:
    kept-and-null-filled, updated-with-new-column, fresh-insert. The
    oracle folds the same two-phase history into one CASE expression
    over orders."""
    import shutil
    import tempfile

    from ..operators.merge import merge_upsert

    o = load(spark, sf_dir, "orders")
    tmp = tempfile.mkdtemp(prefix="p7_evolve_")
    path = tmp + "/t"
    try:
        seed = o.where(F.col("o_orderdate") < F.lit("1997-01-01")).select(
            "o_orderkey", "o_custkey"
        )
        with fixture_phase():  # seed; operator = evolution merge
            merge_upsert(spark, path, seed, ["o_orderkey"])
        evolved = o.where(F.col("o_orderdate") >= F.lit("1996-07-01")).select(
            "o_orderkey",
            "o_custkey",
            F.col("o_orderstatus").alias("status"),
        )
        merge_upsert(
            spark, path, evolved, ["o_orderkey"], allow_schema_evolution=True
        )
        out = spark.read.parquet(path).select(
            "o_orderkey", "o_custkey", "status"
        )
        out = pin_dataset(out)  # data-sized: executor-side pin
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@query(
    "p8_retention_sweep",
    oracle="""
    WITH cutoff AS (
      SELECT MAX(CAST(ts AS DATE)) - 7 AS c FROM events
    ),
    kept AS (
      SELECT e.*, CAST(e.ts AS DATE) AS d
      FROM events e, cutoff WHERE CAST(e.ts AS DATE) >= cutoff.c
    )
    SELECT event_type,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT d) AS n_days,
           CAST(MIN(d) AS VARCHAR) AS earliest_kept
    FROM kept GROUP BY event_type
    """,
)
def p8_retention_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention/TTL enforcement (operators/maintenance.py:
    expire_partitions): events land in a date-partitioned table, a
    7-day retention sweep deletes expired partition DIRS without
    reading a byte of data (the Delta/Iceberg partition-delete fast
    path — at 100 TB retention must be metadata-only), and the
    surviving table is re-aggregated. The oracle filters the original
    rows by the same cutoff, so the sweep must remove exactly the
    expired dates — no more, no fewer — including hive-escaping
    round-trips of the partition values."""
    import shutil
    import tempfile

    from ..operators.maintenance import expire_partitions

    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("d"),
    )
    cutoff_row = ev.agg(F.date_sub(F.max(F.to_date("d")), 7)).first()
    cutoff = cutoff_row[0].isoformat()

    tmp = tempfile.mkdtemp(prefix="p8_retention_")
    path = tmp + "/t"
    try:
        with fixture_phase():  # land the table; operator = the sweep
            ev.write.mode("overwrite").partitionBy("d").parquet(path)
        removed = expire_partitions(path, "d", cutoff)
        assert removed == sorted(removed)  # audit order contract
        # idempotence: a second sweep with the same cutoff is a no-op
        assert expire_partitions(path, "d", cutoff) == []
        kept = spark.read.parquet(path)
        out = kept.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("d").alias("n_days"),
            F.min("d").cast("string").alias("earliest_kept"),
        )
        out = pin_result(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@query(
    "p9_time_travel",
    oracle="""
    SELECT 0 AS version, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(15,2))), 4)
                AS DOUBLE) AS total_price
    FROM orders WHERE o_orderkey % 3 = 0 GROUP BY o_orderstatus
    UNION ALL
    SELECT 1 AS version, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(15,2))), 4)
                AS DOUBLE) AS total_price
    FROM orders WHERE o_orderkey % 3 IN (0, 1) GROUP BY o_orderstatus
    UNION ALL
    SELECT 2 AS version, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(15,2))), 4)
                AS DOUBLE) AS total_price
    FROM orders WHERE o_orderkey % 7 = 0 GROUP BY o_orderstatus
    """,
)
def p9_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-versioned table end-to-end (operators/snapshots.py —
    the Delta/Iceberg core over plain parquet: immutable data files,
    JSON manifest per version, manifest link as the atomic commit):
    version 0 seeds a third of orders, version 1 APPENDS another third
    (metadata union of file lists), version 2 OVERWRITES with a
    different slice (fresh file list; v0/v1 stay readable). The query
    reads ALL THREE versions via time travel and aggregates each — so
    the oracle checks that every historical snapshot returns exactly
    the rows current at its commit, which is the whole contract."""
    import shutil
    import tempfile

    from ..functions import dec2, dsum_expr
    from ..operators.snapshots import snapshot_read, snapshot_write

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    tmp = tempfile.mkdtemp(prefix="p9_snap_")
    path = tmp + "/t"
    try:
        with fixture_phase():  # commit 3 versions; operator = reads
            snapshot_write(
                spark, path, o.where(F.col("o_orderkey") % 3 == 0)
            )
            snapshot_write(
                spark, path, o.where(F.col("o_orderkey") % 3 == 1)
            )
            snapshot_write(
                spark, path, o.where(F.col("o_orderkey") % 7 == 0),
                mode="overwrite",
            )
        parts = [
            snapshot_read(spark, path, version=v)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                dsum_expr(dec2("o_totalprice"), "total_price"),
            )
            .select(
                F.lit(v).cast("int").alias("version"),
                "o_orderstatus",
                "n_rows",
                "total_price",
            )
            for v in (0, 1, 2)
        ]
        out = parts[0].unionByName(parts[1]).unionByName(parts[2])
        out = pin_result(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@query(
    "p10_incremental_agg",
    oracle="""
    WITH fin AS (
      SELECT o_orderstatus AS s,
             CASE WHEN o_orderkey % 7 = 0
                  THEN CAST(CAST(o_totalprice AS DECIMAL(15,2)) * 2
                            AS DECIMAL(15,2))
                  ELSE CAST(o_totalprice AS DECIMAL(15,2)) END AS price
      FROM orders WHERE o_orderkey % 13 <> 0
      UNION ALL
      SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(15,2))
      FROM orders WHERE o_orderkey % 11 = 0
    )
    SELECT s AS o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(SUM(price), 4) AS DOUBLE) AS total_price
    FROM fin GROUP BY s
    """,
)
def p10_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Algebraic incremental view maintenance (operators/merge.py
    incremental_agg_delta / apply_agg_delta): a maintained
    count/sum-by-status aggregate absorbs an I/U/D change batch
    carrying BEFORE IMAGES as a pure delta — updates contribute
    (after - before), deletes subtract their before image, inserts
    add — with NO base-table recompute; the maintenance cost is one
    tiny join of group-cardinality rows. The batch: %7 keys re-price
    2x (U), %13 keys delete (D, winning over their update), %11 keys
    clone in under fresh keys (I). The oracle aggregates the COMPOSED
    final table directly, so the delta algebra must land exactly —
    decimal arithmetic end-to-end, no float drift."""
    from ..functions import dec2
    from ..operators.merge import apply_agg_delta, incremental_agg_delta

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        dec2("o_totalprice").alias("price"),
    )
    seed = o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("price").alias("total"),
    )
    upd = o.where(
        (F.col("o_orderkey") % 7 == 0) & (F.col("o_orderkey") % 13 != 0)
    ).select(
        "o_orderstatus",
        F.lit("U").alias("op"),
        F.col("price").alias("before"),
        (F.col("price") * 2).cast("decimal(15,2)").alias("after"),
    )
    dele = o.where(F.col("o_orderkey") % 13 == 0).select(
        "o_orderstatus",
        F.lit("D").alias("op"),
        F.col("price").alias("before"),
        F.lit(None).cast("decimal(15,2)").alias("after"),
    )
    ins = o.where(F.col("o_orderkey") % 11 == 0).select(
        "o_orderstatus",
        F.lit("I").alias("op"),
        F.lit(None).cast("decimal(15,2)").alias("before"),
        F.col("price").alias("after"),
    )
    changes = upd.unionByName(dele).unionByName(ins)
    delta = incremental_agg_delta(changes, ["o_orderstatus"])
    final = apply_agg_delta(seed, delta, ["o_orderstatus"], "n", "total")
    return final.select(
        "o_orderstatus",
        "n",
        F.round("total", 4).cast("double").alias("total_price"),
    )


@query(
    "p11_snapshot_diff",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_orderstatus AS s,
             CAST(o_totalprice AS DECIMAL(15,2)) AS p
      FROM orders),
    v1 AS (
      SELECT k, s,
             CASE WHEN k % 7 = 0 THEN CAST(p * 2 AS DECIMAL(15,2))
                  ELSE p END AS p
      FROM base
      UNION ALL
      SELECT k + 1000000000, s, p FROM base WHERE k % 11 = 0),
    d AS (
      SELECT COALESCE(base.k, v1.k) AS o_orderkey,
             CASE WHEN base.k IS NULL THEN 'added'
                  WHEN v1.k IS NULL THEN 'removed'
                  WHEN NOT (base.s IS NOT DISTINCT FROM v1.s
                            AND base.p IS NOT DISTINCT FROM v1.p)
                  THEN 'changed' END AS change,
             base.s AS o_orderstatus_from, v1.s AS o_orderstatus_to,
             CAST(base.p AS DOUBLE) AS price_from,
             CAST(v1.p AS DOUBLE) AS price_to
      FROM base FULL OUTER JOIN v1 ON v1.k = base.k)
    SELECT * FROM d WHERE change IS NOT NULL
    """,
)
def p11_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table diff across snapshot versions (operators/snapshots.py
    snapshot_diff): version 0 seeds orders, a copy-on-write MERGE
    commits version 1 (%7 keys repriced 2x, %11 keys cloned under
    fresh keys), and the diff reports exactly what the merge did —
    one 'changed' row per repriced key with both prices, one 'added'
    row per clone, nothing else. The reconciliation/audit primitive
    time travel enables without keeping a separate copy; one
    full-outer join of two manifest-pinned reads. The oracle derives
    both versions from orders directly, so the whole
    write -> merge -> diff pipeline must reproduce them exactly."""
    import shutil
    import tempfile

    from ..functions import dec2
    from ..operators.snapshots import snapshot_diff, snapshot_merge, snapshot_write

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        dec2("o_totalprice").alias("price"),
    )
    tmp = tempfile.mkdtemp(prefix="p11_diff_")
    path = tmp + "/t"
    try:
        with fixture_phase():  # seed v0; operator = CoW merge + diff
            snapshot_write(spark, path, o)
        upd = o.where(F.col("o_orderkey") % 7 == 0).select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("price") * 2).cast("decimal(15,2)").alias("price"),
        ).unionByName(
            o.where(F.col("o_orderkey") % 11 == 0).select(
                (F.col("o_orderkey") + 1000000000).alias("o_orderkey"),
                "o_orderstatus",
                "price",
            )
        )
        snapshot_merge(spark, path, upd, keys=["o_orderkey"])
        out = snapshot_diff(spark, path, ["o_orderkey"], 0, 1).select(
            "o_orderkey",
            "change",
            "o_orderstatus_from",
            "o_orderstatus_to",
            F.col("price_from").cast("double").alias("price_from"),
            F.col("price_to").cast("double").alias("price_to"),
        )
        out = pin_dataset(out)  # data-sized: executor-side pin
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@query(
    "p12_zorder_roundtrip",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(15,2))), 4)
                AS DOUBLE) AS sum_price,
           CAST(SUM(CAST(l_partkey AS BIGINT)) AS BIGINT) AS sum_part,
           CAST(SUM(CAST(l_suppkey AS BIGINT)) AS BIGINT) AS sum_supp
    FROM lineitem WHERE l_shipdate >= '1998-01-01'
    GROUP BY l_returnflag
    """,
)
def p12_zorder_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustered write preserves data exactly
    (operators/maintenance.py zorder_write — the Delta OPTIMIZE ...
    ZORDER BY analog): a lineitem slice is rewritten clustered on
    (l_partkey, l_suppkey) and re-aggregated, and the result must
    equal the oracle over the ORIGINAL rows — the layout rewrite is
    content-neutral while each output file covers a compact rectangle
    in key space (per-file bbox areas pinned separately in
    tests/test_maintenance.py). Layout is the ONLY thing that
    changed, which is exactly what a clustering pass must guarantee
    before anyone trusts its pruning."""
    import shutil
    import tempfile

    from ..functions import dec2, dsum_expr
    from ..operators.maintenance import zorder_write

    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") >= F.lit("1998-01-01")
    ).select(
        "l_returnflag", "l_quantity", "l_extendedprice",
        "l_partkey", "l_suppkey",
    )
    tmp = tempfile.mkdtemp(prefix="p12_zorder_")
    path = tmp + "/t"
    try:
        zorder_write(li, path, ["l_partkey", "l_suppkey"], n_files=8)
        out = (
            spark.read.parquet(path)
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
                dsum_expr(dec2("l_extendedprice"), "sum_price"),
                F.sum(F.col("l_partkey").cast("bigint")).alias("sum_part"),
                F.sum(F.col("l_suppkey").cast("bigint")).alias("sum_supp"),
            )
        )
        out = pin_result(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@query(
    "p13_bucketed_colocated_join",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(15,2))), 4)
                AS DOUBLE) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def p13_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join over a bucketed table pair
    (operators/maintenance.py write_bucketed) — the named fallback for
    the 100 TB broadcast cliff (docs/SCALE.md): orders and customer
    are persisted bucketed on the customer key with the SAME bucket
    count, so the join's HashPartitioning requirement is satisfied by
    the SCANS themselves and the sort-merge join runs with ZERO
    Exchange below it (plan-pinned in tests/test_plans.py). The merge
    hint forces SMJ so the demonstration doesn't silently degrade to a
    broadcast at test scale — at 100 TB neither side broadcasts and
    this IS the plan. The only shuffle in the whole query is the final
    group-by's. Oracle joins the raw tables directly, proving the
    bucketed round-trip is content-neutral."""
    import shutil
    import tempfile
    import uuid

    from ..functions import dec2, dsum_expr
    from ..operators.partitioning import write_bucketed

    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    token = uuid.uuid4().hex[:8]
    t_o, t_c = f"p13_orders_{token}", f"p13_customer_{token}"
    tmp = tempfile.mkdtemp(prefix="p13_bucketed_")
    try:
        with fixture_phase():  # one-time layout cost; operator = join
            write_bucketed(o, t_o, ["o_custkey"], 16, path=tmp + "/o")
            write_bucketed(c, t_c, ["c_custkey"], 16, path=tmp + "/c")
        bo, bc = spark.table(t_o), spark.table(t_c)
        out = (
            bo.hint("merge")
            .join(bc, bo["o_custkey"] == bc["c_custkey"])
            .groupBy("c_mktsegment")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                dsum_expr(dec2("o_totalprice"), "revenue"),
            )
        )
        out = pin_result(out)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t_o}")
        spark.sql(f"DROP TABLE IF EXISTS {t_c}")
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@query(
    "p14_time_range_pruned_read",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(27,4))), 4) AS DOUBLE)
             AS total_value
    FROM events
    WHERE ts BETWEEN TIMESTAMP '2024-01-08 00:00:00'
                 AND TIMESTAMP '2024-01-14 23:59:59'
    GROUP BY event_type
    """,
)
def p14_time_range_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-window query over a range-clustered snapshot store
    (operators/snapshots.py:snapshot_write_sorted/snapshot_read_range
    — Iceberg file-skipping stats in the versioned manifest): events
    are committed clustered on ts with per-file min/max collected
    from the parquet FOOTERS at write time; the week-window read then
    opens only the overlapping files BY MANIFEST LOOKUP (no listing,
    no read-time footer round-trips, version-pinned against
    concurrent commits) and applies the exact BETWEEN residual. The
    oracle is a plain full-scan filter over the raw table — pruning
    must change IO, never results (file-subset behavior pinned in
    tests/test_snapshots.py). Value sums ride the decimal(27,4) rule
    (functions/scalar.py) so both engines agree bit-for-bit."""
    import datetime
    import shutil
    import tempfile

    from ..operators.snapshots import (
        snapshot_read_range,
        snapshot_write_sorted,
    )

    ev = load(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="p14_range_")
    store = tmp + "/events"
    try:
        with fixture_phase():  # commit is the fixture; operator = read
            snapshot_write_sorted(spark, store, ev, "ts", n_files=8)
        week = snapshot_read_range(
            spark,
            store,
            datetime.datetime(2024, 1, 8, 0, 0, 0),
            datetime.datetime(2024, 1, 14, 23, 59, 59),
        )
        out = week.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.round(F.sum(F.col("value").cast("decimal(27,4)")), 4)
            .cast("double")
            .alias("total_value"),
        )
        out = pin_result(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# --------------------------------------------------------------------------
# p15 — corpus release: quality gate -> exact dedup -> decontamination ->
# versioned commit (the training-corpus product, end to end)
# --------------------------------------------------------------------------

from . import textops as _t  # oracle fragments shared with t19/t27/t38


@query(
    "p15_corpus_release",
    oracle=f"""
    WITH w AS (
      SELECT CAST(i AS INT) AS bucket,
             CAST({_t._o_hash32("'w|' || CAST(i AS VARCHAR)")} % 17 - 8
                  AS BIGINT) AS weight
      FROM (SELECT UNNEST(range(0, 64)) AS i)
    ),
    tokq AS (
      SELECT doc_id, UNNEST({_t._O_TOKS}) AS tok
      FROM documents WHERE doc_id % 97 <> 0
    ),
    qa AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(weight) AS BIGINT) AS raw
      FROM (SELECT doc_id,
                   CAST({_t._o_hash32("tok")} % 64 AS INT) AS bucket
            FROM tokq) b
      JOIN w USING (bucket)
      GROUP BY doc_id
    ),
    keepq AS (SELECT doc_id FROM qa WHERE raw + n >= 0),
    fp AS (
      SELECT d.doc_id, md5({_t._O_NORM}) AS fp
      FROM documents d JOIN keepq USING (doc_id)
    ),
    ded AS (SELECT MIN(doc_id) AS doc_id, fp FROM fp GROUP BY fp),
    sh AS (SELECT doc_id, {_t._o_shingles(3)} AS s FROM documents),
    bench AS (SELECT DISTINCT g FROM (
        SELECT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0)),
    hits AS (
      SELECT DISTINCT c.doc_id
      FROM (SELECT d.doc_id, unnest(s.s) AS g
            FROM ded d JOIN sh s ON s.doc_id = d.doc_id) c
      JOIN bench USING (g)
    ),
    rel AS (
      SELECT d.doc_id, d.fp FROM ded d
      WHERE NOT EXISTS (SELECT 1 FROM hits h WHERE h.doc_id = d.doc_id)
    )
    SELECT doc.lang, doc.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len({_t._O_RAW_TOKS})) AS BIGINT) AS n_tokens,
           CAST(SUM(CAST('0x' || substr(r.fp, 1, 8) AS BIGINT))
                AS BIGINT) AS corpus_digest
    FROM rel r JOIN documents doc ON doc.doc_id = r.doc_id
    GROUP BY doc.lang, doc.source
    """,
)
def p15_corpus_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE PRODUCT of a curation engine, end to end: documents pass
    the model-based quality gate (t38's scorer; integer inequality
    raw_score >= -n_tokens, i.e. mean weight >= -1 — no float
    boundary), survivors exact-dedup corpus-wide (keep lowest id per
    normalized fingerprint, t3 semantics), the deduped corpus is
    decontaminated against the benchmark shingle set (t19/t27
    machinery), and the RELEASE is committed as a lang-partitioned
    snapshot version (operators/snapshots.py) with stage lineage in
    the manifest extra — then read BACK from the pinned version, so
    the reported table proves the commit round-trip is
    content-neutral. Per (lang, source): doc count, token count, and
    a corpus membership DIGEST (md5 over the sorted fingerprint
    concatenation) — the value-hash oracle therefore pins the exact
    SET of released documents, not just counts, across a four-stage
    pipeline in two engines. Every stage keeps the narrow-key
    discipline of its standalone query; the composition adds one
    lang-partitioned write."""
    import shutil
    import tempfile

    from ..operators.dedup_fuzzy import contamination_hits, exact_dedup
    from ..operators.snapshots import (
        snapshot_read_partitioned,
        snapshot_write_partitioned,
    )
    from ..operators.text import (
        fingerprint,
        quality_score_linear,
        whitespace_tokens,
    )

    docs = load(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    scores = quality_score_linear(corpus, dim=64)
    keep = scores.where(
        F.col("raw_score") + F.col("n_tokens") >= 0
    ).select("doc_id")
    gated = corpus.join(keep, "doc_id")
    ded = exact_dedup(gated)
    hits = contamination_hits(ded, bench).select(
        F.col("id").alias("doc_id")
    )
    release = ded.join(F.broadcast(hits), "doc_id", "left_anti").withColumn(
        "fp", fingerprint(F.col("text"))
    )

    tmp = tempfile.mkdtemp(prefix="p15_release_")
    store = tmp + "/release"
    try:
        with fixture_phase():  # the commit; operator = gated pipeline
            version = snapshot_write_partitioned(
                spark,
                store,
                release,
                "lang",
                extra={
                    "stages": [
                        "quality_mean_ge_-1",
                        "exact_dedup_keep_first",
                        "decontaminate_shingle3_mod97",
                    ],
                },
            )
        back = snapshot_read_partitioned(spark, store, version=version)
        out = back.groupBy("lang", "source").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.size(whitespace_tokens("text")).cast("long")).alias(
                "n_tokens"
            ),
            F.sum(
                F.conv(F.substring("fp", 1, 8), 16, 10).cast("long")
            )
            .cast("long")
            .alias("corpus_digest"),
        )
        out = pin_result(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@query(
    "p16_gdpr_delete_sweep",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(27,4))), 4) AS DOUBLE)
             AS total_value
    FROM events
    WHERE user_id % 37 <> 0
    GROUP BY event_type
    """,
)
def p16_gdpr_delete_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten through the lakehouse
    (operators/snapshots.py:snapshot_delete): events are committed as
    a snapshot table, every event of the erasure-requesting users
    (user_id % 37 == 0) is deleted via file-granular copy-on-write,
    and the report reads the POST-DELETE version back from the store
    — so the oracle (a plain filter over the raw table) pins that the
    CoW rewrite dropped exactly the requested rows and nothing else.
    The prior version stays time-travelable until vacuum retires it;
    erasure completeness (delete + vacuum => bytes gone from every
    surviving file) is pinned in tests/test_snapshots.py. A delete
    touching k% of keys rewrites ~k% of files at any table size."""
    import shutil
    import tempfile

    from ..operators.snapshots import snapshot_delete, snapshot_read

    ev = load(spark, sf_dir, "events")
    tmp = tempfile.mkdtemp(prefix="p16_gdpr_")
    store = tmp + "/events"
    try:
        with fixture_phase():  # seeding the table is the fixture
            from ..operators.snapshots import snapshot_write

            snapshot_write(
                spark, store, ev.repartitionByRange(4, "user_id")
            )
        erasure = ev.where(F.col("user_id") % 37 == 0).select(
            "user_id"
        ).distinct()
        v = snapshot_delete(spark, store, erasure, ["user_id"])
        back = snapshot_read(spark, store, version=v)
        out = back.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.round(F.sum(F.col("value").cast("decimal(27,4)")), 4)
            .cast("double")
            .alias("total_value"),
        )
        out = pin_result(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@query(
    "p17_dynamic_partition_backfill",
    oracle="""
    SELECT STRFTIME(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS d,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(27,4))), 4) AS DOUBLE)
             AS total_value
    FROM events
    WHERE NOT (STRFTIME(CAST(ts AS TIMESTAMP), '%Y-%m-%d') = '2024-01-10'
               AND user_id % 10 = 0)
    GROUP BY STRFTIME(CAST(ts AS TIMESTAMP), '%Y-%m-%d')
    """,
)
def p17_dynamic_partition_backfill(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Idempotent single-day BACKFILL via dynamic partition overwrite
    (spark.sql.sources.partitionOverwriteMode=dynamic — the
    session-default mode this engine sets, exhibited here end to
    end): the events table is seeded day-partitioned; one day's batch
    re-runs with a correction (test users dropped) and its overwrite
    REPLACES ONLY THE PARTITIONS THE BATCH CONTAINS — every other
    day's files are untouched (static overwrite mode would truncate
    the whole table, the classic backfill data-loss trap). The report
    reads the table back per day, so the oracle — raw events with the
    correction applied to the one day — pins both the replacement and
    the non-interference. This is the nightly-rerun shape every
    batch pipeline needs; at scale the rewrite cost is the corrected
    day's bytes, never the table's."""
    import shutil
    import tempfile

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    ev = load(spark, sf_dir, "events").withColumn(
        "d", F.date_format(F.col("ts"), "yyyy-MM-dd")
    )
    tmp = tempfile.mkdtemp(prefix="p17_backfill_")
    store = tmp + "/events"
    try:
        with fixture_phase():  # seeding the table is the fixture
            ev.write.partitionBy("d").mode("overwrite").parquet(store)
        corrected = ev.where(
            (F.col("d") == "2024-01-10") & (F.col("user_id") % 10 != 0)
        )
        corrected.write.partitionBy("d").mode("overwrite").parquet(store)
        back = spark.read.parquet(store)
        out = back.groupBy(F.col("d").cast("string").alias("d")).agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.round(F.sum(F.col("value").cast("decimal(27,4)")), 4)
            .cast("double")
            .alias("total_value"),
        )
        out = pin_result(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@query(
    "p18_quarantine_routing",
    oracle="""
    WITH flags AS (
      SELECT l_quantity,
             CASE WHEN l_quantity < 1 OR l_quantity > 30
                  THEN 1 ELSE 0 END AS f_qty,
             CASE WHEN l_discount < 0 OR l_discount > 0.05
                  THEN 1 ELSE 0 END AS f_disc
      FROM lineitem
    ),
    labeled AS (
      SELECT l_quantity,
             CASE WHEN f_qty = 0 AND f_disc = 0 THEN '__good__'
                  ELSE CONCAT(
                    CASE WHEN f_qty = 1 THEN 'range:l_quantity' ELSE '' END,
                    CASE WHEN f_qty = 1 AND f_disc = 1 THEN ';' ELSE '' END,
                    CASE WHEN f_disc = 1 THEN 'range:l_discount' ELSE '' END)
             END AS reason_set
      FROM flags
    )
    SELECT reason_set,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM labeled GROUP BY reason_set
    """,
)
def p18_quarantine_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter routing with reason attribution
    (quality/expectations.py:quarantine_split): rows violating
    (deliberately tight) range rules divert to quarantine carrying
    the ARRAY of every rule they break, good rows pass untouched —
    "which rows and why", composing with the aggregate gate's "is the
    batch healthy". The report re-unions both sides into per
    reason-set counts, so the oracle pins the routing partition is
    exact and exhaustive (good + every reason combination sums to the
    table). One pass over the scan computes all predicates; both
    outputs are filters over it."""
    from ..quality.expectations import quarantine_split, range_row

    li = load(spark, sf_dir, "lineitem")
    rules = [
        range_row("l_quantity", 1, 30),
        range_row("l_discount", 0, 0.05),
    ]
    good, bad = quarantine_split(li, rules)
    g = good.select(
        F.lit("__good__").alias("reason_set"), F.col("l_quantity")
    )
    b = bad.select(
        F.array_join("quarantine_reasons", ";").alias("reason_set"),
        F.col("l_quantity"),
    )
    return (
        g.unionByName(b)
        .groupBy("reason_set")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("long"))
            .cast("long")
            .alias("sum_qty"),
        )
    )


@query(
    "p19_partitioned_cow",
    oracle="""
    WITH ev AS (
      SELECT STRFTIME(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS d,
             user_id, value
      FROM events
    ),
    cow AS (
      SELECT d, user_id,
             CASE WHEN d = '2024-01-10' AND user_id % 10 = 0
                  THEN -1.0 ELSE value END AS value
      FROM ev WHERE d <> '2024-01-12'
    )
    SELECT 'base' AS stage, d,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(27,4))), 4) AS DOUBLE)
             AS total_value
    FROM ev GROUP BY d
    UNION ALL
    SELECT 'after_cow' AS stage, d,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(27,4))), 4) AS DOUBLE)
             AS total_value
    FROM cow GROUP BY d
    """,
)
def p19_partitioned_cow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE + DELETE on a PARTITIONED snapshot table
    (operators/snapshots.py:_cow_commit — the r7 verdict's #2 ask):
    events are committed day-partitioned (manifest partition map),
    then one day's rows are CORRECTED via a PARTITION-SCOPED
    row-keyed merge (the batch asserts its keys live in the day it
    carries, so the tag scan itself manifest-prunes to that day's
    files; only files containing a matched event_id rewrite,
    restaged through partitionBy so the new manifest keeps a
    complete partition map) and one day is RETIRED via a
    PARTITION-KEYED delete — a pure METADATA commit since r10: every
    candidate file's partition value is in the delete set, so the
    manifest just drops them (no semi-join, no restage, no data IO).
    The report aggregates BOTH the original version and the
    post-CoW current version per day under one oracle, pinning
    simultaneously that (a) the CoW applied exactly the requested
    changes, and (b) time travel to the pre-CoW version still
    serves the original rows. Untouched partitions carrying by
    reference (same file names) is pinned in tests/test_snapshots.py.
    At 100 TB: a day-keyed retention sweep is a manifest operation
    plus zero data IO; a 0.1%-of-keys merge rewrites ~0.1% of files."""
    import shutil
    import tempfile

    from ..operators.snapshots import (
        snapshot_delete,
        snapshot_merge,
        snapshot_read_partitioned,
        snapshot_write_partitioned,
    )

    ev = load(spark, sf_dir, "events").withColumn(
        "d", F.date_format(F.col("ts"), "yyyy-MM-dd")
    )
    tmp = tempfile.mkdtemp(prefix="p19_cow_")
    store = tmp + "/events"

    def _day_agg(df: DataFrame, stage: str) -> DataFrame:
        return df.groupBy("d").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.round(F.sum(F.col("value").cast("decimal(27,4)")), 4)
            .cast("double")
            .alias("total_value"),
        ).select(F.lit(stage).alias("stage"), "*")

    try:
        with fixture_phase():  # seeding the table is the fixture
            v0 = snapshot_write_partitioned(spark, store, ev, "d")
        upd = ev.where(
            (F.col("d") == "2024-01-10") & (F.col("user_id") % 10 == 0)
        ).withColumn("value", F.lit(-1.0))
        # partition-scoped: the correction batch carries the same day
        # it corrects, so the tag scan opens ONE day's files (Delta's
        # merge-with-partition-predicate idiom; contract pytest-pinned)
        snapshot_merge(spark, store, upd, ["event_id"], partition_scope=True)
        v2 = snapshot_delete(
            spark,
            store,
            spark.createDataFrame([("2024-01-12",)], "d string"),
            ["d"],
        )
        base = _day_agg(
            snapshot_read_partitioned(spark, store, version=v0), "base"
        )
        after = _day_agg(
            snapshot_read_partitioned(spark, store, version=v2), "after_cow"
        )
        out = base.unionByName(after)
        out = pin_result(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@query(
    "p20_streaming_backfill_parity",
    oracle="""
    WITH ev AS (
      SELECT STRFTIME(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS d,
             user_id, event_type, value
      FROM events
    )
    SELECT d,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(27,4))), 4) AS DOUBLE)
             AS total_value
    FROM ev
    WHERE NOT (d = '2024-01-15' AND event_type = 'error')
    GROUP BY d
    """,
)
def p20_streaming_backfill_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """AT-LEAST-ONCE REPLAY SAFETY of the streaming backfill sink
    (streaming/windows.py:streaming_partition_backfill_sink), proven
    in batch form so the driver's oracle can grade it: the corrected
    day's batch (day 2024-01-15 with error events dropped) is
    delivered TWICE through the sink's exact write path — dynamic
    partition overwrite — and the end state equals a single delivery:
    the oracle is simply "raw events with the one-day correction
    applied once". An append-mode sink would double-count the
    replayed batch; partition overwrite replaces the day's files
    each delivery, making re-delivery idempotent. The true streaming
    twin (a real foreachBatch query fed the same micro-batch twice)
    is pinned in tests/test_streaming.py against this same oracle
    shape."""
    import shutil
    import tempfile

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    ev = load(spark, sf_dir, "events").withColumn(
        "d", F.date_format(F.col("ts"), "yyyy-MM-dd")
    )
    tmp = tempfile.mkdtemp(prefix="p20_replay_")
    store = tmp + "/events"
    try:
        with fixture_phase():  # seeding the table is the fixture
            ev.write.partitionBy("d").mode("overwrite").parquet(store)
        corrected = ev.where(
            (F.col("d") == "2024-01-15") & (F.col("event_type") != "error")
        )
        # the sink's write path, delivered twice (simulated replay)
        for _ in range(2):
            corrected.write.partitionBy("d").mode("overwrite").parquet(store)
        back = spark.read.parquet(store)
        out = back.groupBy(F.col("d").cast("string").alias("d")).agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.round(F.sum(F.col("value").cast("decimal(27,4)")), 4)
            .cast("double")
            .alias("total_value"),
        )
        out = pin_result(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@query(
    "p21_wap_publish",
    oracle="""
    WITH corrected AS (
      SELECT STRFTIME(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS d,
             user_id, LEAST(value, 50.0) AS value
      FROM events
    )
    SELECT d,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(27,4))), 4) AS DOUBLE)
             AS total_value
    FROM corrected GROUP BY d
    """,
)
def p21_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish through snapshot TAGS
    (operators/snapshots.py:snapshot_tag/snapshot_read_tag — Iceberg
    WAP): the baseline commits as v0 and is tagged 'published'; a
    CORRECTED rewrite (outlier values clamped at 50) commits as v1 —
    staged, invisible to tag readers; an audit checks the staged
    version (row-count parity with the published one) and only then
    retargets the tag (one atomic metadata rename). A further BAD
    commit (v2, most rows dropped) then lands UNAUDITED — and the
    query's output reads THROUGH the tag, so the value-hash oracle
    (daily aggregate of the clamped events) pins the whole contract:
    readers see exactly the audited v1, not the latest commit, or the
    hash breaks. The audit-rejects path and vacuum's tagged-version
    retention are pinned in tests/test_snapshots.py. At 100 TB every
    step is a manifest/pointer operation except the corrected rewrite
    itself — exactly the nightly gated-publish pipeline shape."""
    import shutil
    import tempfile

    from ..operators.snapshots import (
        snapshot_read,
        snapshot_read_tag,
        snapshot_tag,
        snapshot_write,
    )

    ev = load(spark, sf_dir, "events").select(
        F.date_format(F.col("ts"), "yyyy-MM-dd").alias("d"),
        "user_id",
        "value",
    )
    tmp = tempfile.mkdtemp(prefix="p21_wap_")
    store = tmp + "/silver"
    try:
        with fixture_phase():  # baseline seed is the fixture
            v0 = snapshot_write(spark, store, ev)
            snapshot_tag(store, "published", v0)
        corrected = ev.withColumn(
            "value", F.least(F.col("value"), F.lit(50.0))
        )
        v1 = snapshot_write(spark, store, corrected, mode="overwrite")
        # audit the STAGED version by number; publish only on pass
        staged_n = snapshot_read(spark, store, v1).count()
        published_n = snapshot_read_tag(spark, store, "published").count()
        if staged_n == published_n:
            snapshot_tag(store, "published", v1)
        # an unaudited commit after publication must not leak
        snapshot_write(spark, store, ev.limit(10), mode="overwrite")
        out = snapshot_read_tag(spark, store, "published").groupBy("d").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.round(F.sum(F.col("value").cast("decimal(27,4)")), 4)
            .cast("double")
            .alias("total_value"),
        )
        out = pin_result(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@query(
    "p22_partitioned_schema_evolution",
    oracle="""
    WITH ev AS (
      SELECT STRFTIME(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS d,
             event_id, user_id, value
      FROM events
    ),
    evolved AS (
      SELECT d, user_id, value,
             CASE WHEN d = '2024-01-10' AND user_id % 10 = 0
                  THEN 'audited' END AS review_status
      FROM ev
    )
    SELECT d,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(review_status) AS BIGINT) AS n_reviewed,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(27,4))), 4) AS DOUBLE)
             AS total_value
    FROM evolved GROUP BY d
    """,
)
def p22_partitioned_schema_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ADD-column schema evolution through a PARTITIONED CoW merge
    under the driver oracle (operators/snapshots.py:_cow_commit +
    the manifest-recorded evolved schema): events are committed
    day-partitioned WITHOUT a review_status column; an audit batch for
    one day's sampled users merges carrying the NEW column; only that
    day's touched files rewrite (carry-by-reference pinned in
    tests/test_snapshots.py), every other day's files keep their old
    physical schema, and the post-merge read null-fills review_status
    for them because the read path applies the manifest's evolved
    schema — a bare mixed-footer read would silently drop the column.
    The oracle derives the same evolved table from raw events with a
    CASE, so the per-day counts of reviewed rows (COUNT over the new
    column) hash-pin both the merge and the null-fill. At 100 TB this
    is how an annotation column lands on a petabyte table: rewrite
    the touched files, never the table."""
    import shutil
    import tempfile

    from ..operators.snapshots import (
        snapshot_merge,
        snapshot_read_partitioned,
        snapshot_write_partitioned,
    )

    ev = load(spark, sf_dir, "events").select(
        F.date_format(F.col("ts"), "yyyy-MM-dd").alias("d"),
        "event_id",
        "user_id",
        "value",
    )
    tmp = tempfile.mkdtemp(prefix="p22_evo_")
    store = tmp + "/events"
    try:
        with fixture_phase():  # seeding the table is the fixture
            snapshot_write_partitioned(spark, store, ev, "d")
        audit = ev.where(
            (F.col("d") == "2024-01-10") & (F.col("user_id") % 10 == 0)
        ).withColumn("review_status", F.lit("audited"))
        v1 = snapshot_merge(spark, store, audit, ["event_id"])
        out = (
            snapshot_read_partitioned(spark, store, version=v1)
            .groupBy("d")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.count("review_status").cast("long").alias("n_reviewed"),
                F.round(
                    F.sum(F.col("value").cast("decimal(27,4)")), 4
                )
                .cast("double")
                .alias("total_value"),
            )
        )
        out = pin_result(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# Shared p23/p25 commit history (producer and consumer must test the
# SAME story): v0 seeds orders, a CoW MERGE reprices %7 keys 2x and
# clones %11 keys under +1e9 ids, a keyed DELETE removes %13 originals.
_O_CDF_BASE_V2 = """base AS (
      SELECT o_orderkey AS k, o_orderstatus AS s,
             CAST(o_totalprice AS DECIMAL(15,2)) AS p
      FROM orders),
    v2 AS (
      SELECT k, s,
             CASE WHEN k % 7 = 0 THEN CAST(p * 2 AS DECIMAL(15,2))
                  ELSE p END AS p
      FROM base WHERE k % 13 <> 0
      UNION ALL
      SELECT k + 1000000000 AS k, s, p FROM base WHERE k % 11 = 0)"""


def _cdf_orders_history(spark: SparkSession, sf_dir: str):
    """(o, upd, dele) for the shared CDF scenario: the seed
    projection, the merge batch (%7 repriced, %11 cloned), and the
    delete keys (%13 originals) — one definition so p23 (the feed)
    and p25 (the sync) can never drift onto different histories."""
    from ..functions import dec2

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        dec2("o_totalprice").alias("price"),
    )
    upd = o.where(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        (F.col("price") * 2).cast("decimal(15,2)").alias("price"),
    ).unionByName(
        o.where(F.col("o_orderkey") % 11 == 0).select(
            (F.col("o_orderkey") + 1000000000).alias("o_orderkey"),
            "o_orderstatus",
            "price",
        )
    )
    dele = o.where(F.col("o_orderkey") % 13 == 0).select("o_orderkey")
    return o, upd, dele


@query(
    "p23_change_data_feed",
    oracle=f"""
    WITH {_O_CDF_BASE_V2},
    d AS (
      SELECT COALESCE(b.k, a.k) AS k,
             b.s AS bs, a.s AS s2,
             CAST(b.p AS DOUBLE) AS bp, CAST(a.p AS DOUBLE) AS ap,
             CASE WHEN b.k IS NULL THEN 'insert'
                  WHEN a.k IS NULL THEN 'delete'
                  WHEN NOT (b.s IS NOT DISTINCT FROM a.s
                            AND b.p IS NOT DISTINCT FROM a.p)
                  THEN 'update' END AS c
      FROM base b FULL OUTER JOIN v2 a ON a.k = b.k)
    SELECT k AS o_orderkey, s2 AS o_orderstatus, ap AS price,
           'insert' AS _change_type FROM d WHERE c = 'insert'
    UNION ALL
    SELECT k, bs, bp, 'delete' FROM d WHERE c = 'delete'
    UNION ALL
    SELECT k, bs, bp, 'update_preimage' FROM d WHERE c = 'update'
    UNION ALL
    SELECT k, s2, ap, 'update_postimage' FROM d WHERE c = 'update'
    """,
)
def p23_change_data_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed from the manifest file diff
    (operators/snapshots.py snapshot_changes — the Delta CDF /
    Iceberg incremental-read primitive): version 0 seeds orders, a
    CoW MERGE commits version 1 (%7 keys repriced 2x, %11 keys
    cloned under fresh keys), a keyed DELETE commits version 2 (%13
    original keys), and the feed over the 0->2 span must report
    exactly the NET row-level changes — one insert per surviving
    clone, one delete per removed key (pre-image = the ORIGINAL
    price, even where the key was repriced in between), and an
    update_preimage/update_postimage pair per repriced survivor.
    Rows that were merely dragged through CoW rewrites (co-located
    with a touched key) must NOT appear. The operator reads only the
    files that entered or left the manifest between the versions —
    O(changed data) where p11's full-version diff is O(table) — so
    the oracle (a direct base-vs-final-state diff in SQL) checks
    both the CoW commits and the file-diff consumption path at once.
    The incremental-consumption analog of the reference's
    transactional upsert sink (transformation/clean_data.py:222-243):
    downstream syncs read what changed, never the table."""
    import shutil
    import tempfile

    from ..operators.snapshots import (
        snapshot_changes,
        snapshot_delete,
        snapshot_merge,
        snapshot_write,
    )

    o, upd, dele = _cdf_orders_history(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="p23_cdf_")
    path = tmp + "/t"
    try:
        with fixture_phase():  # seed v0; operator = CoW commits + CDF
            snapshot_write(spark, path, o)
        snapshot_merge(spark, path, upd, keys=["o_orderkey"])
        v2 = snapshot_delete(spark, path, dele, keys=["o_orderkey"])
        out = snapshot_changes(
            spark, path, ["o_orderkey"], 0, v2
        ).select(
            "o_orderkey",
            "o_orderstatus",
            F.col("price").cast("double").alias("price"),
            "_change_type",
        )
        out = pin_dataset(out)  # data-sized: executor-side pin
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@query(
    "p24_incremental_join_view",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(15,2))
                          * (1 - CAST(l_discount AS DECIMAL(9,4)))), 4)
                AS DOUBLE) AS revenue
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def p24_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view (operators/merge.py
    incremental_join_delta composed with incremental_agg_delta /
    apply_agg_delta): the maintained aggregate is revenue per order
    status over orders JOIN lineitem. Both tables are split at a date
    cutoff into an 'old' seed and an appended delta; the seed
    aggregate is built once, then the join-view delta
    dV = (dA JOIN B_new) UNION ALL (A_old JOIN dB) — the DBSP-style
    delta rewrite, disjoint by construction — folds into the
    aggregate as pure I-rows. The oracle recomputes the view from
    scratch, so the maintained result must equal a full rebuild to
    the last cent (all-decimal arithmetic, one ROUND at the end).
    At 100 TB: each delta join broadcasts the small appended batch
    against the big table — maintenance is O(|delta| x fan-out) with
    NO shuffle of either full table, where a rebuild re-shuffles
    both. The incremental twin of the reference's full-rebuild gold
    models (dbt/models/analytics/*.sql, rebuilt every DAG run)."""
    from ..functions import dec2, dec4
    from ..operators.merge import (
        apply_agg_delta,
        incremental_agg_delta,
        incremental_join_delta,
    )

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderdate"
    )
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        (dec2("l_extendedprice") * (F.lit(1) - dec4("l_discount"))).alias(
            "disc_price"
        ),
        "l_shipdate",
    )
    # late cutoffs keep the deltas genuinely SMALL (~4-5% of each
    # table) — the broadcast-the-delta plan this query demonstrates
    # is only honest when the delta is broadcast-sized
    a_old = o.where(F.col("o_orderdate") < "2001-04-01").drop("o_orderdate")
    d_a = o.where(F.col("o_orderdate") >= "2001-04-01").drop("o_orderdate")
    b_old = li.where(F.col("l_shipdate") < "2001-08-01").drop("l_shipdate")
    d_b = li.where(F.col("l_shipdate") >= "2001-08-01").drop("l_shipdate")
    b_new = b_old.unionByName(d_b)

    seed = (
        a_old.join(b_old, "o_orderkey")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("disc_price").alias("total"),
        )
    )
    dv = incremental_join_delta(a_old, d_a, b_new, d_b, ["o_orderkey"])
    sum_t = seed.schema["total"].dataType.simpleString()
    changes = dv.select(
        "o_orderstatus",
        F.lit("I").alias("op"),
        F.lit(None).cast(sum_t).alias("before"),
        F.col("disc_price").cast(sum_t).alias("after"),
    )
    delta = incremental_agg_delta(changes, ["o_orderstatus"])
    final = apply_agg_delta(seed, delta, ["o_orderstatus"], "n", "total")
    return final.select(
        "o_orderstatus",
        "n",
        F.round("total", 4).cast("double").alias("revenue"),
    )


@query(
    "p25_cdf_downstream_sync",
    oracle=f"""
    WITH {_O_CDF_BASE_V2}
    SELECT s AS o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(SUM(p), 4) AS DOUBLE) AS total_price
    FROM v2 GROUP BY s
    """,
)
def p25_cdf_downstream_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The change-data-feed CONSUMER (operators/snapshots.py
    snapshot_sync): a downstream replica seeded at version 0 follows
    the source through a CoW MERGE (%7 repriced, %11 cloned) and a
    keyed DELETE (%13) by reading the 0->current feed — O(changed
    data) — and applying it as one keyed MERGE plus one keyed DELETE
    of its own. The oracle derives the source's final state directly
    from orders, so the whole produce->consume loop (CoW commits,
    file-diff feed, downstream apply) must land the replica exactly
    on the source's current state. Replay idempotency (crash between
    apply and bookmark persist) is pinned in tests/test_snapshots.py.
    This is the sync pattern that keeps derived tables affordable at
    100 TB: cycle cost tracks the source's CHANGE RATE, never its
    size."""
    import shutil
    import tempfile

    from ..operators.snapshots import (
        snapshot_delete,
        snapshot_merge,
        snapshot_read,
        snapshot_sync,
        snapshot_write,
    )

    o, upd, dele = _cdf_orders_history(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="p25_sync_")
    src, dst = tmp + "/src", tmp + "/dst"
    try:
        with fixture_phase():  # seed source + replica at v0
            snapshot_write(spark, src, o)
            snapshot_write(spark, dst, o)
        snapshot_merge(spark, src, upd, keys=["o_orderkey"])
        snapshot_delete(spark, src, dele, keys=["o_orderkey"])
        snapshot_sync(spark, src, dst, ["o_orderkey"], from_version=0)
        out = (
            snapshot_read(spark, dst)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.round(F.sum("price"), 4)
                .cast("double")
                .alias("total_price"),
            )
        )
        out = pin_result(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@query(
    "p26_timestamp_asof_read",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_orderstatus AS s,
             CAST(o_totalprice AS DECIMAL(15,2)) AS p
      FROM orders),
    v1 AS (
      SELECT k, s,
             CASE WHEN k % 5 = 0 THEN CAST(p * 3 AS DECIMAL(15,2))
                  ELSE p END AS p
      FROM base)
    SELECT 'asof_between' AS stage, s AS o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(ROUND(SUM(p), 4) AS DOUBLE) AS total_price
    FROM base GROUP BY s
    UNION ALL
    SELECT 'asof_now', s, CAST(COUNT(*) AS BIGINT),
           CAST(ROUND(SUM(p), 4) AS DOUBLE)
    FROM v1 GROUP BY s
    """,
)
def p26_timestamp_asof_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIMESTAMP AS OF under the value-hash gate
    (operators/snapshots.py:snapshot_version_asof — every manifest
    records its commit instant; the resolver returns the newest
    version at-or-before a timestamp): version 0 seeds orders,
    version 1 reprices every %5 key 3x, and the query reads the
    table AS OF an instant strictly between the two commits (the
    resolver must land on v0) and AS OF now (must land on v1),
    aggregating both under one oracle. The midpoint instant comes
    from the manifests' own recorded commit times, so the pin holds
    regardless of wall-clock jitter. This is the audit/debug read
    pattern ('what did the table say when the report ran?') that
    time travel by version number alone can't serve — reports
    record times, not version numbers."""
    import shutil
    import tempfile
    import time as _time

    from ..functions import dec2
    from ..operators.snapshots import (
        snapshot_history,
        snapshot_merge,
        snapshot_read,
        snapshot_version_asof,
        snapshot_write,
    )

    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        dec2("o_totalprice").alias("price"),
    )
    tmp = tempfile.mkdtemp(prefix="p26_asof_")
    path = tmp + "/t"

    def _agg(df: DataFrame, stage: str) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.sum("price"), 4).cast("double").alias("total_price"),
        ).select(F.lit(stage).alias("stage"), "*")

    try:
        with fixture_phase():  # seed v0
            snapshot_write(spark, path, o)
        upd = o.where(F.col("o_orderkey") % 5 == 0).select(
            "o_orderkey",
            "o_orderstatus",
            (F.col("price") * 3).cast("decimal(15,2)").alias("price"),
        )
        snapshot_merge(spark, path, upd, keys=["o_orderkey"])
        h = snapshot_history(path)
        mid = (h[0]["committed_at"] + h[1]["committed_at"]) / 2
        v_mid = snapshot_version_asof(path, mid)
        v_now = snapshot_version_asof(path, _time.time())
        out = _agg(
            snapshot_read(spark, path, v_mid), "asof_between"
        ).unionByName(_agg(snapshot_read(spark, path, v_now), "asof_now"))
        out = pin_result(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@query(
    "p27_bloom_point_lookup",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST(MIN(event_id) AS BIGINT) AS min_event
    FROM events
    WHERE user_id IN (3, 11, 42, 503, 99999999)
    GROUP BY user_id
    """,
)
def p27_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Needle-in-haystack point lookups through the manifest BLOOM
    index (operators/snapshots.py:snapshot_write_bloom /
    snapshot_read_point — the Delta bloom-filter-index feature):
    events are committed across 16 files with per-file bloom bitmaps
    over user_id (a column the layout is NOT organized around — no
    partition, no sort), then five user lookups (one deliberately
    absent) read ONLY the files whose bitmap admits the probe, with
    the exact equality filter applied on top (false positives cost a
    file read, never a wrong row; false negatives are impossible —
    the probe hashes through the same Spark expression, cast to the
    recorded column type, that built the bitmaps). The oracle is the
    plain IN-filter over events: index pruning must be invisible in
    the result. At 100 TB this is the 'find this user's events
    without a user-partitioned copy' path — a manifest scan plus a
    handful of file opens instead of a full table scan. Pruning
    actually engaging (admitted < total) is pinned in
    tests/test_snapshots.py, not here, so the oracle stays pure SQL."""
    import shutil
    import tempfile
    from functools import reduce

    from ..operators.snapshots import (
        snapshot_read_point,
        snapshot_write_bloom,
    )

    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    tmp = tempfile.mkdtemp(prefix="p27_bloom_")
    store = tmp + "/events"
    try:
        with fixture_phase():  # building the indexed table is staging
            snapshot_write_bloom(
                spark, store, ev.repartition(16), "user_id",
                m_bits=1 << 15, k=3,
            )
        hits = [
            snapshot_read_point(spark, store, uid)
            for uid in (3, 11, 42, 503, 99999999)
        ]
        out = (
            reduce(lambda a, b: a.unionByName(b), hits)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.countDistinct("event_type").cast("long").alias("n_types"),
                F.min("event_id").cast("long").alias("min_event"),
            )
        )
        out = pin_result(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


_P28_SQL = """
    WITH ev AS (
      SELECT CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 8 AS f,
             user_id
      FROM events),
    dials(m) AS (VALUES (1024), (4096), (16384)),
    seeds(s) AS (VALUES (0), (1), (2)),
    fpos AS (
      SELECT DISTINCT d.m, ev.f,
             CAST(('0x' || substr(md5(CAST(ev.user_id AS VARCHAR)
                                       || ':' || CAST(sd.s AS VARCHAR)),
                                  1, 8)) AS BIGINT) % d.m AS pos
      FROM ev, dials d, seeds sd),
    nf AS (
      SELECT f, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_vals
      FROM ev GROUP BY f),
    probes(p) AS (SELECT -t.i FROM generate_series(1, 100) AS t(i)),
    ppos AS (
      SELECT d.m, pr.p, sd.s,
             CAST(('0x' || substr(md5(CAST(pr.p AS VARCHAR)
                                       || ':' || CAST(sd.s AS VARCHAR)),
                                  1, 8)) AS BIGINT) % d.m AS pos
      FROM probes pr, dials d, seeds sd),
    hits AS (
      SELECT DISTINCT pp.m, fp.f, pp.p, pp.s
      FROM ppos pp JOIN fpos fp ON fp.m = pp.m AND fp.pos = pp.pos),
    admitted AS (
      SELECT m, f, p FROM hits GROUP BY m, f, p HAVING COUNT(*) = 3),
    measured AS (
      SELECT m, CAST(COUNT(*) AS BIGINT) AS n_admitted
      FROM admitted GROUP BY m),
    expected AS (
      SELECT d.m,
             SUM(POWER(1 - EXP(-3.0 * nf.n_vals / d.m), 3)) * 100
               AS exp_adm
      FROM dials d, nf GROUP BY d.m)
    SELECT d.m,
           CAST(8 AS BIGINT) AS n_files,
           CAST(100 AS BIGINT) AS n_probes,
           COALESCE(me.n_admitted, 0) AS n_admitted,
           (COALESCE(me.n_admitted, 0) <= 3 * ex.exp_adm + 5
            AND COALESCE(me.n_admitted, 0) + 5 >= ex.exp_adm / 3)
             AS fpr_within_3x
    FROM dials d
    LEFT JOIN measured me ON me.m = d.m
    JOIN expected ex ON ex.m = d.m
    """


@query("p28_bloom_fpr_audit", oracle=_P28_SQL)
def p28_bloom_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration table for the p27 bloom dial — the t44/t45/q31
    discipline applied to the point-lookup index: simulate per-file
    bloom membership RELATIONALLY on the SQL-twinned hash32 family
    (first 8 md5 hex digits — identical in both engines, unlike
    production xxhash64, which has no DuckDB twin), probe 100 absent
    keys against 8 hash-assigned files at three m dials, and report
    the MEASURED admission count per dial next to an
    accuracy-contract boolean: measured within 3x of the analytic
    sum over files of (1 - e^(-k*n_f/m))^k x probes. An undersized
    bitmap (m=1024 here) admits ~half the probes; the production
    default's regime (m=16384) admits almost none — the table IS the
    sizing guidance for snapshot_write_bloom's m_bits, measured, not
    asserted. Exact integer counts carry the hash; the analytic
    bound enters only through wide-margin booleans (the q31
    convention), so cross-engine float ulps cannot flip the gate."""
    from ..operators.text import hash32

    ev = load(spark, sf_dir, "events").select(
        (hash32(F.col("event_id").cast("string")) % 8).alias("f"),
        "user_id",
    )
    dials = spark.createDataFrame([(1024,), (4096,), (16384,)], "m long")
    seeds = spark.createDataFrame([(0,), (1,), (2,)], "s long")
    pos_of = lambda val_col, s_col, m_col: (
        hash32(F.concat(val_col.cast("string"), F.lit(":"), s_col.cast("string")))
        % m_col
    )
    fpos = (
        ev.crossJoin(F.broadcast(dials))
        .crossJoin(F.broadcast(seeds))
        .select("m", "f", pos_of(F.col("user_id"), F.col("s"), F.col("m")).alias("pos"))
        .distinct()
    )
    nf = ev.groupBy("f").agg(
        F.countDistinct("user_id").cast("long").alias("n_vals")
    )
    probes = spark.range(1, 101).select((-F.col("id")).alias("p"))
    ppos = (
        probes.crossJoin(F.broadcast(dials))
        .crossJoin(F.broadcast(seeds))
        .select("m", "p", "s", pos_of(F.col("p"), F.col("s"), F.col("m")).alias("pos"))
    )
    hits = (
        ppos.join(fpos, ["m", "pos"])
        .select("m", "f", "p", "s")
        .distinct()
    )
    measured = (
        hits.groupBy("m", "f", "p")
        .agg(F.count(F.lit(1)).alias("n_seeds"))
        .where(F.col("n_seeds") == 3)
        .groupBy("m")
        .agg(F.count(F.lit(1)).cast("long").alias("n_admitted"))
    )
    expected = (
        dials.crossJoin(nf)
        .groupBy("m")
        .agg(
            (F.sum(
                F.pow(
                    F.lit(1.0)
                    - F.exp(F.lit(-3.0) * F.col("n_vals") / F.col("m")),
                    F.lit(3.0),
                )
            ) * F.lit(100)).alias("exp_adm")
        )
    )
    return (
        dials.join(measured, "m", "left")
        .join(expected, "m")
        .select(
            "m",
            F.lit(8).cast("long").alias("n_files"),
            F.lit(100).cast("long").alias("n_probes"),
            F.coalesce(F.col("n_admitted"), F.lit(0)).cast("long").alias("n_admitted"),
            (
                (F.coalesce(F.col("n_admitted"), F.lit(0)) <= F.col("exp_adm") * 3 + 5)
                & (F.coalesce(F.col("n_admitted"), F.lit(0)) + 5 >= F.col("exp_adm") / 3)
            ).alias("fpr_within_3x"),
        )
    )


@query(
    "p29_partition_evolution",
    oracle="""
    WITH ev AS (
      SELECT STRFTIME(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS d,
             event_type, user_id, value
      FROM events
    )
    SELECT 'by_day' AS probe, d AS key,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(27,4))), 4) AS DOUBLE)
             AS total_value
    FROM ev WHERE d IN ('2024-01-05', '2024-01-10') GROUP BY d
    UNION ALL
    SELECT 'by_type' AS probe, event_type AS key,
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT user_id) AS BIGINT),
           CAST(ROUND(SUM(CAST(value AS DECIMAL(27,4))), 4) AS DOUBLE)
    FROM ev WHERE event_type IN ('click', 'purchase') GROUP BY event_type
    UNION ALL
    SELECT 'full' AS probe, '*' AS key,
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT user_id) AS BIGINT),
           CAST(ROUND(SUM(CAST(value AS DECIMAL(27,4))), 4) AS DOUBLE)
    FROM ev
    """,
)
def p29_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-SPEC EVOLUTION under the driver oracle
    (operators/snapshots.py:snapshot_write_partitioned(evolve=True) —
    Iceberg's spec evolution over the manifest table): the first half
    of the month is committed day-partitioned (spec A); the second
    half appends partitioned by event_type (spec B) as a
    METADATA-ONLY commit — zero old files rewritten (carry-by-
    reference and both inputFiles prune paths are pinned in
    tests/test_snapshots.py::TestPartitionEvolution). Three probes
    hash-pin the read semantics:

    - by_day: a spec-A filter — A-files prune by manifest, B-files
      scan with the exact residual (zero matches there by
      construction, which the hash would catch if the residual leaked
      rows);
    - by_type: a spec-B filter — the mirror image, with the residual
      REQUIRED for correctness (first-half click/purchase rows live
      in day-partitioned files the manifest cannot prune);
    - full: the union read, content-neutral vs the raw table.

    At 100 TB this is how a table's partitioning changes direction:
    the 10-year day-partitioned history stays untouched, new data
    lands under the new spec, reads stay correct throughout, and old
    files migrate lazily through snapshot_compact — never as one big
    rewrite."""
    import shutil
    import tempfile

    from ..operators.snapshots import (
        snapshot_read_partitioned,
        snapshot_write_partitioned,
    )

    ev = load(spark, sf_dir, "events").select(
        F.date_format(F.col("ts"), "yyyy-MM-dd").alias("d"),
        "event_type",
        "user_id",
        "value",
    )
    tmp = tempfile.mkdtemp(prefix="p29_evo_")
    store = tmp + "/events"

    def _agg(df: DataFrame, probe: str, key) -> DataFrame:
        gb = df.groupBy(key) if key is not None else df.groupBy()
        out = gb.agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.round(F.sum(F.col("value").cast("decimal(27,4)")), 4)
            .cast("double")
            .alias("total_value"),
        )
        key_col = (
            F.col(key).cast("string") if key is not None else F.lit("*")
        )
        return out.select(
            F.lit(probe).alias("probe"),
            key_col.alias("key"),
            "n_events",
            "n_users",
            "total_value",
        )

    try:
        with fixture_phase():  # seeding spec A is the fixture
            snapshot_write_partitioned(
                spark, store, ev.where(F.col("d") < "2024-01-16"), "d"
            )
        # the operator under test: the evolution commit + pruned reads
        snapshot_write_partitioned(
            spark,
            store,
            ev.where(F.col("d") >= "2024-01-16"),
            "event_type",
            mode="append",
            evolve=True,
        )
        by_day = snapshot_read_partitioned(
            spark, store, values=["2024-01-05", "2024-01-10"], col="d"
        )
        by_type = snapshot_read_partitioned(
            spark, store, values=["click", "purchase"], col="event_type"
        )
        full = snapshot_read_partitioned(spark, store)
        out = (
            _agg(by_day, "by_day", "d")
            .unionByName(_agg(by_type, "by_type", "event_type"))
            .unionByName(_agg(full, "full", None))
        )
        out = pin_result(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@query(
    "p30_evolution_cdf_sync",
    oracle="""
    WITH ev AS (
      SELECT STRFTIME(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS d,
             event_type, user_id, value
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(27,4))), 4) AS DOUBLE)
             AS total_value
    FROM ev GROUP BY event_type
    """,
)
def p30_evolution_cdf_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The change-data-feed spanning a PARTITION-SPEC EVOLUTION
    commit, consumed downstream: the source is seeded day-partitioned
    (spec A, the fixture), then evolves — the second half of the month
    appends partitioned by event_type (spec B, metadata-only); a plain
    replica seeded at v0 syncs the (0..current] span. The feed's
    before/after sides read THROUGH the mixed-spec manifest
    (snapshots.py:_read_evolved_files via snapshot_changes' _side), so
    a wrong spec attachment, a missed file group, or a broken residual
    shows up as a wrong replica aggregate under the value hash — the
    oracle derives the final state from raw events. Evolution commits
    are append-only by contract (CoW refuses mixed specs), so the
    span carries pure inserts; the replica itself stays a plain
    snapshot table, which is exactly how a derived table keeps
    following a source whose partitioning changed direction mid-
    history — no resync, no rebuild."""
    import shutil
    import tempfile

    from ..operators.snapshots import (
        snapshot_read,
        snapshot_read_partitioned,
        snapshot_sync,
        snapshot_write,
        snapshot_write_partitioned,
    )

    ev = load(spark, sf_dir, "events").select(
        F.date_format(F.col("ts"), "yyyy-MM-dd").alias("d"),
        "event_type",
        "user_id",
        "value",
    )
    tmp = tempfile.mkdtemp(prefix="p30_evo_cdf_")
    src, dst = tmp + "/src", tmp + "/dst"
    try:
        with fixture_phase():  # seed source spec A + replica at v0
            snapshot_write_partitioned(
                spark, src, ev.where(F.col("d") < "2024-01-16"), "d"
            )
            snapshot_write(
                spark, dst, snapshot_read_partitioned(spark, src, version=0)
            )
        snapshot_write_partitioned(
            spark,
            src,
            ev.where(F.col("d") >= "2024-01-16"),
            "event_type",
            mode="append",
            evolve=True,
        )
        snapshot_sync(
            spark, src, dst, ["d", "event_type", "user_id"], from_version=0
        )
        out = (
            snapshot_read(spark, dst)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.countDistinct("user_id").cast("long").alias("n_users"),
                F.round(
                    F.sum(F.col("value").cast("decimal(27,4)")), 4
                )
                .cast("double")
                .alias("total_value"),
            )
        )
        out = pin_result(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@query(
    "p31_mor_delete_lifecycle",
    oracle="""
    WITH live1 AS (
      SELECT * FROM orders WHERE NOT (o_custkey % 19 = 3)
    ),
    live2 AS (
      SELECT * FROM live1 WHERE NOT (o_totalprice >= 250000.0)
    ),
    gone AS (
      SELECT * FROM orders
      WHERE o_custkey % 19 = 3 OR o_totalprice >= 250000.0
    ),
    probes AS (
      SELECT 'after_d1' AS probe, * FROM live1
      UNION ALL SELECT 'after_d2', * FROM live2
      UNION ALL SELECT 'time_travel', * FROM orders
      UNION ALL SELECT 'cdf_deletes', * FROM gone
      UNION ALL SELECT 'purged', * FROM live2
    )
    SELECT probe,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_cust,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(27,4))), 4)
                AS DOUBLE) AS total_price
    FROM probes GROUP BY probe
    """,
)
def p31_mor_delete_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ DELETE under the driver oracle
    (operators/snapshots.py:snapshot_delete_mor — Iceberg v2 position
    deletes / Delta deletion vectors): two keyed deletes commit tiny
    (file, row-ordinal) vector files while every data file carries by
    reference (zero rewrites — pinned in tests/test_snapshots.py's
    mor family), reads mask the positions with one broadcast
    anti-join, and compaction later materializes the vectors by
    rewriting only affected files. Five probes hash-pin the
    lifecycle:

    - after_d1: the masked read after deleting one customer cohort
      (o_custkey % 19 = 3);
    - after_d2: after a second, partially overlapping delete
      (o_totalprice >= 250000) — positions already deleted are never
      re-recorded, which the hash would catch as double-masking if
      the anti-join under-applied or vector bloat mis-joined;
    - time_travel: the pre-delete version, byte-identical to the raw
      table (vectors never touch committed data);
    - cdf_deletes: the change feed across both vector commits — the
      MoR path surfaces row-level deletes WITHOUT any data-file diff
      to read them from;
    - purged: the post-compaction read — materialization must be
      content-neutral vs after_d2.

    The 100 TB story is write amplification: a CoW delete of 1000
    scattered rows restages every touched half-GB file; this commits
    kilobytes of vectors now and lets OPTIMIZE batch the rewrite —
    the delete itself is O(deleted rows).

    Reference parity: transformation/clean_data.py's transactional
    DELETE runs in Postgres MVCC, where dead tuples are masked until
    VACUUM reclaims them — the same mask-now-reclaim-later contract."""
    import shutil
    import tempfile

    from ..operators.snapshots import (
        snapshot_changes,
        snapshot_compact,
        snapshot_delete_mor,
        snapshot_read,
        snapshot_write,
    )

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    tmp = tempfile.mkdtemp(prefix="p31_mor_")
    store = tmp + "/orders"

    def _agg(df: DataFrame, probe: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.countDistinct("o_custkey").cast("long").alias("n_cust"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(27,4)")), 4)
            .cast("double")
            .alias("total_price"),
        ).select(F.lit(probe).alias("probe"), "*")

    try:
        with fixture_phase():  # landing the table is the fixture
            v0 = snapshot_write(spark, store, orders.repartition(8))
        # the operator under test: two vector commits, masked reads,
        # the spanning change feed, and the materializing compaction
        d1 = orders.where(F.col("o_custkey") % 19 == 3).select("o_orderkey")
        v1 = snapshot_delete_mor(spark, store, d1, ["o_orderkey"])
        d2 = orders.where(F.col("o_totalprice") >= 250000.0).select(
            "o_orderkey"
        )
        v2 = snapshot_delete_mor(spark, store, d2, ["o_orderkey"])
        feed = snapshot_changes(
            spark, store, ["o_orderkey"], v0, v2
        ).where(F.col("_change_type") == "delete")
        snapshot_compact(spark, store)
        out = (
            _agg(snapshot_read(spark, store, version=v1), "after_d1")
            .unionByName(
                _agg(snapshot_read(spark, store, version=v2), "after_d2")
            )
            .unionByName(
                _agg(snapshot_read(spark, store, version=v0), "time_travel")
            )
            .unionByName(_agg(feed.drop("_change_type"), "cdf_deletes"))
            .unionByName(_agg(snapshot_read(spark, store), "purged"))
        )
        out = pin_result(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@query(
    "p32_mor_merge_lifecycle",
    oracle="""
    WITH base AS (
      SELECT event_id, user_id, value FROM events
    ),
    upd AS (
      SELECT event_id, user_id, value * 2 AS value,
             'corrected' AS src
      FROM base WHERE event_id % 31 = 4
    ),
    ins AS (
      SELECT event_id + 1000000000 AS event_id, user_id, value,
             'ingested' AS src
      FROM base WHERE event_id % 101 = 7
    ),
    ups AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
    merged AS (
      SELECT b.event_id, b.user_id, b.value, CAST(NULL AS VARCHAR) AS src
      FROM base b ANTI JOIN ups u ON b.event_id = u.event_id
      UNION ALL SELECT * FROM ups
    ),
    probes AS (
      SELECT 'after_merge' AS probe, event_id, value FROM merged
      UNION ALL SELECT 'corrected', event_id, value
        FROM merged WHERE src = 'corrected'
      UNION ALL SELECT 'ingested', event_id, value
        FROM merged WHERE src = 'ingested'
      UNION ALL SELECT 'time_travel', event_id, value FROM base
      UNION ALL SELECT 'cdf_insert', event_id, value FROM ins
      UNION ALL SELECT 'cdf_update_preimage', event_id, value
        FROM base WHERE event_id % 31 = 4
      UNION ALL SELECT 'cdf_update_postimage', event_id, value FROM upd
      UNION ALL SELECT 'purged', event_id, value FROM merged
    )
    SELECT probe, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(27,4))), 4) AS DOUBLE)
             AS total_value
    FROM probes GROUP BY probe
    """,
)
def p32_mor_merge_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ UPSERT under the driver oracle
    (operators/snapshots.py:snapshot_merge_mor — the update half of
    the MoR DML story p31's delete opens): one commit stages position
    vectors masking matched rows' OLD positions plus appended files
    carrying the update batch — corrections (value doubled, a new
    ``src`` column exercising ADD-column evolution: old rows
    null-fill it at scan time) and fresh inserts — with ZERO existing
    files rewritten (carry-by-reference pinned in
    tests/test_snapshots.py's mor_merge family). Eight hash-pinned
    probes: the merged read, its corrected/ingested slices (the
    evolved column routes them), the untouched time-travel version,
    the change feed's exact insert/preimage/postimage partitions
    (served from vector diffs + appended files — no data-file rewrite
    to diff), and the post-compaction materialized read.

    At 100 TB this is the CDC-ingest trade: a correction batch
    touching 0.1% of keys lands as kilobytes of vectors + the batch
    itself, and OPTIMIZE amortizes the rewrite across many batches —
    versus CoW's restage-per-batch (p19/p25's path, still right for
    partitioned/pruned tables).

    Reference parity: transformation/clean_data.py's transactional
    upsert is Postgres MVCC — new row versions written, old masked
    until VACUUM; this is that contract over immutable parquet."""
    import shutil
    import tempfile

    from ..operators.snapshots import (
        snapshot_changes,
        snapshot_compact,
        snapshot_merge_mor,
        snapshot_read,
        snapshot_write,
    )

    base = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    tmp = tempfile.mkdtemp(prefix="p32_mor_")
    store = tmp + "/events"

    def _agg(df: DataFrame, probe: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.round(F.sum(F.col("value").cast("decimal(27,4)")), 4)
            .cast("double")
            .alias("total_value"),
        ).select(F.lit(probe).alias("probe"), "*")

    try:
        with fixture_phase():  # landing the table is the fixture
            v0 = snapshot_write(spark, store, base.repartition(8))
        upd = base.where(F.col("event_id") % 31 == 4).select(
            "event_id",
            "user_id",
            (F.col("value") * 2).alias("value"),
            F.lit("corrected").alias("src"),
        )
        ins = base.where(F.col("event_id") % 101 == 7).select(
            (F.col("event_id") + 1000000000).alias("event_id"),
            "user_id",
            "value",
            F.lit("ingested").alias("src"),
        )
        v1 = snapshot_merge_mor(
            spark, store, upd.unionByName(ins), ["event_id"]
        )
        merged = snapshot_read(spark, store, version=v1)
        feed = snapshot_changes(spark, store, ["event_id"], v0, v1)
        snapshot_compact(spark, store)
        out = (
            _agg(merged, "after_merge")
            .unionByName(
                _agg(merged.where(F.col("src") == "corrected"), "corrected")
            )
            .unionByName(
                _agg(merged.where(F.col("src") == "ingested"), "ingested")
            )
            .unionByName(
                _agg(snapshot_read(spark, store, version=v0), "time_travel")
            )
        )
        for ct in ("insert", "update_preimage", "update_postimage"):
            out = out.unionByName(
                _agg(feed.where(F.col("_change_type") == ct), f"cdf_{ct}")
            )
        out = out.unionByName(_agg(snapshot_read(spark, store), "purged"))
        out = pin_result(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@query(
    "p33_eq_delete_lifecycle",
    oracle="""
    WITH base AS (
      SELECT c_custkey, c_nationkey, c_acctbal FROM customer
    ),
    upd AS (
      SELECT c_custkey, c_nationkey, c_acctbal + 100 AS c_acctbal
      FROM base WHERE c_custkey % 23 = 5
    ),
    ins AS (
      SELECT c_custkey + 1000000000 AS c_custkey, c_nationkey, c_acctbal
      FROM base WHERE c_custkey % 53 = 11
    ),
    ups AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
    after_upsert AS (
      SELECT b.* FROM base b ANTI JOIN ups u ON b.c_custkey = u.c_custkey
      UNION ALL SELECT * FROM ups
    ),
    after_delete AS (
      SELECT * FROM after_upsert WHERE NOT (c_custkey % 7 = 0)
    ),
    reins AS (
      SELECT * FROM base WHERE c_custkey % 14 = 0
    ),
    after_reinsert AS (
      SELECT * FROM after_delete UNION ALL SELECT * FROM reins
    ),
    probes AS (
      SELECT 'after_upsert' AS probe, c_nationkey, c_acctbal
        FROM after_upsert
      UNION ALL SELECT 'after_delete', c_nationkey, c_acctbal
        FROM after_delete
      UNION ALL SELECT 'after_reinsert', c_nationkey, c_acctbal
        FROM after_reinsert
      UNION ALL SELECT 'time_travel', c_nationkey, c_acctbal FROM base
      UNION ALL SELECT 'purged', c_nationkey, c_acctbal
        FROM after_reinsert
    )
    SELECT probe, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(27,4))), 4) AS DOUBLE)
             AS total_bal
    FROM probes GROUP BY probe
    """,
)
def p33_eq_delete_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUALITY DELETES under the driver oracle
    (operators/snapshots.py:snapshot_upsert_eq / snapshot_delete_eq —
    Iceberg v2's second delete flavor, the streaming one): every
    commit here reads the target table ZERO times. The upsert lands
    update rows + a key tombstone at ONE sequence number (the
    Flink-into-Iceberg upsert-mode writer); the delete commits just
    its key set; and the probe that distinguishes this flavor from
    p31's position vectors is AFTER_REINSERT — a plain append
    re-inserting tombstoned keys whose rows SURVIVE, because a
    tombstone masks only rows whose data file predates it (per-file
    sequence numbers, Iceberg's rule). The hash would catch either
    failure mode: a sequence-blind mask kills the re-inserted rows;
    a dropped tombstone resurrects the deleted ones. time_travel pins
    the untouched v0; purged pins compaction materializing position
    vectors and tombstones alike.

    The 100 TB story is the streaming CDC sink
    (streaming/windows.py:streaming_cdc_eq_sink, pytest-pinned): a
    micro-batch against a 100 TB table commits in O(batch) — the
    position flavor would scan the table per batch, CoW would
    rewrite files per batch; equality tombstones are what make
    second-granularity commits affordable, paying one extra
    read-side join until OPTIMIZE.

    Reference parity: transformation/clean_data.py's DELETE/upsert in
    Postgres MVCC — the same mask-now-reclaim-later contract."""
    import shutil
    import tempfile

    from ..operators.snapshots import (
        snapshot_compact,
        snapshot_delete_eq,
        snapshot_read,
        snapshot_upsert_eq,
        snapshot_write,
    )

    base = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    tmp = tempfile.mkdtemp(prefix="p33_eq_")
    store = tmp + "/customer"

    def _agg(df: DataFrame, probe: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("c_nationkey").cast("long").alias("n_nations"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(27,4)")), 4)
            .cast("double")
            .alias("total_bal"),
        ).select(F.lit(probe).alias("probe"), "*")

    try:
        with fixture_phase():  # landing the table is the fixture
            v0 = snapshot_write(spark, store, base.repartition(8))
        upd = base.where(F.col("c_custkey") % 23 == 5).select(
            "c_custkey",
            "c_nationkey",
            (F.col("c_acctbal") + 100).alias("c_acctbal"),
        )
        ins = base.where(F.col("c_custkey") % 53 == 11).select(
            (F.col("c_custkey") + 1000000000).alias("c_custkey"),
            "c_nationkey",
            "c_acctbal",
        )
        v1 = snapshot_upsert_eq(
            spark, store, upd.unionByName(ins), ["c_custkey"]
        )
        dels = snapshot_read(spark, store, version=v1).where(
            F.col("c_custkey") % 7 == 0
        ).select("c_custkey")
        v2 = snapshot_delete_eq(spark, store, dels, ["c_custkey"])
        v3 = snapshot_write(
            spark,
            store,
            base.where(F.col("c_custkey") % 14 == 0),
            mode="append",
        )
        snapshot_compact(spark, store)
        out = (
            _agg(snapshot_read(spark, store, version=v1), "after_upsert")
            .unionByName(
                _agg(snapshot_read(spark, store, version=v2), "after_delete")
            )
            .unionByName(
                _agg(
                    snapshot_read(spark, store, version=v3),
                    "after_reinsert",
                )
            )
            .unionByName(
                _agg(snapshot_read(spark, store, version=v0), "time_travel")
            )
            .unionByName(_agg(snapshot_read(spark, store), "purged"))
        )
        out = pin_result(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@query(
    "p34_mor_partitioned_delete",
    oracle="""
    WITH ev AS (
      SELECT STRFTIME(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS d,
             event_type, user_id, value
      FROM events
    ),
    after_user AS (
      SELECT * FROM ev WHERE NOT (user_id % 37 = 5)
    ),
    after_day AS (
      SELECT * FROM after_user WHERE d <> '2024-01-03'
    ),
    probes AS (
      SELECT 'after_user_delete' AS probe, user_id, value FROM after_user
      UNION ALL SELECT 'after_day_delete', user_id, value FROM after_day
      UNION ALL SELECT 'pruned_day', user_id, value
        FROM after_day WHERE d = '2024-01-07'
      UNION ALL SELECT 'time_travel', user_id, value FROM ev
      UNION ALL SELECT 'purged', user_id, value FROM after_day
    )
    SELECT probe, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(27,4))), 4) AS DOUBLE)
             AS total_value
    FROM probes GROUP BY probe
    """,
)
def p34_mor_partitioned_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ DELETE on a HIVE-PARTITIONED table — the GDPR
    case at 100 TB (operators/snapshots.py:snapshot_delete_mor on a
    part_col manifest): a user-keyed delete scatters across every
    day partition, where CoW would restage every touched file; here
    it commits position vectors only, with the partition map carried
    untouched. A second, DAY-keyed delete exercises the manifest
    pruning of the position scan itself (candidate files bounded to
    that day's partition — pinned structurally in
    tests/test_snapshots.py: the vectors reference only that
    partition's files). Five hash-pinned probes: the masked read
    after each delete, a PRUNED read of an untouched day (manifest
    pruning and vector masking compose — the read opens one day's
    data files plus vectors), the untouched time-travel version, and
    the post-compaction read (materialization restages per partition,
    so the map stays prunable — content-neutral under the hash).

    Reference parity: the reference's retention DELETE runs in
    Postgres (transformation/clean_data.py); this is the same
    mask-now-reclaim-later MVCC contract with the partition layout
    preserved."""
    import shutil
    import tempfile

    from ..operators.snapshots import (
        snapshot_compact,
        snapshot_delete_mor,
        snapshot_read_partitioned,
        snapshot_write_partitioned,
    )

    ev = load(spark, sf_dir, "events").select(
        F.date_format(F.col("ts"), "yyyy-MM-dd").alias("d"),
        "event_type",
        "user_id",
        "value",
    )
    tmp = tempfile.mkdtemp(prefix="p34_mor_")
    store = tmp + "/events"

    def _agg(df: DataFrame, probe: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.round(F.sum(F.col("value").cast("decimal(27,4)")), 4)
            .cast("double")
            .alias("total_value"),
        ).select(F.lit(probe).alias("probe"), "*")

    try:
        with fixture_phase():  # landing the partitioned table
            v0 = snapshot_write_partitioned(spark, store, ev, "d")
        users = ev.where(F.col("user_id") % 37 == 5).select(
            "user_id"
        ).distinct()
        v1 = snapshot_delete_mor(spark, store, users, ["user_id"])
        days = spark.createDataFrame([("2024-01-03",)], "d string")
        v2 = snapshot_delete_mor(spark, store, days, ["d"])
        snapshot_compact(spark, store)
        out = (
            _agg(
                snapshot_read_partitioned(spark, store, version=v1),
                "after_user_delete",
            )
            .unionByName(
                _agg(
                    snapshot_read_partitioned(spark, store, version=v2),
                    "after_day_delete",
                )
            )
            .unionByName(
                _agg(
                    snapshot_read_partitioned(
                        spark, store, values=["2024-01-07"], version=v2
                    ),
                    "pruned_day",
                )
            )
            .unionByName(
                _agg(
                    snapshot_read_partitioned(spark, store, version=v0),
                    "time_travel",
                )
            )
            .unionByName(
                _agg(snapshot_read_partitioned(spark, store), "purged")
            )
        )
        out = pin_result(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@query(
    "p35_eq_partitioned_lifecycle",
    oracle="""
    WITH base AS (
      SELECT c_custkey, c_nationkey, c_acctbal FROM customer
    ),
    after_delete AS (
      SELECT * FROM base WHERE NOT (c_custkey % 7 = 0)
    ),
    reins AS (
      SELECT * FROM base WHERE c_custkey % 14 = 0
    ),
    after_reinsert AS (
      SELECT * FROM after_delete UNION ALL SELECT * FROM reins
    ),
    mupd AS (
      SELECT c_custkey, c_nationkey, c_acctbal + 1000 AS c_acctbal
      FROM after_reinsert WHERE c_custkey % 31 = 2
    ),
    after_merge AS (
      SELECT a.* FROM after_reinsert a
      ANTI JOIN mupd m
        ON a.c_custkey = m.c_custkey AND a.c_nationkey = m.c_nationkey
      UNION ALL SELECT * FROM mupd
    ),
    probes AS (
      SELECT 'after_delete' AS probe, c_nationkey, c_acctbal
        FROM after_delete
      UNION ALL SELECT 'after_reinsert', c_nationkey, c_acctbal
        FROM after_reinsert
      UNION ALL SELECT 'after_merge', c_nationkey, c_acctbal
        FROM after_merge
      UNION ALL SELECT 'pruned_nation', c_nationkey, c_acctbal
        FROM after_merge WHERE c_nationkey = 7
      UNION ALL SELECT 'time_travel', c_nationkey, c_acctbal FROM base
      UNION ALL SELECT 'purged', c_nationkey, c_acctbal FROM after_merge
    )
    SELECT probe, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
           CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(27,4))), 4) AS DOUBLE)
             AS total_bal
    FROM probes GROUP BY probe
    """,
)
def p35_eq_partitioned_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EQUALITY DELETES and MERGE-ON-READ MERGE on a HIVE-PARTITIONED
    table — p33's zero-read DML lifecycle re-run where it matters at
    100 TB, on a partition-mapped manifest (r12 verdict ask #4;
    operators/snapshots.py:snapshot_delete_eq / snapshot_merge_mor on
    part_col manifests). The partition-blind tombstones commit with
    per-file sequence numbers; the partition map carries untouched
    through every commit; update rows append PARTITION-STAGED (one
    value per file, so manifest pruning survives the whole DML
    history). Six hash-pinned probes, two per distinct read path
    (r13 verdict ask #4 trimmed the r13 shape — the upsert flavor's
    read path duplicates the delete's tombstone-mask path and stays
    driver-validated on the plain layout via p33, and the DML inputs
    are now derived from the source table instead of masked probe
    reads the suite already pins):
    AFTER_DELETE pins the tombstone mask on a partitioned read;
    AFTER_REINSERT is the sequence-rule probe (a partitioned append
    re-inserting tombstoned keys must survive — a sequence-blind mask
    kills them, a dropped tombstone resurrects the deleted rows);
    AFTER_MERGE pins the partitioned MoR merge (position vectors +
    partition-staged update files in one commit, the position scan
    manifest-pruned to the update batch's partitions since the
    partition column is a merge key); PRUNED_NATION composes manifest
    pruning with BOTH mask flavors on the files it opens;
    TIME_TRAVEL pins the untouched v0 and PURGED pins compaction
    materializing vectors and tombstones per-partition.

    Reference parity: transformation/clean_data.py's DELETE/upsert in
    Postgres MVCC — mask-now-reclaim-later with the partition layout
    preserved."""
    import shutil
    import tempfile

    from ..operators.snapshots import (
        snapshot_compact,
        snapshot_delete_eq,
        snapshot_merge_mor,
        snapshot_read_partitioned,
        snapshot_write_partitioned,
    )

    base = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    tmp = tempfile.mkdtemp(prefix="p35_eqp_")
    store = tmp + "/customer"

    def _agg(df: DataFrame, probe: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("c_nationkey").cast("long").alias("n_nations"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(27,4)")), 4)
            .cast("double")
            .alias("total_bal"),
        ).select(F.lit(probe).alias("probe"), "*")

    try:
        with fixture_phase():  # landing the partitioned table —
            # pre-shuffled onto the partition key so each nation
            # stages ~one file instead of shuffle_partitions-many
            # (every probe read reopens the whole file set; 25 files
            # vs ~200 is the difference between a commit-constant
            # query and a file-open-bound one)
            v0 = snapshot_write_partitioned(
                spark, store, base.repartition(F.col("c_nationkey")),
                "c_nationkey",
            )
        # zero-read DELETE: the tombstone keys come from the source
        # table, so the commit never opens a data file (the whole
        # point of the equality flavor)
        dels = base.where(F.col("c_custkey") % 7 == 0).select("c_custkey")
        v1 = snapshot_delete_eq(spark, store, dels, ["c_custkey"])
        v2 = snapshot_write_partitioned(
            spark,
            store,
            base.where(F.col("c_custkey") % 14 == 0),
            "c_nationkey",
            mode="append",
        )
        # the merge batch is after_reinsert's %31==2 slice, derived
        # from the source: every after-reinsert row is a base row, and
        # a row survives iff NOT deleted (%7) OR re-inserted (%14)
        mupd = base.where(
            (F.col("c_custkey") % 31 == 2)
            & (
                (F.col("c_custkey") % 7 != 0)
                | (F.col("c_custkey") % 14 == 0)
            )
        ).select(
            "c_custkey",
            "c_nationkey",
            (F.col("c_acctbal") + 1000).alias("c_acctbal"),
        )
        v3 = snapshot_merge_mor(
            spark, store, mupd, ["c_nationkey", "c_custkey"]
        )
        snapshot_compact(spark, store)
        out = (
            _agg(
                snapshot_read_partitioned(spark, store, version=v1),
                "after_delete",
            )
            .unionByName(
                _agg(
                    snapshot_read_partitioned(spark, store, version=v2),
                    "after_reinsert",
                )
            )
            .unionByName(
                _agg(
                    snapshot_read_partitioned(spark, store, version=v3),
                    "after_merge",
                )
            )
            .unionByName(
                _agg(
                    snapshot_read_partitioned(
                        spark, store, values=[7], version=v3
                    ),
                    "pruned_nation",
                )
            )
            .unionByName(
                _agg(
                    snapshot_read_partitioned(spark, store, version=v0),
                    "time_travel",
                )
            )
            .unionByName(
                _agg(snapshot_read_partitioned(spark, store), "purged")
            )
        )
        out = pin_result(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _p36_oracle() -> str:
    return """
    WITH ev AS (
      SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, user_id, value
      FROM events
    ),
    after_delete AS (
      SELECT * FROM ev WHERE NOT (user_id % 37 = 5)
    ),
    probes AS (
      SELECT 'after_delete' AS probe, user_id, value FROM after_delete
      UNION ALL SELECT 'range_window', user_id, value FROM after_delete
        WHERE ts BETWEEN TIMESTAMP '2024-01-02 00:00:00'
                     AND TIMESTAMP '2024-01-04 12:00:00'
      UNION ALL SELECT 'time_travel', user_id, value FROM ev
      UNION ALL SELECT 'purged', user_id, value FROM after_delete
      UNION ALL SELECT 'purged_window', user_id, value FROM after_delete
        WHERE ts BETWEEN TIMESTAMP '2024-01-02 00:00:00'
                     AND TIMESTAMP '2024-01-04 12:00:00'
    )
    SELECT probe, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(27,4))), 4) AS DOUBLE)
             AS total_value
    FROM probes GROUP BY probe
    """


@query("p36_mor_sorted_delete", oracle=_p36_oracle())
def p36_mor_sorted_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ DELETE on a RANGE-CLUSTERED table (r12 verdict
    ask #5; operators/snapshots.py:snapshot_delete_mor on a stats_col
    manifest): the user-keyed GDPR delete scatters across every
    time-clustered file, where CoW would restage them AND re-sort;
    here it commits position vectors only, and the per-file [min,max]
    stats carry VERBATIM — conservative-correct, since masking rows
    can only narrow a file's true range. The probe that pins the
    composition is RANGE_WINDOW: snapshot_read_range opens only the
    files whose stats overlap the window (manifest pruning — the
    window's share of a 100 TB table) and masks the vectors of
    exactly those files. PURGED/PURGED_WINDOW pin compaction
    materializing the vectors with a RE-SORTED rewrite and
    footer-recomputed stats, so range pruning survives OPTIMIZE —
    content-neutral under the hash, structure pinned in
    tests/test_snapshots.py::test_mor_delete_on_range_clustered_manifest.

    Reference parity: transformation/clean_data.py's retention DELETE
    in Postgres MVCC, re-expressed over an Iceberg-style clustered
    layout whose pruning must survive the delete."""
    import datetime as _dt
    import shutil
    import tempfile

    from ..operators.snapshots import (
        snapshot_compact,
        snapshot_delete_mor,
        snapshot_read,
        snapshot_read_range,
        snapshot_write_sorted,
    )

    ev = load(spark, sf_dir, "events").select(
        "ts", "event_type", "user_id", "value"
    )
    tmp = tempfile.mkdtemp(prefix="p36_sorted_")
    store = tmp + "/events"
    lo = _dt.datetime(2024, 1, 2, 0, 0, 0)
    hi = _dt.datetime(2024, 1, 4, 12, 0, 0)

    def _agg(df: DataFrame, probe: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.round(F.sum(F.col("value").cast("decimal(27,4)")), 4)
            .cast("double")
            .alias("total_value"),
        ).select(F.lit(probe).alias("probe"), "*")

    try:
        with fixture_phase():  # landing the clustered table
            v0 = snapshot_write_sorted(spark, store, ev, "ts", n_files=8)
        users = ev.where(F.col("user_id") % 37 == 5).select(
            "user_id"
        ).distinct()
        v1 = snapshot_delete_mor(spark, store, users, ["user_id"])
        out = (
            _agg(snapshot_read(spark, store, version=v1), "after_delete")
            .unionByName(
                _agg(
                    snapshot_read_range(spark, store, lo, hi, version=v1),
                    "range_window",
                )
            )
            .unionByName(
                _agg(snapshot_read(spark, store, version=v0), "time_travel")
            )
        )
        snapshot_compact(spark, store)
        out = out.unionByName(
            _agg(snapshot_read(spark, store), "purged")
        ).unionByName(
            _agg(snapshot_read_range(spark, store, lo, hi), "purged_window")
        )
        out = pin_result(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# --------------------------------------------------------------------------
# p37 — copy-on-write DML on a partition-EVOLVED (mixed-spec) table
# --------------------------------------------------------------------------


@query(
    "p37_evolved_cow_dml",
    oracle="""
    WITH ev AS (
      SELECT STRFTIME(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS d,
             event_type, user_id, CAST(value AS DOUBLE) AS value
      FROM events
    ),
    after_delete AS (
      SELECT * FROM ev
      WHERE NOT (d IN ('2024-01-03', '2024-01-05') AND user_id % 3 = 0)
    ),
    upd_rows AS (
      SELECT DISTINCT '2024-01-10' AS d, 'corrected' AS event_type,
             user_id, CAST(user_id AS DOUBLE) * 1.5 AS value
      FROM ev WHERE d = '2024-01-10' AND user_id % 5 = 1
    ),
    after_merge AS (
      SELECT e.* FROM after_delete e
      ANTI JOIN upd_rows u ON e.d = u.d AND e.user_id = u.user_id
      UNION ALL SELECT * FROM upd_rows
    ),
    probes AS (
      SELECT 'after_delete' AS probe, event_type, user_id, value
        FROM after_delete
      UNION ALL SELECT 'after_merge', event_type, user_id, value
        FROM after_merge
      UNION ALL SELECT 'pruned_corrected', event_type, user_id, value
        FROM after_merge WHERE event_type = 'corrected'
      UNION ALL SELECT 'pruned_day', event_type, user_id, value
        FROM after_merge WHERE d = '2024-01-10'
      UNION ALL SELECT 'time_travel', event_type, user_id, value FROM ev
    )
    SELECT probe, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(27,4))), 4) AS DOUBLE)
             AS total_value
    FROM probes GROUP BY probe, event_type
    """,
)
def p37_evolved_cow_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COPY-ON-WRITE DELETE and MERGE on a partition-EVOLVED
    (mixed-spec) manifest — the last cell of the DML x layout matrix
    (r13 verdict ask #2; operators/snapshots.py:_cow_commit_mixed_spec).
    The table is seeded day-partitioned (spec A), evolved so new data
    partitions by event_type (spec B, the default), then hit with
    day-scoped CoW DML: a DELETE keyed on (d, user_id) and a MERGE
    keyed on (d, user_id). Because d IS spec A's column, the spec-A
    group MANIFEST-PRUNES its candidates to the keyed days (two files
    for the delete, one for the merge) while the spec-B group — where
    d is an ordinary data column — pays the semi-join and comes back
    untouched (its days don't overlap the keys). Every touched file's
    survivors are REWRITTEN UNDER THE DEFAULT SPEC (Iceberg's rule
    for row-level ops on an evolved table: DML lazily migrates what
    it touches), and the manifest STAYS mixed-spec — the day-scoped
    keys are what keep the touch set bounded, exactly like a
    partition-scoped backfill on a 10-year table.

    Five hash-pinned probes: AFTER_DELETE pins mixed-spec touched-file
    detection + default-spec restage of the two days' survivors;
    AFTER_MERGE pins survivors-anti-join-plus-update-rows (the
    'corrected' rows land in a brand-new default-spec partition);
    PRUNED_CORRECTED manifest-prunes on the DEFAULT spec and must
    admit exactly the merge-staged files plus the spec-A residual;
    PRUNED_DAY filters on the OLD spec's column for the migrated day
    — its spec-A file is GONE from the manifest, so every row must
    come back through the default-spec files' exact residual (a
    dropped residual loses the day entirely; over-admission breaks
    the hash); TIME_TRAVEL pins the pre-DML evolved version
    untouched. Structure (file migration, per-group metadata fast
    path, single-spec collapse) is pinned in
    tests/test_snapshots.py::TestPartitionEvolution.

    Reference parity: transformation/clean_data.py:222-243's keyed
    upsert, run against a table whose partitioning changed direction
    mid-history — the 100 TB case where Postgres would rebuild an
    index but a lake must not rewrite 10 years of files."""
    import shutil
    import tempfile

    from ..operators.snapshots import (
        snapshot_delete,
        snapshot_merge,
        snapshot_read_partitioned,
        snapshot_write_partitioned,
    )

    ev = load(spark, sf_dir, "events").select(
        F.date_format(F.col("ts"), "yyyy-MM-dd").alias("d"),
        "event_type",
        "user_id",
        F.col("value").cast("double").alias("value"),
    )
    tmp = tempfile.mkdtemp(prefix="p37_evo_dml_")
    store = tmp + "/events"

    def _agg(df: DataFrame, probe: str) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.round(F.sum(F.col("value").cast("decimal(27,4)")), 4)
            .cast("double")
            .alias("total_value"),
        ).select(F.lit(probe).alias("probe"), "*")

    try:
        with fixture_phase():  # seeding spec A + the evolution commit
            # (both pinned by p29 — the operator under test HERE is
            # the CoW DML on the resulting mixed-spec manifest)
            snapshot_write_partitioned(
                spark, store, ev.where(F.col("d") < "2024-01-16"), "d"
            )
            v1 = snapshot_write_partitioned(
                spark,
                store,
                ev.where(F.col("d") >= "2024-01-16"),
                "event_type",
                mode="append",
                evolve=True,
            )
        dels = ev.where(
            F.col("d").isin("2024-01-03", "2024-01-05")
            & (F.col("user_id") % 3 == 0)
        ).select("d", "user_id").distinct()
        v2 = snapshot_delete(spark, store, dels, ["d", "user_id"])
        upd = ev.where(
            (F.col("d") == "2024-01-10") & (F.col("user_id") % 5 == 1)
        ).select("user_id").distinct().select(
            F.lit("2024-01-10").alias("d"),
            F.lit("corrected").alias("event_type"),
            "user_id",
            (F.col("user_id") * 1.5).alias("value"),
        )
        v3 = snapshot_merge(spark, store, upd, ["d", "user_id"])
        out = (
            _agg(
                snapshot_read_partitioned(spark, store, version=v2),
                "after_delete",
            )
            .unionByName(
                _agg(
                    snapshot_read_partitioned(spark, store, version=v3),
                    "after_merge",
                )
            )
            .unionByName(
                _agg(
                    snapshot_read_partitioned(
                        spark,
                        store,
                        values=["corrected"],
                        col="event_type",
                        version=v3,
                    ),
                    "pruned_corrected",
                )
            )
            .unionByName(
                _agg(
                    snapshot_read_partitioned(
                        spark,
                        store,
                        values=["2024-01-10"],
                        col="d",
                        version=v3,
                    ),
                    "pruned_day",
                )
            )
            .unionByName(
                _agg(
                    snapshot_read_partitioned(spark, store, version=v1),
                    "time_travel",
                )
            )
        )
        out = pin_result(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@query(
    "p38_branch_lifecycle",
    oracle="""
    WITH ev AS (
      SELECT STRFTIME(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS d,
             user_id,
             CASE WHEN value >= 70 THEN LEAST(value, 80.0)
                  ELSE value END AS value
      FROM events),
    staged AS (SELECT COUNT(*) AS n FROM events WHERE value < 40)
    SELECT d,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(27,4))), 4) AS DOUBLE)
             AS total_value,
           CAST((SELECT n FROM staged) AS BIGINT) AS n_main_staged
    FROM ev GROUP BY d
    """,
)
def p38_branch_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style BRANCHES (operators/snapshots.py:snapshot_branch
    family — r15): the multi-commit generalization of p21's WAP tags.
    The on-time events (value < 40) commit to MAIN as the baseline;
    an 'audit' branch then takes TWO commits — the 40-70 late batch
    verbatim, the >=70 batch clamped at 80 — on its own commit line
    under _versions/branches/, invisible to main readers by
    construction (no ref redirection needed: main version resolution
    never sees branch manifests). The audit compares the branch head
    count against the expected total and only then FAST-FORWARDS:
    one metadata claim republishes the branch head as the next main
    version, refused if main had advanced past the branch base. A
    second 'shadow' branch then commits garbage and is never merged.

    The value-hash oracle pins the whole contract: the daily
    aggregate must equal base + both audited commits (with the clamp)
    and nothing from the shadow branch, and the ``n_main_staged``
    column — main's row count read WHILE the audit line was
    unmerged — must equal exactly the baseline subset, or isolation
    leaked. At 100 TB every step is a manifest/pointer operation
    except the three data writes themselves."""
    import shutil
    import tempfile

    from ..operators.snapshots import (
        snapshot_branch,
        snapshot_fast_forward,
        snapshot_read,
        snapshot_read_branch,
        snapshot_write,
        snapshot_write_branch,
    )

    ev = load(spark, sf_dir, "events").select(
        F.date_format(F.col("ts"), "yyyy-MM-dd").alias("d"),
        "user_id",
        "value",
    )
    tmp = tempfile.mkdtemp(prefix="p38_branch_")
    store = tmp + "/silver"
    try:
        with fixture_phase():  # the on-time baseline is the fixture
            snapshot_write(spark, store, ev.where(F.col("value") < 40))
        snapshot_branch(store, "audit")
        snapshot_write_branch(
            spark,
            store,
            "audit",
            ev.where((F.col("value") >= 40) & (F.col("value") < 70)),
        )
        snapshot_write_branch(
            spark,
            store,
            "audit",
            ev.where(F.col("value") >= 70).withColumn(
                "value", F.least(F.col("value"), F.lit(80.0))
            ),
        )
        # main must still serve ONLY the baseline while the audit
        # line is unmerged — pinned into the output as a column
        n_main_staged = snapshot_read(spark, store).count()
        # audit: the branch head must carry every event exactly once
        if snapshot_read_branch(spark, store, "audit").count() == ev.count():
            snapshot_fast_forward(store, "audit")
        # an unaudited shadow branch must never leak into main reads
        snapshot_branch(store, "shadow")
        snapshot_write_branch(spark, store, "shadow", ev.limit(5))
        out = snapshot_read(spark, store).groupBy("d").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.round(F.sum(F.col("value").cast("decimal(27,4)")), 4)
            .cast("double")
            .alias("total_value"),
            F.lit(n_main_staged).cast("long").alias("n_main_staged"),
        )
        out = pin_result(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


@query(
    "p39_branch_cherrypick",
    oracle="""
    WITH ev AS (
      SELECT STRFTIME(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS d,
             user_id,
             CASE WHEN value >= 70 THEN LEAST(value, 80.0)
                  ELSE value END AS value
      FROM events
      WHERE value < 40 OR value >= 55),
    before AS (
      SELECT COUNT(*) AS n FROM events WHERE value < 40 OR value >= 70)
    SELECT d,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(27,4))), 4) AS DOUBLE)
             AS total_value,
           CAST((SELECT n FROM before) AS BIGINT) AS n_main_before,
           CAST(1 AS BIGINT) AS ff_refused
    FROM ev GROUP BY d
    """,
)
def p39_branch_cherrypick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Branch CHERRY-PICK onto diverged main (operators/snapshots.py:
    snapshot_cherrypick — r16, Iceberg's cherrypick_snapshot): where
    p38's fast-forward publishes a whole branch line onto an
    unmoved base, cherry-pick re-applies ONE audit commit after main
    has moved on — the reviewed-subset publication workflow.

    Lifecycle under oracle: main commits the on-time baseline
    (value < 40); an 'audit' branch takes two commits — the 40-55
    band, then the 55-70 band; meanwhile MAIN ADVANCES with the >=70
    batch clamped at 80, so the branch base is diverged and
    fast-forward must refuse (pinned into ``ff_refused``). Only the
    SECOND audit commit (55-70) survives review and is
    cherry-picked: its file delta (vs its branch-local predecessor)
    grafts onto main's current live set as one metadata claim. The
    daily aggregate over main then equals everything EXCEPT the
    rejected 40-55 band — and ``n_main_before``, main's row count
    taken after divergence but before the pick, pins that the pick
    (not the branch line) delivered the 55-70 rows. A second pick of
    the same commit must refuse (conflicting file sets) or the hash
    would double-count. At 100 TB every step after the three data
    writes is a manifest/pointer operation."""
    import shutil
    import tempfile

    from ..operators.snapshots import (
        SnapshotConflict,
        snapshot_branch,
        snapshot_cherrypick,
        snapshot_fast_forward,
        snapshot_read,
        snapshot_write,
        snapshot_write_branch,
    )

    ev = load(spark, sf_dir, "events").select(
        F.date_format(F.col("ts"), "yyyy-MM-dd").alias("d"),
        "user_id",
        "value",
    )
    tmp = tempfile.mkdtemp(prefix="p39_cherry_")
    store = tmp + "/silver"
    try:
        with fixture_phase():  # the on-time baseline is the fixture
            snapshot_write(spark, store, ev.where(F.col("value") < 40))
        snapshot_branch(store, "audit")
        snapshot_write_branch(
            spark,
            store,
            "audit",
            ev.where((F.col("value") >= 40) & (F.col("value") < 55)),
        )
        snapshot_write_branch(
            spark,
            store,
            "audit",
            ev.where((F.col("value") >= 55) & (F.col("value") < 70)),
        )
        # main advances past the branch base: the clamped >=70 batch
        snapshot_write(
            spark,
            store,
            ev.where(F.col("value") >= 70).withColumn(
                "value", F.least(F.col("value"), F.lit(80.0))
            ),
        )
        n_main_before = snapshot_read(spark, store).count()
        ff_refused = 0
        try:
            snapshot_fast_forward(store, "audit")
        except SnapshotConflict:
            ff_refused = 1  # diverged base: publish must go via pick
        # only the reviewed 55-70 commit (branch-local v1) publishes
        snapshot_cherrypick(store, "audit", 1)
        try:
            snapshot_cherrypick(store, "audit", 1)
            ff_refused = 0  # double-apply must never succeed
        except SnapshotConflict:
            pass
        out = snapshot_read(spark, store).groupBy("d").agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.round(F.sum(F.col("value").cast("decimal(27,4)")), 4)
            .cast("double")
            .alias("total_value"),
            F.lit(n_main_before).cast("long").alias("n_main_before"),
            F.lit(ff_refused).cast("long").alias("ff_refused"),
        )
        out = pin_result(out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out
