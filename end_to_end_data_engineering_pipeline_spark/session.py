"""SparkSession factory.

Settings mirror the reference's execution assumptions (everything UTC,
columnar Arrow interchange — reference forces UTC at
ingestion/fetch_data.py:174 and runs Polars/Arrow per
airflow/requirements.txt:2-3) and enable the Catalyst/AQE features we
rely on at scale: adaptive query execution (runtime partition
coalescing, broadcast-join conversion, skew-join splitting).

On a real cluster the same builder is used with ``master`` unset (taken
from spark-submit) and ``shuffle_partitions`` sized to ~2-3x total
cores; on 100 TB inputs AQE's coalescing makes the static number a
ceiling, not a target.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the cores this process may run on (its affinity mask, which a
# container's CPU set narrows), not the host's count
DEFAULT_CPUS = len(os.sched_getaffinity(0))


def get_spark(
    app_name: str = "end_to_end_data_engineering_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session with engine-standard configuration.

    ``extra_conf`` is applied last, so it overrides any setting here
    (driver memory, listing threshold, AQE coalescing, ...)."""
    cpus = DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # KEEP the parallelismFirst=true default: r16 shipped `false`
        # (coalesce post-shuffle partitions to the advisory byte size)
        # off a 14-key A/B, and the driver's full bench showed 121/131
        # keys regressed (geomean 0.72) with the 8-core run BEATING the
        # 32-core run — at bench SF nearly every shuffle is far below
        # the 64 MB advisory size, so every reduce stage coalesced to
        # ~1 partition and all downstream work serialized (r16 VERDICT
        # item 1; re-confirmed r17 with a full-132-key alternating A/B,
        # see OPTIMIZATION_r17.md). At 100 TB production scale the §2.2
        # "fewer, larger reduce partitions" goal is met by the advisory
        # size itself (shuffles there are GBs, so parallelismFirst
        # rarely binds); pass extra_conf={"spark.sql.adaptive.
        # coalescePartitions.parallelismFirst": "false"} only with a
        # cluster-measured advisory size (docs/SCALE.md).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # the events fixture stores TIMESTAMP(NANOS) which Spark's parquet
        # reader rejects; read as long and convert in catalog.load
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Manifest-listed reads pass explicit file paths; above this
        # many paths Spark launches a DISTRIBUTED listing job per
        # relation (default threshold 32). Measured r16: a 60-path
        # relation costs 228 ms with the listing job vs 91 ms listed
        # driver-side — and the DML lifecycle keys build 6-12 such
        # relations per run. On local/HDFS-class filesystems serial
        # stats are cheap; for object stores (S3-class, ~10-30 ms per
        # stat) lower it back toward 32 through extra_conf so wide
        # reads list in parallel (OPTIMIZATION_r16.md §I/O).
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
    )
    # NOTE (r15): Catalyst's InferFiltersFromGenerate synthesizes
    # `size(e) > 0` under a non-outer explode and pushdown substitutes
    # the FULL generator chain into an interpreted per-row Filter —
    # measured 15x on the t58 shingle explode at sf1.0 (60s -> 4s).
    # A session-wide excludedRules fix was measured (r15 bench A/B)
    # to REGRESS other keys (t7 +0.6s, t23 +0.7s: the inferred
    # filters genuinely help some plans), so the defense is SURGICAL
    # instead: explode_outer + isNotNull at expensive-generator sites
    # (the rule only fires on non-outer generates), pinned by
    # tests/test_plans.py::test_no_inferred_filter_reevaluates_expensive_chain
    # across the whole registry. Keep new explode sites cheap-input
    # or outer.
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
