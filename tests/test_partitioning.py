"""Scale-technique tests: bucketed joins must elide the shuffle
(asserted on the physical plan), salted joins must match the plain
join's results."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from end_to_end_data_engineering_pipeline_spark.operators.partitioning import (
    bucketed_join,
    salted_join,
    write_bucketed,
)


def _physical_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    # managed tables land in ./spark-warehouse (warehouse.dir is a
    # static conf); dropped in the finally block
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    write_bucketed(
        orders.withColumnRenamed("o_custkey", "custkey"), "orders_b", ["custkey"], 4
    )
    write_bucketed(
        customer.withColumnRenamed("c_custkey", "custkey"), "customer_b", ["custkey"], 4
    )
    # disable broadcast so the join actually needs a distribution
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "orders_b", "customer_b", ["custkey"])
        plan = _physical_plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucketing satisfied the distribution
        # and the result matches the plain join
        plain = orders.join(
            customer, orders.o_custkey == customer.c_custkey
        ).count()
        assert joined.count() == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


def test_salted_join_matches_plain_join(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_custkey").alias("k"), "o_orderkey", "o_totalprice"
    )
    nation_of = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("k"), "c_nationkey"
    )
    plain = orders.join(nation_of, "k").select("k", "o_orderkey", "c_nationkey")
    salted = salted_join(orders, nation_of, "k", salt_buckets=4).select(
        "k", "o_orderkey", "c_nationkey"
    )
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_partitioned_scan_prunes(spark, tmp_path):
    """A filter on the hive-partition column must become a partition
    filter (pruning), not a data filter over the whole table — the
    Spark replacement for the reference's raw.batch_id index
    (sql/raw_schema.sql:40-41)."""
    path = str(tmp_path / "p")
    df = spark.createDataFrame(
        [(b, i, float(i)) for b in ("b1", "b2", "b3") for i in range(10)],
        ["batch_id", "seq", "v"],
    )
    df.write.mode("overwrite").partitionBy("batch_id").parquet(path)
    scan = spark.read.parquet(path).where(F.col("batch_id") == "b2")
    plan = _physical_plan(scan)
    assert "PartitionFilters" in plan
    # the partition predicate must sit in PartitionFilters, and no
    # row-level Filter node on batch_id may remain
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "batch_id" in pf_line
    assert scan.count() == 10


def test_merge_upsert_partitioned_matches_plain(spark, tmp_path):
    """Partition-scoped merge must produce exactly the same table as
    the whole-table merge, while only rewriting touched partitions."""
    import os

    from end_to_end_data_engineering_pipeline_spark.operators.merge import (
        merge_upsert,
    )

    rows = [(d, k, 1, "old") for d in ("d1", "d2", "d3") for k in range(4)]
    cols = ["day", "k", "ts", "val"]
    plain, part = str(tmp_path / "plain"), str(tmp_path / "part")
    base = spark.createDataFrame(rows, cols)
    merge_upsert(spark, plain, base, ["day", "k"])
    merge_upsert(spark, part, base, ["day", "k"], partition_col="day")

    upd = spark.createDataFrame(
        [("d2", 0, 2, "new"), ("d2", 99, 2, "new")], cols
    )
    merge_upsert(spark, plain, upd, ["day", "k"])
    n = merge_upsert(spark, part, upd, ["day", "k"], partition_col="day")
    assert n == 5  # d2 partition after merge: k in {0,1,2,3,99}

    canon = lambda p: sorted(  # noqa: E731
        (r.day, r.k, r.ts, r.val)
        for r in spark.read.parquet(p).collect()
    )
    assert canon(plain) == canon(part)
    # untouched partitions must not have been rewritten
    assert sorted(
        d for d in os.listdir(part) if d.startswith("day=")
    ) == ["day=d1", "day=d2", "day=d3"]


def test_merge_upsert_partitioned_rejects_null_partition(spark, tmp_path):
    """NULL partition values can't be addressed by the isin() partition
    filter (they land in __HIVE_DEFAULT_PARTITION__), so the merge must
    refuse them instead of silently dropping existing default-partition
    rows."""
    import pytest

    from end_to_end_data_engineering_pipeline_spark.operators.merge import (
        merge_upsert,
    )

    cols = ["day", "k", "ts", "val"]
    part = str(tmp_path / "part")
    base = spark.createDataFrame([("d1", 0, 1, "old")], cols)
    merge_upsert(spark, part, base, ["day", "k"], partition_col="day")

    upd = spark.createDataFrame(
        [(None, 1, 2, "new")], "day string, k long, ts long, val string"
    )
    with pytest.raises(ValueError, match="NULL"):
        merge_upsert(spark, part, upd, ["day", "k"], partition_col="day")
    # target untouched
    assert spark.read.parquet(part).count() == 1


def test_merge_upsert_partitioned_refuses_schema_evolution(spark, tmp_path):
    """Schema evolution is refused on a partitioned merge: an evolved
    column would reach only the partitions one batch rewrites."""
    from end_to_end_data_engineering_pipeline_spark.operators.merge import (
        merge_upsert,
    )

    part = str(tmp_path / "part")
    base = spark.createDataFrame([("d1", 0, "old")], ["day", "k", "val"])
    merge_upsert(spark, part, base, ["day", "k"], partition_col="day")
    upd = spark.createDataFrame(
        [("d1", 0, "new", 1)], ["day", "k", "val", "extra"]
    )
    with pytest.raises(ValueError, match="allow_schema_evolution"):
        merge_upsert(
            spark,
            part,
            upd,
            ["day", "k"],
            allow_schema_evolution=True,
            partition_col="day",
        )
    assert _table_rows(spark, part) == [(0, "old", "d1")]


def _commit_leftovers(path: str) -> list[str]:
    """Stage/old directories a table commit left beside ``path``."""
    import os

    parent, name = os.path.split(path)
    return [d for d in os.listdir(parent) if d.startswith(name + ".__")]


def _poisoned(df):
    """``df`` whose plan raises while a job over it executes."""
    return df.where(F.raise_error(F.lit("injected write failure")).isNull())


def _table_rows(spark, path: str) -> list:
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


@pytest.mark.parametrize("partition_col", [None, "day"])
def test_merge_upsert_failed_write_keeps_table(spark, tmp_path, partition_col):
    """A merge whose plan raises at execution leaves the previous table
    readable and equal to before, with no stage directory beside it."""
    from end_to_end_data_engineering_pipeline_spark.operators.merge import (
        merge_upsert,
    )

    path = str(tmp_path / "t")
    cols = ["day", "k", "val"]
    base = spark.createDataFrame([("d1", 0, "old"), ("d2", 1, "old")], cols)
    merge_upsert(spark, path, base, ["day", "k"], partition_col=partition_col)
    before = _table_rows(spark, path)

    upd = _poisoned(spark.createDataFrame([("d1", 0, "new")], cols))
    with pytest.raises(Exception, match="injected write failure"):
        merge_upsert(spark, path, upd, ["day", "k"], partition_col=partition_col)
    assert _table_rows(spark, path) == before
    assert _commit_leftovers(path) == []


def test_model_table_failed_build_keeps_table(spark, tmp_path):
    """A ``table`` model whose plan raises on a rebuild keeps the table
    the previous run committed."""
    from end_to_end_data_engineering_pipeline_spark.plans import ModelRunner

    runner = ModelRunner(warehouse_dir=str(tmp_path / "wh"))
    fail = []

    @runner.model("agg", materialization="table")
    def agg(spark):
        df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        return _poisoned(df) if fail else df

    runner.run(spark)
    path = str(tmp_path / "wh" / "agg")
    before = _table_rows(spark, path)
    fail.append(True)
    with pytest.raises(Exception, match="injected write failure"):
        runner.run(spark)
    assert _table_rows(spark, path) == before
    assert _commit_leftovers(path) == []


def test_ivf_save_failed_write_keeps_index(spark, tmp_path, monkeypatch):
    """Re-saving an IVF index whose write raises at execution keeps the
    saved index loadable and unchanged."""
    from end_to_end_data_engineering_pipeline_spark import schemas
    from end_to_end_data_engineering_pipeline_spark.operators.similarity import (
        ivf_load_index,
        ivf_save_index,
    )

    path = str(tmp_path / "ivf")
    ivf_save_index(spark, [[1, 2], [3, 4]], path)
    real = schemas.local_frame
    monkeypatch.setattr(
        schemas, "local_frame", lambda *a: _poisoned(real(*a))
    )
    with pytest.raises(Exception, match="injected write failure"):
        ivf_save_index(spark, [[5, 6], [7, 8]], path)
    assert ivf_load_index(spark, path) == [[1, 2], [3, 4]]
    assert _commit_leftovers(path) == []


def test_failed_swap_rename_restores_table(spark, tmp_path, monkeypatch):
    """If renaming the stage into place fails, the table the swap moved
    aside is renamed back: a model table and an IVF index both stay
    readable and unchanged (they used to delete the live table before
    the rename)."""
    import os

    from end_to_end_data_engineering_pipeline_spark.operators.similarity import (
        ivf_load_index,
        ivf_save_index,
    )
    from end_to_end_data_engineering_pipeline_spark.plans import ModelRunner

    runner = ModelRunner(warehouse_dir=str(tmp_path / "wh"))
    version = [0]

    @runner.model("agg", materialization="table")
    def agg(spark):
        return spark.createDataFrame([(version[0],)], "v long")

    model_path = str(tmp_path / "wh" / "agg")
    ivf_path = str(tmp_path / "ivf")
    runner.run(spark)
    ivf_save_index(spark, [[1, 2]], ivf_path)

    real_rename = os.rename
    failed = []

    def rename(src, dst):
        # fail the first rename into each table, once
        if dst in (model_path, ivf_path) and dst not in failed:
            failed.append(dst)
            raise OSError("injected rename failure")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", rename)
    version[0] = 1
    with pytest.raises(OSError, match="injected rename failure"):
        runner.run(spark)
    with pytest.raises(OSError, match="injected rename failure"):
        ivf_save_index(spark, [[3, 4]], ivf_path)
    monkeypatch.undo()

    assert failed == [model_path, ivf_path]
    assert _table_rows(spark, model_path) == [(0,)]
    assert ivf_load_index(spark, ivf_path) == [[1, 2]]
    assert _commit_leftovers(model_path) == []
    assert _commit_leftovers(ivf_path) == []


def test_apply_changes_cdc_semantics(spark, tmp_path):
    """I/U/D changelog apply: latest change per key wins; D removes
    the key; out-of-order arrival resolved by seq."""
    from end_to_end_data_engineering_pipeline_spark.operators.merge import (
        apply_changes,
    )

    path = str(tmp_path / "t")
    cols = ["k", "val", "seq", "op"]
    batch1 = spark.createDataFrame(
        [(1, "a", 1, "I"), (2, "b", 1, "I"), (3, "c", 1, "I")], cols
    )
    n = apply_changes(spark, path, batch1, ["k"], "seq")
    assert n == 3

    batch2 = spark.createDataFrame(
        [
            (1, "a2", 3, "U"),   # update k=1
            (2, None, 2, "D"),   # delete k=2
            (3, "zz", 2, "U"),   # stale update superseded in-batch...
            (3, None, 3, "D"),   # ...by this delete (latest seq wins)
            (4, "d", 2, "I"),    # new key
        ],
        "k long, val string, seq long, op string",
    )
    n = apply_changes(spark, path, batch2, ["k"], "seq")
    assert n == 2
    got = {(r.k, r.val) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "a2"), (4, "d")}


def test_apply_changes_partitioned_scopes_rewrite(spark, tmp_path):
    """Partition-scoped CDC apply: untouched partitions keep their
    exact files (name+mtime pinned), upserts/deletes land only in the
    batch's partitions, and a fully-deleted partition's dir is
    cleared (dynamic overwrite alone cannot remove it)."""
    import os

    from end_to_end_data_engineering_pipeline_spark.operators.merge import (
        apply_changes,
    )

    path = str(tmp_path / "cdc_part")
    cols = ["day", "k", "val"]
    base = spark.createDataFrame(
        [(d, k, "old") for d in ("d1", "d2", "d3") for k in range(3)], cols
    )
    # seed via the same operator (empty-target branch)
    seeded = apply_changes(
        spark,
        path,
        base.withColumn("op", F.lit("I")).withColumn("seq", F.lit(0)),
        ["day", "k"],
        "seq",
        partition_col="day",
    )
    assert seeded == 9

    def fingerprint(day):
        d = os.path.join(path, f"day={day}")
        return sorted(
            (f, os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )
    d1_before = fingerprint("d1")

    # batch: update one d2 row, insert one d2 row, delete ALL of d3
    changes = spark.createDataFrame(
        [
            ("d2", 0, "new", "U", 1),
            ("d2", 99, "new", "I", 2),
            ("d3", 0, None, "D", 3),
            ("d3", 1, None, "D", 4),
            ("d3", 2, None, "D", 5),
        ],
        cols + ["op", "seq"],
    )
    n = apply_changes(
        spark, path, changes, ["day", "k"], "seq", partition_col="day"
    )
    assert n == 4  # d2 after apply: k in {0,1,2,99}; d3 empty

    assert fingerprint("d1") == d1_before  # untouched: same files, same mtimes
    assert not os.path.isdir(os.path.join(path, "day=d3"))

    got = sorted(
        (r.day, r.k, r.val) for r in spark.read.parquet(path).collect()
    )
    assert got == sorted(
        [("d1", 0, "old"), ("d1", 1, "old"), ("d1", 2, "old"),
         ("d2", 0, "new"), ("d2", 1, "old"), ("d2", 2, "old"),
         ("d2", 99, "new")]
    )


def test_apply_changes_deletes_hive_escaped_partitions(spark, tmp_path):
    """Partition values Spark hive-escapes in dir names ('/',' ',':',
    '%') must still be removable when fully deleted: the cleanup has to
    match the actual on-disk (escaped) dir name, not a raw
    f-string. Before the fix the stale dir survived and the 'deleted'
    rows stayed visible on the next read."""
    import os

    from end_to_end_data_engineering_pipeline_spark.operators.merge import (
        apply_changes,
    )

    path = str(tmp_path / "cdc_esc")
    nasty = ["a/b", "x:y", "100%", "a b", "plain"]
    cols = ["bucket", "k", "val"]
    base = spark.createDataFrame(
        [(b, k, "old") for b in nasty for k in range(2)], cols
    )
    assert (
        apply_changes(
            spark,
            path,
            base.withColumn("op", F.lit("I")).withColumn("seq", F.lit(0)),
            ["bucket", "k"],
            "seq",
            partition_col="bucket",
        )
        == 10
    )
    # Spark escaped these values on write: no raw name exists ('a b'
    # is written literally — spaces are not in hive's escape set)
    for b in ("a/b", "x:y", "100%"):
        assert not os.path.isdir(os.path.join(path, f"bucket={b}"))

    # delete ALL rows of every escaped partition
    changes = spark.createDataFrame(
        [(b, k, None, "D", 1) for b in nasty[:4] for k in range(2)],
        "bucket string, k bigint, val string, op string, seq bigint",
    )
    n = apply_changes(
        spark, path, changes, ["bucket", "k"], "seq", partition_col="bucket"
    )
    assert n == 0  # every touched partition fully deleted: 0 rows staged
    got = sorted(
        (r.bucket, r.k) for r in spark.read.parquet(path).collect()
    )
    assert got == [("plain", 0), ("plain", 1)]
    # and the escaped dirs are actually gone from disk
    assert [d for d in os.listdir(path) if d.startswith("bucket=")] and all(
        "plain" in d
        for d in os.listdir(path)
        if d.startswith("bucket=")
    )


def test_salted_join_null_keys_and_null_scatter(spark):
    """Null semantics under salting: NULL join keys never match (same
    as the plain equi-join it must be equivalent to), and a NULL in
    the scatter column still lands in a valid salt bucket (xxhash64 of
    NULL is defined) so the row is not silently dropped when its KEY
    is valid."""
    from pyspark.sql import functions as F

    from end_to_end_data_engineering_pipeline_spark.operators.partitioning import (
        salted_join,
    )

    big = spark.createDataFrame(
        [(1, "x"), (None, "y"), (2, None)], "k int, payload string"
    )
    small = spark.createDataFrame(
        [(1, "one"), (2, "two"), (None, "none")], "k int, name string"
    )
    got = sorted(
        (r.k, r.payload, r.name)
        for r in salted_join(big, small, "k", salt_buckets=4).collect()
    )
    want = sorted(
        (r.k, r.payload, r.name)
        for r in big.join(small, "k").collect()
    )
    assert got == want
    assert got == [(1, "x", "one"), (2, None, "two")]


def test_fanout_report_hand_case(spark):
    """Products and shares against a hand-computed join: key 1 fans
    3x4=12, key 2 fans 1x1=1; keys on one side only are absent."""
    from end_to_end_data_engineering_pipeline_spark.operators.partitioning import (
        fanout_report,
    )

    left = spark.createDataFrame(
        [(1,)] * 3 + [(2,)] + [(9,)], "k long"
    )
    right = spark.createDataFrame([(1,)] * 4 + [(2,)] + [(7,)], "k long")
    got = {
        r.k: (r.n_left, r.n_right, r.out_rows, r.share)
        for r in fanout_report(left, right, "k", top_n=10).collect()
    }
    assert got == {
        1: (3, 4, 12, round(12 / 13, 6)),
        2: (1, 1, 1, round(1 / 13, 6)),
    }


# ---------------------------------------------------------------------------
# global_rank / scalable_ntile(s): the distributed exact-rank machinery
# (r10). Every case is checked against Spark's own window function —
# the semantics oracle — on shapes chosen to break bucket arithmetic:
# heavy ties on the primary column (buckets can't split equal keys),
# nulls under both directions, n smaller than k, empty input.
# ---------------------------------------------------------------------------


def _rank_ref(df, sort_exprs, name="ref"):
    from pyspark.sql import Window

    return df.withColumn(
        name, F.row_number().over(Window.orderBy(*sort_exprs)).cast("long")
    )


def _mk(spark, rows, schema):
    return spark.createDataFrame(rows, schema).repartition(8)


def test_global_rank_matches_row_number(spark):
    from end_to_end_data_engineering_pipeline_spark.operators.partitioning import (
        global_rank,
    )

    rows = [(i, (i * 2654435761) % 10007, i % 5) for i in range(4003)]
    df = _mk(spark, rows, "id long, v long, tie long")
    order = [(F.col("v"), True), (F.col("id"), False)]
    got = global_rank(df, order, rank_col="rk")
    ref = _rank_ref(df, [F.col("v").desc(), F.col("id")], "rk2")
    assert (
        got.join(ref.select("id", "rk2"), "id")
        .where(F.col("rk") != F.col("rk2"))
        .count()
        == 0
    )


def test_global_rank_is_permutation_across_runs(spark):
    """Rank must be a permutation of 1..n on EVERY run — this is the
    property a nondeterministic bucket/offset mismatch (the
    repartitionByRange+partition-id design rejected in r10) breaks."""
    from end_to_end_data_engineering_pipeline_spark.operators.partitioning import (
        global_rank,
    )

    rows = [(i, (i * 40503) % 997) for i in range(3001)]
    df = _mk(spark, rows, "id long, v long")
    order = [(F.col("v"), False), (F.col("id"), False)]
    for _ in range(3):
        agg = (
            global_rank(df, order, rank_col="rk")
            .agg(
                F.countDistinct("rk").alias("d"),
                F.max("rk").alias("mx"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()[0]
        )
        assert agg.d == agg.n == agg.mx == 3001


def test_global_rank_nulls_both_directions(spark):
    from end_to_end_data_engineering_pipeline_spark.operators.partitioning import (
        global_rank,
    )

    rows = [(i, None if i % 7 == 0 else (i * 31) % 200) for i in range(1501)]
    df = _mk(spark, rows, "id long, v long")
    for desc in (True, False):
        sort = [
            F.col("v").desc() if desc else F.col("v").asc(),
            F.col("id"),
        ]
        got = global_rank(
            df, [(F.col("v"), desc), (F.col("id"), False)], rank_col="rk"
        )
        ref = _rank_ref(df, sort, "rk2")
        assert (
            got.join(ref.select("id", "rk2"), "id")
            .where(F.col("rk") != F.col("rk2"))
            .count()
            == 0
        )


def test_scalable_ntile_matches_ntile_heavy_ties(spark):
    """70% of rows share one primary value — all of them land in one
    bucket (equal keys can never straddle a cut), and the NTILE
    arithmetic must still split them exactly by the id tiebreak."""
    from end_to_end_data_engineering_pipeline_spark.operators.partitioning import (
        scalable_ntile,
    )
    from pyspark.sql import Window

    rows = [(i, 1 if i % 10 < 7 else (i % 10)) for i in range(2003)]
    df = _mk(spark, rows, "id long, v long")
    for k in (4, 7, 10, 3000):  # 3000 > n: every row its own tile
        got = scalable_ntile(
            df, k, [(F.col("v"), True), (F.col("id"), False)],
            bucket_col="b",
        )
        ref = df.withColumn(
            "b2",
            F.ntile(k).over(Window.orderBy(F.col("v").desc(), F.col("id"))),
        )
        assert (
            got.join(ref.select("id", "b2"), "id")
            .where(F.col("b") != F.col("b2"))
            .count()
            == 0
        ), f"k={k}"


def test_scalable_ntiles_batched_matches_per_dim(spark):
    from end_to_end_data_engineering_pipeline_spark.operators.partitioning import (
        scalable_ntiles,
    )
    from pyspark.sql import Window

    rows = [
        (i, (i * 13) % 50, (i * 7) % 3, float((i * 19) % 400) / 4)
        for i in range(1201)
    ]
    df = _mk(spark, rows, "id long, a long, b long, c double")
    got = scalable_ntiles(
        df,
        4,
        [
            ("qa", [(F.col("a"), True), (F.col("id"), False)]),
            ("qb", [(F.col("b"), False), (F.col("id"), False)]),
            ("qc", [(F.col("c"), True), (F.col("id"), False)]),
        ],
    )
    ref = (
        df.withColumn(
            "qa2",
            F.ntile(4).over(Window.orderBy(F.col("a").desc(), F.col("id"))),
        )
        .withColumn(
            "qb2",
            F.ntile(4).over(Window.orderBy(F.col("b").asc(), F.col("id"))),
        )
        .withColumn(
            "qc2",
            F.ntile(4).over(Window.orderBy(F.col("c").desc(), F.col("id"))),
        )
    )
    joined = got.join(ref.select("id", "qa2", "qb2", "qc2"), "id")
    assert (
        joined.where(
            (F.col("qa") != F.col("qa2"))
            | (F.col("qb") != F.col("qb2"))
            | (F.col("qc") != F.col("qc2"))
        ).count()
        == 0
    )


def test_global_rank_empty_and_tiny(spark):
    from end_to_end_data_engineering_pipeline_spark.operators.partitioning import (
        global_rank,
        scalable_ntile,
    )

    df = spark.createDataFrame([], "id long, v long")
    order = [(F.col("v"), True), (F.col("id"), False)]
    assert global_rank(df, order).count() == 0
    assert scalable_ntile(df, 4, order, bucket_col="b").count() == 0
    two = spark.createDataFrame([(1, 5), (2, 3)], "id long, v long")
    got = {
        r.id: (r.rk, r.b)
        for r in scalable_ntile(
            global_rank(two, order, rank_col="rk"), 4, order, bucket_col="b"
        ).collect()
    }
    assert got == {1: (1, 1), 2: (2, 2)}


def test_global_rank_plan_has_no_unpartitioned_window(spark):
    """The whole point: the physical plan must not contain a window
    with an empty partition spec (Spark's 'moving all data to a single
    partition' shape)."""
    from end_to_end_data_engineering_pipeline_spark.operators.partitioning import (
        global_rank,
    )

    rows = [(i, (i * 17) % 300) for i in range(2001)]
    df = _mk(spark, rows, "id long, v long")
    got = global_rank(
        df, [(F.col("v"), True), (F.col("id"), False)], rank_col="rk"
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    win_lines = [l for l in plan.splitlines() if "windowspecdefinition(" in l]
    assert win_lines, "rank must come from a window operator"
    for line in win_lines:
        # every window spec must open with the __bucket partition key —
        # an empty partition spec is the single-partition shape
        assert "windowspecdefinition(__bucket" in line, line
