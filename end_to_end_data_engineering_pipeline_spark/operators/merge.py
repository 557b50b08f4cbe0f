"""J1/S8: keyed upsert (MERGE) onto a Parquet table + latest-wins log.

Reference semantics: ``INSERT ... ON CONFLICT (city, ts_utc) DO UPDATE
SET ...`` (transformation/clean_data.py:222-243) — new batch rows win
over existing rows with the same key. Vanilla Parquet has no MERGE, so
(SURVEY §4.3.1):

    target.join(updates, keys, "left_anti")  UNION  updates
    -> write stage dir -> atomic rename swap

Every table writer here — :func:`merge_upsert`, :func:`apply_changes`,
:func:`scd2_apply`, and outside this module the model runner's
``table``/``incremental`` materializations and the IVF index save —
replaces its table through ONE commit protocol, :func:`_commit_table`:
stage the new rows next to the target, count them from the staged
Parquet footers, then make the stage the table.

Scale path: the three writers take ``partition_col``. On a
hive-partitioned target the merge reads only the partitions present
in the batch (``_target_slice``) and the commit becomes a dynamic
partition overwrite (partitionOverwriteMode=dynamic, pinned per write
so it holds under any session) that replaces just those partitions —
the 100 TB variant of this operator touches GBs, not the full table.
Delta Lake ``MERGE INTO`` is the drop-in replacement when its jars are
on the classpath (import-gated; not in this image).

The anti-join broadcasts `updates` when it is small (a daily batch vs
the accumulated table) — Catalyst/AQE decides via size estimate; we
hint it explicitly because the semantic guarantee (updates is the
small side) is knowledge the optimizer lacks.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .snapshots import _parquet_num_rows


def _hive_unescape(name: str) -> str:
    """Invert the hive path escaping Spark applies to partition dir
    names (ExternalCatalogUtils.escapePathName renders each special
    char as %XX): '%2F' -> '/', '%3A' -> ':', '%25' -> '%', ... .
    Unescaping the ON-DISK name is unambiguous regardless of which
    exact character set the writer escaped."""
    out = []
    i, n = 0, len(name)
    while i < n:
        c = name[i]
        if c == "%" and i + 2 < n:
            try:
                out.append(chr(int(name[i + 1 : i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(c)
        i += 1
    return "".join(out)


def _partition_value_str(p) -> str:
    """Canonical string form Spark uses for a partition VALUE inside a
    hive dir name (before escaping): booleans lowercase, dates ISO,
    everything else str()."""
    if isinstance(p, bool):
        return "true" if p else "false"
    return str(p)


def _remove_partition_dirs(target_path: str, partition_col: str, values) -> None:
    """Delete the on-disk hive dirs for the given partition values by
    LISTING the actual dirs and unescaping their value component —
    constructing f"{col}={value}" directly misses any value Spark
    escaped ('/', ':', '%', ...), leaving deleted rows visible."""
    want = {_partition_value_str(p) for p in values}
    if not want:
        return
    prefix = f"{partition_col}="
    for d in os.listdir(target_path):
        full = os.path.join(target_path, d)
        if not d.startswith(prefix) or not os.path.isdir(full):
            continue
        if _hive_unescape(d[len(prefix):]) in want:
            shutil.rmtree(full, ignore_errors=True)


def _staged_rows(stage: str) -> int:
    """Row count of the Parquet files under ``stage`` (partition dirs
    included), summed from their footers — no Spark job."""
    return sum(
        _parquet_num_rows(os.path.join(d, f))
        for d, _, files in os.walk(stage)
        for f in files
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def _commit_table(
    spark: SparkSession,
    df: DataFrame,
    target_path: str,
    partition_col: str | None = None,
) -> int:
    """Make ``df`` the Parquet table at ``target_path`` and return the
    number of rows written — the one place a table directory is
    replaced. ``df`` may read the target: its rows are written to a
    uniquely named stage directory next to the target first (Spark
    cannot overwrite a path it is reading — SURVEY §7 risk 4), and a
    failed stage write leaves the table untouched.

    Unpartitioned (or a partitioned table's first write): the stage
    becomes the table by a rename swap; if the second rename fails the
    old directory is renamed straight back, so a failure at any step
    leaves the old table or the new one. With ``partition_col`` on an
    existing table the stage is dynamically overwritten into it, so
    only the partitions ``df`` holds rows for are replaced
    (partitionOverwriteMode=dynamic, pinned per write: under Spark's
    default static mode this overwrite would truncate every partition
    NOT in ``df`` for any caller whose session lacks the factory's
    conf); that step is only as atomic as Spark's dynamic-overwrite
    job commit. A partitioned table of zero rows is no directory at
    all (an empty partitioned write leaves nothing a read can infer a
    schema from), so a first write of zero rows creates none.
    """
    exists = os.path.isdir(target_path)
    token = uuid.uuid4().hex
    stage = f"{target_path}.__stage_{token}"
    try:
        writer = df.write.mode("overwrite")
        if partition_col is not None and not exists:
            writer = writer.partitionBy(partition_col)
        writer.parquet(stage)
        n = _staged_rows(stage)
        if partition_col is not None and exists:
            spark.read.parquet(stage).write.option(
                "partitionOverwriteMode", "dynamic"
            ).mode("overwrite").partitionBy(partition_col).parquet(target_path)
        elif n or partition_col is None:
            _swap_in(stage, target_path, f"{target_path}.__old_{token}")
        return n
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def _swap_in(stage: str, target_path: str, old: str) -> None:
    """Rename ``stage`` into place at ``target_path``, moving any
    current table aside to ``old`` and back again if the second rename
    fails — the committed table survives either way."""
    if not os.path.isdir(target_path):
        os.rename(stage, target_path)
        return
    os.rename(target_path, old)
    try:
        os.rename(stage, target_path)
    except OSError:
        os.rename(old, target_path)
        raise
    shutil.rmtree(old, ignore_errors=True)


def _target_slice(
    spark: SparkSession,
    target_path: str,
    batch: DataFrame,
    partition_col: str | None,
) -> tuple[DataFrame | None, list]:
    """The part of the table at ``target_path`` a batch can touch, and
    the batch's partition values: ``(None, [])`` when there is no
    table yet; the whole table when unpartitioned; with
    ``partition_col`` only the partitions the batch carries (partition
    filter, no full scan). Partition-scoped writes require keys that
    DETERMINE the partition (e.g. partition=day(ts) with ts in the
    key), so a batch row can only ever collide with rows in its own
    partition."""
    if partition_col is None:
        if not os.path.isdir(target_path):
            return None, []
        return spark.read.parquet(target_path), []
    if partition_col not in batch.columns:
        raise ValueError(f"batch must carry partition column {partition_col!r}")
    # NULL partition values would land in __HIVE_DEFAULT_PARTITION__, which
    # isin(parts) can never match: existing rows there would be dropped from
    # the slice while dynamic overwrite still rewrites that partition. Refuse.
    if batch.where(F.col(partition_col).isNull()).limit(1).count() > 0:
        raise ValueError(
            f"batch contains NULL {partition_col!r} values; a partition-"
            "scoped write cannot address the default partition safely"
        )
    if not os.path.isdir(target_path):
        return None, []
    parts = [r[0] for r in batch.select(partition_col).distinct().collect()]
    target = spark.read.parquet(target_path)
    return target.where(F.col(partition_col).isin(parts)), parts


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: Sequence[str],
    broadcast_updates: bool = True,
    allow_schema_evolution: bool = False,
    partition_col: str | None = None,
) -> int:
    """Upsert ``updates`` into the Parquet table at ``target_path``.

    Returns the resulting row count — of the whole table, or with
    ``partition_col`` of the partitions the batch rewrote; only those
    are read and rewritten, so cost is bound by the batch's partition
    spread, not the table size (see :func:`_target_slice` for the key
    contract).

    ``allow_schema_evolution``: with it, a column present on only one
    side is null-filled on the other (unionByName
    allowMissingColumns — Delta MERGE's autoMerge analog), so adding a
    column to the pipeline doesn't force a table rebuild; without it,
    schema drift raises (the safe default — silent drift at 100 TB is
    how a corrupted gold layer happens). It cannot be combined with
    ``partition_col``: an evolved column would reach only the
    partitions a batch rewrites, and a later slice read may infer the
    schema from a file without it.

    ``updates`` is cached for the merge unless the caller already
    persisted it; a caller's cache is left for the caller to release.
    """
    if partition_col is not None and allow_schema_evolution:
        raise ValueError(
            "allow_schema_evolution is not supported with partition_col"
        )
    owned = not updates.is_cached
    if owned:
        updates = updates.cache()
    try:
        target, _ = _target_slice(spark, target_path, updates, partition_col)
        if target is None:
            merged = updates
        else:
            upd = F.broadcast(updates) if broadcast_updates else updates
            kept = target.join(upd.select(*keys), list(keys), "left_anti")
            merged = kept.unionByName(
                updates, allowMissingColumns=allow_schema_evolution
            )
        return _commit_table(spark, merged, target_path, partition_col)
    finally:
        if owned:
            updates.unpersist()


def latest_wins(log: DataFrame, key: str, order_col: str) -> DataFrame:
    """Latest-wins view over an append-only log (SURVEY §4.3.2).

    Replaces the reference's in-place status UPDATE
    (ingestion/fetch_data.py:242-263): the batch log is append-only;
    consumers read the most recent row per key.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(F.col(order_col).desc())
    return (
        log.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def apply_changes(
    spark: SparkSession,
    target_path: str,
    changes: DataFrame,
    keys: Sequence[str],
    seq_col: str,
    op_col: str = "op",
    partition_col: str | None = None,
) -> int:
    """CDC changelog apply: MERGE with deletes (the full
    INSERT/UPDATE/DELETE contract the reference's ON CONFLICT upsert
    lacks — clean_data.py:222-243 can only insert/update).

    ``changes`` carries ``op_col`` in {'I','U','D'} and a monotonically
    increasing ``seq_col``; per key, the LATEST change wins (latest_wins
    keeps the reference's batch-log resolution semantics): I/U upserts
    the row, D removes the key. Returns the new table row count (with
    ``partition_col``, of the rewritten partitions).

    Scale: same anti-join + union shape as merge_upsert — the delete
    set rides the same broadcast as the upsert keys, so deletes are
    free. With ``partition_col`` (hive-partitioned target; every
    change row, deletes included, carries the partition value, and
    keys determine the partition as in merge_upsert) only partitions
    present in the change batch are read and rewritten — the 100 TB
    variant where a CDC batch touches GBs, not the table. A partition
    whose rows the batch deletes entirely is removed, and so is a
    table left with none.
    """
    data_cols = [c for c in changes.columns if c not in (op_col, seq_col)]
    target, parts = _target_slice(spark, target_path, changes, partition_col)
    latest = latest_wins(changes, list(keys), seq_col)
    upserts = latest.where(F.col(op_col) != "D").select(*data_cols)
    if target is None:
        merged = upserts
    else:
        touched = latest.select(*keys)
        kept = target.join(F.broadcast(touched), list(keys), "left_anti")
        merged = kept.unionByName(upserts)
    if not parts:
        return _commit_table(spark, merged, target_path, partition_col)
    # dynamic overwrite replaces only the partitions `merged` holds rows
    # for, so a partition the batch empties is removed here, after the
    # commit. `merged` is cached so finding those partitions does not
    # compute the merge twice.
    merged = merged.cache()
    try:
        # Compare CANONICAL value strings, not raw Python values: the
        # union with the read-back target can coerce the partition
        # column's type (e.g. string changes vs int-inferred partition
        # dirs), and a raw set difference would then flag a partition
        # that keeps rows as emptied and remove it.
        present = {
            _partition_value_str(r[0])
            for r in merged.select(partition_col).distinct().collect()
        }
        n = _commit_table(spark, merged, target_path, partition_col)
    finally:
        merged.unpersist()
    _remove_partition_dirs(
        target_path,
        partition_col,
        [p for p in parts if _partition_value_str(p) not in present],
    )
    if not any(
        "=" in d and not d.startswith((".", "_"))
        for d in os.listdir(target_path)
    ):
        shutil.rmtree(target_path, ignore_errors=True)
    return n


def scd2_history(
    changelog: DataFrame,
    keys: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Type-2 slowly-changing-dimension history from an I/U/D
    changelog: one record per non-delete change, with

      - ``valid_from`` — the change's own ``seq``,
      - ``valid_to``   — the NEXT change's seq for the key (a later
        U re-versions the record; a D closes it), NULL while open,
      - ``is_current`` — open record (``valid_to`` IS NULL).

    The history twin of :func:`apply_changes` (which keeps only the
    latest state): ``scd2_history(...).where("is_current")`` equals
    the latest-wins state minus deleted keys. A delete row closes its
    predecessor but emits no record; a re-insert after a delete opens
    a fresh record, so delete windows appear as gaps in
    [valid_from, valid_to) coverage.

    PRECONDITION: ``seq_col`` unique per key (ties get a deterministic
    ``op_col`` tiebreak, D < I < U, but same-seq semantics are the
    caller's contract to avoid). One shuffle on the key (the lead
    window) — the same cost as the latest-wins dedup, and at 100 TB
    the changelog is the small side; the window never touches the
    dimension's full history if the caller partitions by key range.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(seq_col, op_col)
    return (
        changelog.withColumn("valid_to", F.lead(seq_col).over(w))
        .where(F.col(op_col) != "D")
        .withColumn("valid_from", F.col(seq_col))
        .withColumn("is_current", F.col("valid_to").isNull())
        .drop(op_col, seq_col)
    )


def scd2_asof(hist: DataFrame, at) -> DataFrame:
    """Point-in-time (as-of) read over an SCD2 history: the rows whose
    validity interval covers ``at`` — ``valid_from <= at`` and
    (``valid_to`` IS NULL or ``valid_to > at``). This is row-level time
    travel: where the snapshot table (operators/snapshots.py) answers
    "the table as of commit N", this answers "each KEY's version as of
    sequence T" from one stored history — no per-version storage. A
    key deleted before ``at`` has no covering interval (delete windows
    are gaps), so it simply drops out. Pure filter over the history —
    pushes to the scan, no shuffle, and a history clustered on
    valid_from prunes files by the same predicate at 100 TB."""
    return hist.where(
        (F.col("valid_from") <= F.lit(at))
        & (F.col("valid_to").isNull() | (F.col("valid_to") > F.lit(at)))
    )


def scd2_apply(
    spark: SparkSession,
    target_path: str,
    changes: DataFrame,
    keys: Sequence[str],
    seq_col: str = "seq",
    op_col: str = "op",
    partition_col: str | None = None,
) -> int:
    """Incremental SCD2 maintenance: merge one changelog batch into a
    persisted history table (the warehouse-shaped twin of
    :func:`scd2_history`, which rebuilds from the full log).

    Per batch key: the key's OPEN record (``is_current``) is closed at
    the batch's first change seq, and the batch's own records (from
    ``scd2_history`` of the batch) are appended — the last one open
    unless the batch ends in a delete. Sequential applies over ordered
    batches land on EXACTLY the table the one-shot rebuild produces
    (pinned by a hypothesis property), provided each key's seqs are
    increasing across batches — the same ordering contract
    ``apply_changes`` already requires. Returns the history row count
    (with ``partition_col``, of the rewritten partitions).

    Scale: the batch is the small side everywhere — its history is a
    batch-local window, the close-set join broadcasts (batch keys,
    close_seq), and untouched history rows stream through unmodified.

    With ``partition_col`` (hive-partitioned history; the partition
    must be a FUNCTION OF THE KEY, as in merge_upsert, so a key's open
    record always lives in a partition the batch touches) only the
    batch's partitions are read and rewritten — history is
    append-mostly, so at 100 TB this is the difference between
    rewriting GBs and rewriting the table. History never deletes
    rows, so no partition can vanish.
    """
    target, _ = _target_slice(spark, target_path, changes, partition_col)
    batch_hist = scd2_history(changes, list(keys), seq_col, op_col)
    if target is None:
        # a first batch whose effective history is empty (e.g. deletes
        # against nothing) creates NO table, partitioned or not, so the
        # two stay interchangeable (hypothesis-pinned)
        if batch_hist.limit(1).count() == 0:
            return 0
        merged = batch_hist
    else:
        close_seqs = changes.groupBy(*keys).agg(
            F.min(seq_col).alias("__close_seq")
        )
        merged = _close_open_records(target, close_seqs, keys).unionByName(
            batch_hist
        )
    return _commit_table(spark, merged, target_path, partition_col)


def _close_open_records(
    old: DataFrame, close_seqs: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """History rows with each batch key's OPEN record closed at the
    batch's first seq; rows for untouched keys pass through."""
    return old.join(F.broadcast(close_seqs), list(keys), "left").select(
        *[c for c in old.columns if c not in ("valid_to", "is_current")],
        F.when(
            F.col("is_current") & F.col("__close_seq").isNotNull(),
            F.col("__close_seq"),
        )
        .otherwise(F.col("valid_to"))
        .alias("valid_to"),
        (F.col("is_current") & F.col("__close_seq").isNull()).alias(
            "is_current"
        ),
    )


def incremental_agg_delta(
    changes: DataFrame,
    group_cols: list[str],
    before_col: str = "before",
    after_col: str = "after",
    op_col: str = "op",
) -> DataFrame:
    """Per-group (d_count, d_sum) from an I/U/D changelog carrying
    BEFORE IMAGES — the algebraic heart of incremental view
    maintenance: for count/sum (and anything derived from them —
    avg, revenue shares), a change batch folds into the aggregate as
    a pure delta, no base-table recompute:

      I: d_count +1, d_sum +after
      U: d_count  0, d_sum +after - before
      D: d_count -1, d_sum -before

    The before image is what makes U and D incremental without
    consulting the base table; CDC feeds (Debezium-style envelopes)
    carry it natively. One aggregate over the (small) change batch."""
    d_count = (
        F.when(F.col(op_col) == "I", 1)
        .when(F.col(op_col) == "D", -1)
        .otherwise(0)
    )
    d_sum = (
        F.when(F.col(op_col) == "I", F.col(after_col))
        .when(F.col(op_col) == "D", -F.col(before_col))
        .otherwise(F.col(after_col) - F.col(before_col))
    )
    return changes.groupBy(*group_cols).agg(
        F.sum(d_count).cast("long").alias("d_count"),
        F.sum(d_sum).alias("d_sum"),
    )


def apply_agg_delta(
    agg: DataFrame,
    delta: DataFrame,
    group_cols: list[str],
    count_col: str = "n",
    sum_col: str = "total",
) -> DataFrame:
    """Fold a delta (from :func:`incremental_agg_delta`) into a
    maintained aggregate: full-outer join on the group key (new groups
    appear, emptied groups drop when their count reaches zero),
    coalesced addition elsewhere. At 100 TB the maintained aggregate
    is GROUP-cardinality rows and the batch delta is smaller still —
    the whole maintenance cost is one group-cardinality join, vs
    re-scanning the fact table the aggregate summarizes. Spark cannot
    broadcast a full-outer join (both sides can produce unmatched
    rows), so this runs as a sort-merge join over group-cardinality
    inputs — still tiny relative to the fact scan it replaces."""
    joined = agg.join(delta, group_cols, "full_outer")
    new_count = F.coalesce(F.col(count_col), F.lit(0)) + F.coalesce(
        F.col("d_count"), F.lit(0)
    )
    zero = F.lit(0).cast(
        dict(agg.dtypes)[sum_col] if sum_col in dict(agg.dtypes) else "double"
    )
    new_sum = F.coalesce(F.col(sum_col), zero) + F.coalesce(
        F.col("d_sum"), zero
    )
    return (
        joined.select(
            *group_cols,
            new_count.cast("long").alias(count_col),
            new_sum.alias(sum_col),
        )
        .where(F.col(count_col) > 0)
    )


def incremental_join_delta(
    a_old: DataFrame,
    d_a: DataFrame,
    b_new: DataFrame,
    d_b: DataFrame,
    on: list[str],
    broadcast_deltas: bool = True,
) -> DataFrame:
    """Delta of an INNER-JOIN view under append-only batches — the
    join half of incremental view maintenance (the agg half is
    :func:`incremental_agg_delta`). For ``V = A JOIN B ON on`` with
    appended rows ``d_a`` and ``d_b``:

        dV = (d_a JOIN b_new) UNION ALL (a_old JOIN d_b)

    where ``b_new = b_old UNION d_b``. The two terms partition dV
    exactly (d_a x d_b pairs land only in the first, a_old x d_b
    only in the second), so no dedup is needed and duplicates in the
    inputs keep correct multiplicity — this is the standard
    delta-rewrite from the DBSP/DDlog literature restated over
    DataFrames.

    At 100 TB the point is the asymmetry: both joins probe a big
    table with a SMALL delta, so each runs as a broadcast hash join
    with the delta on the build side (``broadcast_deltas``) — the
    maintenance cost is O(|delta| x match fan-out) with zero
    shuffle of A or B, vs re-shuffling both full tables to rebuild
    the view. Column contract: output columns are the inner-join
    output (``on`` + both sides' value columns), same as the view."""
    da = F.broadcast(d_a) if broadcast_deltas else d_a
    db = F.broadcast(d_b) if broadcast_deltas else d_b
    return da.join(b_new, on, "inner").unionByName(
        a_old.join(db, on, "inner")
    )
