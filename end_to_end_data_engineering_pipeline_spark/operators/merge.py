"""J1/S8: keyed upsert (MERGE) onto a Parquet table + latest-wins log.

Reference semantics: ``INSERT ... ON CONFLICT (city, ts_utc) DO UPDATE
SET ...`` (transformation/clean_data.py:222-243) — new batch rows win
over existing rows with the same key. Vanilla Parquet has no MERGE, so
(SURVEY §4.3.1):

    target.join(updates, keys, "left_anti")  UNION  updates
    -> write temp dir -> atomic rename swap

Scale path: when the target is partitioned (e.g. by date), switch to
partition-scoped dynamic overwrite (partitionOverwriteMode=dynamic,
pinned per-write so it holds under any session) so only partitions
present in `updates` are rewritten — the 100 TB variant of this operator touches GBs, not
the full table. Delta Lake ``MERGE INTO`` is the drop-in replacement
when its jars are on the classpath (import-gated; not in this image).

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


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: Sequence[str],
    broadcast_updates: bool = True,
    allow_schema_evolution: bool = False,
) -> int:
    """Upsert ``updates`` into the Parquet table at ``target_path``.

    Returns the resulting row count. Handles the read-modify-write
    hazard (Spark cannot overwrite a path it is reading — SURVEY §7
    risk 4) via write-to-temp + atomic directory swap.

    ``allow_schema_evolution``: with it, a column present on only one
    side is null-filled on the other (unionByName
    allowMissingColumns — Delta MERGE's autoMerge analog), so adding a
    column to the pipeline doesn't force a table rebuild; without it,
    schema drift raises (the safe default — silent drift at 100 TB is
    how a corrupted gold layer happens).

    ``updates`` is cached for the merge unless the caller already
    persisted it; a caller's cache is left for the caller to release.
    """
    owned = not updates.is_cached
    if owned:
        updates = updates.cache()
    try:
        if os.path.isdir(target_path):
            target = spark.read.parquet(target_path)
            upd = F.broadcast(updates) if broadcast_updates else updates
            kept = target.join(upd.select(*keys), list(keys), "left_anti")
            merged = kept.unionByName(
                updates, allowMissingColumns=allow_schema_evolution
            )
        else:
            merged = updates

        tmp = f"{target_path}.__tmp_{uuid.uuid4().hex}"
        merged.write.mode("overwrite").parquet(tmp)
        n = spark.read.parquet(tmp).count()
        old = f"{target_path}.__old_{uuid.uuid4().hex}"
        if os.path.isdir(target_path):
            os.rename(target_path, old)
            os.rename(tmp, target_path)
            shutil.rmtree(old, ignore_errors=True)
        else:
            os.rename(tmp, target_path)
        return n
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


def merge_upsert_partitioned(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: Sequence[str],
    partition_col: str,
    broadcast_updates: bool = True,
) -> int:
    """Partition-scoped MERGE (the 100 TB variant of merge_upsert).

    Requires a hive-partitioned target (``partitionBy(partition_col)``)
    and keys that DETERMINE the partition (e.g. partition=day(ts) with
    ts in the key): an update then can only ever collide with rows in
    its own partition, so the merge reads and rewrites ONLY the
    partitions present in ``updates`` — cost is bound by the update
    batch's partition spread, not the table size.

    Mechanics: prune target to affected partitions (partition filter,
    no full scan) -> anti-join + union within them -> stage the merged
    slice to a temp dir (the self-read hazard applies to the slice
    too) -> dynamic partition overwrite of just those partitions
    (partitionOverwriteMode=dynamic, pinned as a per-write option so
    the semantics do not depend on session conf).
    Returns the row count of the rewritten partitions.
    """
    if partition_col not in updates.columns:
        raise ValueError(f"updates must carry partition column {partition_col!r}")
    # NULL partition values would land in __HIVE_DEFAULT_PARTITION__, which
    # isin(parts) can never match: existing rows there would be dropped from
    # `kept` while dynamic overwrite still rewrites that partition. Refuse.
    if updates.where(F.col(partition_col).isNull()).limit(1).count() > 0:
        raise ValueError(
            f"updates contain NULL {partition_col!r} values; partition-scoped "
            "merge cannot address the default partition safely"
        )
    if not os.path.isdir(target_path):
        updates.write.mode("overwrite").partitionBy(partition_col).parquet(
            target_path
        )
        return updates.count()

    parts = [
        r[0] for r in updates.select(partition_col).distinct().collect()
    ]
    target = spark.read.parquet(target_path)
    affected = target.where(F.col(partition_col).isin(parts))
    upd = F.broadcast(updates) if broadcast_updates else updates
    kept = affected.join(upd.select(*keys), list(keys), "left_anti")
    merged = kept.unionByName(updates.select(*affected.columns))

    tmp = f"{target_path}.__stage_{uuid.uuid4().hex}"
    try:
        merged.write.mode("overwrite").parquet(tmp)
        staged = spark.read.parquet(tmp)
        n = staged.count()
        # dynamic mode: only partitions present in `staged` are replaced.
        # Pinned per-write (not via session conf): under Spark's default
        # static mode this overwrite would truncate every partition NOT in
        # the update batch — silent data loss for any caller whose session
        # lacks the factory's conf.
        staged.write.option(
            "partitionOverwriteMode", "dynamic"
        ).mode("overwrite").partitionBy(partition_col).parquet(target_path)
        return n
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


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
    the row, D removes the key. Returns the new table row count.

    Scale: same anti-join + union shape as merge_upsert — the delete
    set rides the same broadcast as the upsert keys, so deletes are
    free. With ``partition_col`` (hive-partitioned target; every
    change row, deletes included, carries the partition value, and
    keys determine the partition as in merge_upsert_partitioned) the
    apply composes with partition pruning: only partitions present in
    the change batch are read and rewritten — the 100 TB variant where
    a CDC batch touches GBs, not the table.
    """
    if partition_col is not None:
        return _apply_changes_partitioned(
            spark, target_path, changes, keys, seq_col, op_col, partition_col
        )
    data_cols = [c for c in changes.columns if c not in (op_col, seq_col)]
    latest = latest_wins(changes, list(keys), seq_col)
    upserts = latest.where(F.col(op_col) != "D").select(*data_cols)
    touched = latest.select(*keys)

    if not os.path.isdir(target_path):
        merged = upserts
    else:
        old = spark.read.parquet(target_path)
        kept = old.join(F.broadcast(touched), list(keys), "left_anti")
        merged = kept.unionByName(upserts)

    tmp = f"{target_path}.__stage_{uuid.uuid4().hex}"
    try:
        merged.write.mode("overwrite").parquet(tmp)
        staged = spark.read.parquet(tmp)
        n = staged.count()
        staged.write.mode("overwrite").parquet(target_path)
        return n
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _apply_changes_partitioned(
    spark: SparkSession,
    target_path: str,
    changes: DataFrame,
    keys: Sequence[str],
    seq_col: str,
    op_col: str,
    partition_col: str,
) -> int:
    """CDC apply scoped to the partitions present in the change batch
    (apply_changes x merge_upsert_partitioned): untouched partitions
    are neither read nor rewritten — their files keep identity.

    One extra contract beyond merge_upsert_partitioned: a partition
    whose rows are ALL deleted produces no staged rows, and dynamic
    overwrite can only replace partitions it writes — such partitions
    are removed explicitly (bounded by the batch's partition spread).
    """
    data_cols = [c for c in changes.columns if c not in (op_col, seq_col)]
    if partition_col not in data_cols:
        raise ValueError(
            f"changes must carry partition column {partition_col!r} "
            "(deletes included)"
        )
    if changes.where(F.col(partition_col).isNull()).limit(1).count() > 0:
        raise ValueError(
            f"changes contain NULL {partition_col!r} values; partition-"
            "scoped apply cannot address the default partition safely"
        )
    latest = latest_wins(changes, list(keys), seq_col).cache()
    try:
        upserts = latest.where(F.col(op_col) != "D").select(*data_cols)
        touched = latest.select(*keys)

        if not os.path.isdir(target_path):
            n = upserts.count()
            if n == 0:
                # an all-delete batch onto a nonexistent table: writing
                # would leave a partition-less _SUCCESS shell that no
                # later read can infer a schema from — leave no dir,
                # the canonical "empty partitioned table" form here
                return 0
            upserts.write.mode("overwrite").partitionBy(
                partition_col
            ).parquet(target_path)
            return n

        parts = [
            r[0] for r in latest.select(partition_col).distinct().collect()
        ]
        target = spark.read.parquet(target_path)
        affected = target.where(F.col(partition_col).isin(parts))
        kept = affected.join(F.broadcast(touched), list(keys), "left_anti")
        merged = kept.unionByName(upserts.select(*affected.columns))

        tmp = f"{target_path}.__stage_{uuid.uuid4().hex}"
        try:
            merged.write.mode("overwrite").parquet(tmp)
            staged = spark.read.parquet(tmp)
            n = staged.count()
            staged.write.option(
                "partitionOverwriteMode", "dynamic"
            ).mode("overwrite").partitionBy(partition_col).parquet(
                target_path
            )
            # fully-deleted partitions never appear in `staged`; clear
            # their dirs by matching the actual on-disk (hive-escaped)
            # names — see _remove_partition_dirs. Compare CANONICAL
            # value strings, not raw Python values: the union with the
            # read-back target can coerce the partition column's type
            # (e.g. string changes vs int-inferred partition dirs), and
            # a raw set difference would then flag a just-written
            # partition as deleted and remove it.
            present = {
                _partition_value_str(r[0])
                for r in staged.select(partition_col).distinct().collect()
            }
            _remove_partition_dirs(
                target_path,
                partition_col,
                [p for p in parts if _partition_value_str(p) not in present],
            )
            # a batch that deleted EVERY remaining partition leaves a
            # partition-less shell no read can infer a schema from —
            # drop the dir so the table reads as nonexistent, matching
            # the empty-onto-missing case above
            if not any(
                "=" in d and not d.startswith((".", "_"))
                for d in os.listdir(target_path)
            ):
                shutil.rmtree(target_path, ignore_errors=True)
            return n
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    finally:
        latest.unpersist()


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
    ``apply_changes`` already requires.

    Scale: the batch is the small side everywhere — its history is a
    batch-local window, the close-set join broadcasts (batch keys,
    close_seq), and untouched history rows stream through unmodified.
    Same staged overwrite protocol as ``apply_changes``.

    With ``partition_col`` (hive-partitioned history; the partition
    must be a FUNCTION OF THE KEY, as in merge_upsert_partitioned, so
    a key's open record always lives in a partition the batch
    touches) only the batch's partitions are read and rewritten —
    history is append-mostly, so at 100 TB this is the difference
    between rewriting GBs and rewriting the table.
    """
    if partition_col is not None:
        return _scd2_apply_partitioned(
            spark, target_path, changes, keys, seq_col, op_col, partition_col
        )
    batch_hist = scd2_history(changes, list(keys), seq_col, op_col)
    close_seqs = changes.groupBy(*keys).agg(
        F.min(seq_col).alias("__close_seq")
    )

    if not os.path.isdir(target_path):
        # a first batch whose effective history is empty (e.g. deletes
        # against nothing) creates NO table — the same no-op contract as
        # the partitioned variant, so the two stay interchangeable
        # (hypothesis-pinned; a D-only opening batch used to create an
        # empty table here but nothing there)
        if batch_hist.limit(1).count() == 0:
            return 0
        merged = batch_hist
    else:
        old = spark.read.parquet(target_path)
        merged = _close_open_records(old, close_seqs, keys).unionByName(
            batch_hist
        )

    tmp = f"{target_path}.__stage_{uuid.uuid4().hex}"
    try:
        merged.write.mode("overwrite").parquet(tmp)
        staged = spark.read.parquet(tmp)
        n = staged.count()
        staged.write.mode("overwrite").parquet(target_path)
        return n
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


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


def _scd2_apply_partitioned(
    spark: SparkSession,
    target_path: str,
    changes: DataFrame,
    keys: Sequence[str],
    seq_col: str,
    op_col: str,
    partition_col: str,
) -> int:
    """Partition-scoped incremental SCD2: read/close/rewrite ONLY the
    partitions present in the batch (dynamic partition overwrite).
    History never deletes rows, so — unlike the CDC apply — no
    partition can vanish and no dir cleanup is needed. Returns the
    row count of the rewritten partitions."""
    if partition_col not in changes.columns:
        raise ValueError(
            f"changes must carry partition column {partition_col!r}"
        )
    if changes.where(F.col(partition_col).isNull()).limit(1).count() > 0:
        raise ValueError(
            f"changes contain NULL {partition_col!r} values; partition-"
            "scoped apply cannot address the default partition safely"
        )
    batch_hist = scd2_history(changes, list(keys), seq_col, op_col)
    close_seqs = changes.groupBy(*keys).agg(
        F.min(seq_col).alias("__close_seq")
    )

    if not os.path.isdir(target_path):
        n = batch_hist.count()
        if n == 0:
            return 0
        batch_hist.write.mode("overwrite").partitionBy(
            partition_col
        ).parquet(target_path)
        return n

    parts = [
        r[0] for r in changes.select(partition_col).distinct().collect()
    ]
    target = spark.read.parquet(target_path)
    affected = target.where(F.col(partition_col).isin(parts))
    merged = _close_open_records(affected, close_seqs, keys).unionByName(
        batch_hist.select(*affected.columns)
    )

    tmp = f"{target_path}.__stage_{uuid.uuid4().hex}"
    try:
        merged.write.mode("overwrite").parquet(tmp)
        staged = spark.read.parquet(tmp)
        n = staged.count()
        staged.write.option("partitionOverwriteMode", "dynamic").mode(
            "overwrite"
        ).partitionBy(partition_col).parquet(target_path)
        return n
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


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
