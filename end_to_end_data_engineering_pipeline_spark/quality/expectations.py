"""Expectations module: the reference's quality gate as one-pass aggregates.

Reference (quality/checks.py:59-157): schema check + per-column null
counts (:91) + duplicate count (:93-98) + 4 range-violation counts
(:100-107) -> PASS/FAIL (:109-113) -> audit insert (:123-144) -> raise
on FAIL to halt the pipeline (:156-157). dbt adds declarative
not_null/unique/relationships tests (dbt/models/analytics/schema.yml).

Spark-first design (SURVEY §2.11): every rule compiles to a
``sum(when(...))`` counter and ONE ``agg()`` computes all counters in a
single scan — where the reference runs one Polars filter per rule.
The duplicate count needs its own shuffle (groupBy key) and runs as a
second job. At 100 TB this is 1 scan + 1 key shuffle, both
map-side-combined; rules add zero extra passes.
"""

from __future__ import annotations

import json
import uuid
from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import QUALITY_RESULTS, local_frame, require_columns


class QualityGateError(RuntimeError):
    """Raised to halt the pipeline on FAIL (reference checks.py:156-157)."""


@dataclass
class Rule:
    name: str
    counter: Column  # aggregates to the number of violating rows


def not_null_rule(col: str) -> Rule:
    return Rule(
        f"null:{col}",
        F.sum(F.col(col).isNull().cast("long")),
    )


def range_rule(col: str, lo: float, hi: float) -> Rule:
    """Violation when value outside [lo, hi] (reference compound-OR
    predicates, checks.py:100-107). Nulls are not range violations."""
    return Rule(
        f"range:{col}",
        F.sum(((F.col(col) < lo) | (F.col(col) > hi)).cast("long")),
    )


def unique_rule(keys: Sequence[str]) -> tuple[str, ...]:
    """Marker for the duplicate-count check (A1/A2: group-count on the
    key then sum of (count-1), checks.py:93-98)."""
    return tuple(keys)


def relationship_violations(child: DataFrame, parent: DataFrame, key: str) -> int:
    """dbt ``relationships`` test (schema.yml:38-46) as a left-anti join
    (SURVEY §2.4 J2): rows in child whose key is absent from parent."""
    return (
        child.select(key)
        .where(F.col(key).isNotNull())
        .join(F.broadcast(parent.select(key).distinct()), key, "left_anti")
        .count()
    )


@dataclass
class Expectations:
    """Composite quality gate over one DataFrame."""

    required_columns: Sequence[str] = ()
    rules: list[Rule] = field(default_factory=list)
    unique_keys: tuple[str, ...] | None = None

    def counters_df(self, df: DataFrame) -> DataFrame:
        """All rule counters as a one-row DataFrame (the distributable
        form of run(): no collect, usable inside a larger plan or the
        driver's oracle harness)."""
        if self.required_columns:
            require_columns(df, self.required_columns)
        aggs = [F.count(F.lit(1)).alias("n_rows")] + [
            r.counter.cast("long").alias(r.name) for r in self.rules
        ]
        return df.agg(*aggs)

    def run(self, df: DataFrame, batch_id: str = "") -> dict:
        """Compute all counters; return the audit dict.

        Raises QualityGateError if any counter > 0 or the table is
        empty (reference empty-set check, checks.py:70-72)."""
        if self.required_columns:
            require_columns(df, self.required_columns)

        aggs = [F.count(F.lit(1)).alias("__rows")] + [
            r.counter.alias(r.name) for r in self.rules
        ]
        row = df.agg(*aggs).collect()[0].asDict()
        n_rows = row.pop("__rows")

        dup_count = 0
        if self.unique_keys:
            dup_count = (
                df.groupBy(*self.unique_keys)
                .count()
                .where(F.col("count") > 1)
                .agg(F.coalesce(F.sum(F.col("count") - 1), F.lit(0)))
                .collect()[0][0]
            )

        violations = {k: int(v or 0) for k, v in row.items()}
        status = (
            "FAIL"
            if n_rows == 0 or dup_count > 0 or any(violations.values())
            else "PASS"
        )
        audit = {
            "check_id": str(uuid.uuid4()),
            "batch_id": batch_id,
            "status": status,
            "row_count": int(n_rows),
            "duplicate_count": int(dup_count),
            "violations": violations,
        }
        return audit

    def gate(self, df: DataFrame, batch_id: str = "") -> dict:
        """run() + raise on FAIL (the pipeline-halting form)."""
        audit = self.run(df, batch_id)
        if audit["status"] != "PASS":
            raise QualityGateError(json.dumps(audit, default=str))
        return audit


def audit_to_df(spark, audit: dict) -> DataFrame:
    """Audit dict -> one-row DataFrame matching QUALITY_RESULTS (S9;
    detail maps serialized via JSON like the reference's Json(...) blobs,
    quality/checks.py:139-141)."""
    row = {
        "check_id": audit["check_id"],
        "batch_id": audit["batch_id"],
        "checked_at": __import__("datetime").datetime.now(
            __import__("datetime").timezone.utc
        ).replace(tzinfo=None),
        "status": audit["status"],
        "row_count": audit["row_count"],
        "null_counts": json.dumps(
            {k: v for k, v in audit["violations"].items() if k.startswith("null:")}
        ),
        "duplicate_count": audit["duplicate_count"],
        "range_violations": json.dumps(
            {k: v for k, v in audit["violations"].items() if k.startswith("range:")}
        ),
    }
    return local_frame(spark, [row], QUALITY_RESULTS)


@dataclass
class RowRule:
    """Row-level twin of :class:`Rule`: a boolean violation predicate
    instead of an aggregate counter — the building block for
    dead-letter ROUTING, where bad rows must be diverted with a
    reason, not just counted."""

    name: str
    violates: Column


def not_null_row(col: str) -> RowRule:
    return RowRule(f"null:{col}", F.col(col).isNull())


def range_row(col: str, lo: float, hi: float) -> RowRule:
    """Violation when value outside [lo, hi]; nulls are not range
    violations (same semantics as :func:`range_rule`)."""
    return RowRule(
        f"range:{col}", (F.col(col) < lo) | (F.col(col) > hi)
    )


def quarantine_split(
    df: DataFrame, rules: list[RowRule]
) -> tuple[DataFrame, DataFrame]:
    """Dead-letter routing: split ``df`` into (good, quarantined) —
    quarantined rows carry ``quarantine_reasons``, the array of EVERY
    rule they violate in declaration order (the attribution an
    operator needs to fix upstream; a bare reject loses it). The
    aggregate gate (:class:`Expectations`) answers "is this batch
    healthy"; this answers "which rows, and why" without failing the
    batch — the two compose: gate on rates, quarantine the tail.

    One projection computes all predicates per row (same
    one-pass-over-the-scan shape as the counter gate); both outputs
    are filters over it — no shuffle, no second scan of the source."""
    reasons = F.filter(
        F.array(
            *[
                F.when(r.violates, F.lit(r.name)).otherwise(F.lit(None))
                for r in rules
            ]
        ),
        lambda x: x.isNotNull(),
    )
    flagged = df.withColumn("__reasons", reasons)
    good = flagged.where(F.size("__reasons") == 0).drop("__reasons")
    bad = flagged.where(F.size("__reasons") > 0).withColumnRenamed(
        "__reasons", "quarantine_reasons"
    )
    return good, bad
