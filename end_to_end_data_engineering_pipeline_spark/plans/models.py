"""Model runner: the dbt layer re-expressed (SURVEY §3 entry point 3).

Each model is a function ``(SparkSession) -> DataFrame`` registered
with a name + materialization:
  - "view"  -> createOrReplaceTempView (dbt staging layer,
               dbt/dbt_project.yml:17-18 / S11)
  - "table" -> overwrite Parquet + register view (dbt analytics layer,
               dbt_project.yml:19-21 / S12 — full rebuild each run)
  - "incremental" -> keyed MERGE into the existing Parquet table
               (dbt's incremental materialization; the reference's
               ON CONFLICT upsert, transformation/clean_data.py:222-243).
               With ``partition_col`` set the merge is partition-scoped
               (operators/merge.py merge_upsert): only partitions
               present in this run's output are read and rewritten —
               the 100 TB gold-layer path, where a daily run touches
               GBs while the table holds years.

Both Parquet materializations commit through operators/merge.py's
staged commit, so a failed build leaves the previous table in place.

Dependencies are implicit: a model's body reads upstream models via
``spark.table(name)`` (the analog of dbt ``ref()``); registration
order is execution order (the reference DAG is linear, SURVEY §3).
Views are Catalyst plan subtrees — all rewrites (pushdown, pruning)
apply through them, so "view" models cost nothing at plan time.

Declarative tests (dbt/models/analytics/schema.yml:8-58): a manifest
binds model -> column tests (not_null / unique / relationships),
executed AFTER all models build (dbt's test phase). Every test
compiles to the same relational shapes the engine already uses:
not_null -> one-pass sum(when) counters, unique -> group-count
duplicates, relationships -> left-anti join against the upstream
model. Failures raise QualityGateError (halting, like dbt's
``dbt test`` non-zero exit); every run appends one audit row per test
to ``<warehouse>/_model_test_results`` parquet.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

ModelFn = Callable[[SparkSession], DataFrame]

_AUDIT_SCHEMA = T.StructType(
    [
        T.StructField("model", T.StringType()),
        T.StructField("column", T.StringType()),
        T.StructField("test", T.StringType()),
        T.StructField("violations", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("checked_at", T.TimestampType()),
    ]
)


@dataclass
class Model:
    name: str
    fn: ModelFn
    materialization: str = "view"  # "view" | "table" | "incremental"
    unique_key: tuple[str, ...] = ()  # incremental: MERGE key
    partition_col: str | None = None  # incremental: partition-scoped merge


@dataclass(frozen=True)
class ColumnTest:
    """One declarative test bound to (model, column) — schema.yml row."""

    column: str
    test: str  # "not_null" | "unique" | "relationships"
    to: str | None = None  # relationships: upstream model name
    field: str | None = None  # relationships: key column in `to`


def not_null(column: str) -> ColumnTest:
    return ColumnTest(column, "not_null")


def unique(column: str) -> ColumnTest:
    return ColumnTest(column, "unique")


def relationships(column: str, to: str, field: str) -> ColumnTest:
    return ColumnTest(column, "relationships", to=to, field=field)


@dataclass
class ModelRunner:
    warehouse_dir: str
    models: list[Model] = field(default_factory=list)
    #: declarative manifest: model name -> column tests (schema.yml)
    manifest: dict[str, list[ColumnTest]] = field(default_factory=dict)

    def model(
        self,
        name: str,
        materialization: str = "view",
        unique_key: Sequence[str] = (),
        partition_col: str | None = None,
        tests: Sequence[ColumnTest] = (),
    ):
        if materialization == "incremental" and not unique_key:
            raise ValueError(f"incremental model {name!r} needs unique_key")

        def deco(fn: ModelFn) -> ModelFn:
            self.models.append(
                Model(name, fn, materialization, tuple(unique_key), partition_col)
            )
            if tests:
                self.manifest.setdefault(name, []).extend(tests)
            return fn

        return deco

    def run(
        self, spark: SparkSession, run_tests: bool = True
    ) -> dict[str, DataFrame]:
        """Build every model in registration order; return name -> DF.
        If a manifest is present (and run_tests), execute it after the
        build and raise QualityGateError on any violation."""
        from ..operators.merge import _commit_table, merge_upsert

        out: dict[str, DataFrame] = {}
        for m in self.models:
            df = m.fn(spark)
            path = os.path.join(self.warehouse_dir, m.name)
            if m.materialization == "table":
                _commit_table(spark, df, path)
                df = spark.read.parquet(path)
            elif m.materialization == "incremental":
                merge_upsert(
                    spark, path, df, m.unique_key, partition_col=m.partition_col
                )
                df = spark.read.parquet(path)
            df.createOrReplaceTempView(m.name)
            out[m.name] = df
        if run_tests and self.manifest:
            self.run_manifest(spark, out)
        return out

    # ------------------------------------------------------------------
    # declarative test execution (dbt test phase)
    # ------------------------------------------------------------------

    def manifest_results(
        self, spark: SparkSession, built: dict[str, DataFrame] | None = None
    ) -> list[dict]:
        """Execute every manifest test; return one result dict per test
        (model, column, test, violations). Violations semantics:
        not_null = NULL rows; unique = surplus duplicate rows
        (sum of count-1); relationships = child rows whose non-null key
        is absent from the upstream model."""
        from ..quality.expectations import relationship_violations

        tables = built or {}
        results: list[dict] = []
        for model_name, tests in self.manifest.items():
            df = tables.get(model_name) or spark.table(model_name)
            # one-pass counters for all not_null tests of this model
            nn = [t for t in tests if t.test == "not_null"]
            nn_counts: dict[str, int] = {}
            if nn:
                row = df.agg(
                    *[
                        F.sum(F.col(t.column).isNull().cast("long")).alias(t.column)
                        for t in nn
                    ]
                ).collect()[0]
                nn_counts = {t.column: int(row[t.column] or 0) for t in nn}
            for t in tests:
                if t.test == "not_null":
                    v = nn_counts[t.column]
                elif t.test == "unique":
                    v = int(
                        df.groupBy(t.column)
                        .count()
                        .where(F.col("count") > 1)
                        .agg(F.coalesce(F.sum(F.col("count") - 1), F.lit(0)))
                        .collect()[0][0]
                    )
                elif t.test == "relationships":
                    parent = tables.get(t.to) or spark.table(t.to)
                    # project+alias instead of withColumnRenamed: a
                    # rename would collide if the child already carries
                    # a column named t.field (ambiguity AnalysisException)
                    v = relationship_violations(
                        df.select(F.col(t.column).alias(t.field)),
                        parent,
                        t.field,
                    )
                else:
                    raise ValueError(f"unknown test {t.test!r}")
                results.append(
                    {
                        "model": model_name,
                        "column": t.column,
                        "test": t.test,
                        "violations": v,
                        "status": "PASS" if v == 0 else "FAIL",
                    }
                )
        return results

    def run_manifest(
        self, spark: SparkSession, built: dict[str, DataFrame] | None = None
    ) -> list[dict]:
        """manifest_results + audit append + raise on any FAIL."""
        import datetime as dt
        import json

        from ..quality.expectations import QualityGateError
        from ..schemas import local_frame

        results = self.manifest_results(spark, built)
        now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        audit_path = os.path.join(self.warehouse_dir, "_model_test_results")
        local_frame(
            spark, [{**r, "checked_at": now} for r in results], _AUDIT_SCHEMA
        ).write.mode("append").parquet(audit_path)
        failed = [r for r in results if r["status"] != "PASS"]
        if failed:
            raise QualityGateError(json.dumps(failed, default=str))
        return results
