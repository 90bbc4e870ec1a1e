"""MigrationRunner — the reference's end-to-end lifecycle as one API.

The reference's UX (README.md:38-41, SURVEY §3.1): run a generator script →
review the returned statement stream → execute it → run CHECK_MIGRATION and
expect zero deviations. This module is that loop for Spark:

    planner = MigrationPlanner(source_adapter, policy)
    plan    = planner.plan("schema_filter", "table_filter")   # pure, reviewable
    report  = MigrationRunner(spark).execute(plan, target)     # reads + writes
    # report.validation has zero DEVIATION rows on success

Planning is pure (no cluster work beyond a catalog scan); execution streams
each table source→target with the per-column transfer projection; validation
computes the metric rows of BOTH sides in one grouped aggregate and diffs
them on the driver. Tables are independent, so execution runs them
concurrently on a driver thread pool bounded by min(tables, default
parallelism, host cores) — the reference's parallel imports
(PARALLEL_STATEMENTS). Every step logs to the JobLogger (the
ETL.QUERY_WRAPPER analogue, delta_import:326-332).
"""

from __future__ import annotations

import time
from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from database_migration_spark.catalog import Catalog
from database_migration_spark.functions.parallel import map_tables
from database_migration_spark.operators.validate import (
    COMPARISON_SCHEMA,
    METRIC_ROW_CNT,
    validate_pair,
)
from database_migration_spark.plans.ddl import generate_migration_plan
from database_migration_spark.plans.statement_stream import MigrationPlan
from database_migration_spark.sources.parquet_source import read_parquet_portable
from database_migration_spark.typemap import TypeMapPolicy, map_columns


class JobLogger:
    """Job log + per-statement details (delta_import_on_primary_keys.sql:41-62
    keeps JOB_LOG/JOB_DETAILS tables; we keep rows and can persist them)."""

    def __init__(self):
        self.rows: list[dict] = []
        self._t0 = time.time()

    def log(
        self, step: str, status: str, detail: str = "", rows: int | None = None
    ) -> dict:
        """Append one row and return it, so a step whose row count is
        known only later can fill in ``rows``."""
        row = {
            "elapsed_s": round(time.time() - self._t0, 3),
            "step": step,
            "status": status,
            "detail": detail[:500],
            "rows": rows,
        }
        self.rows.append(row)
        return row

    def to_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(
            [(r["elapsed_s"], r["step"], r["status"], r["detail"], r["rows"]) for r in self.rows],
            "elapsed_s DOUBLE, step STRING, status STRING, detail STRING, rows BIGINT",
        )


@dataclass
class TableReport:
    table: str
    rows_copied: int
    deviations: int
    warnings: list[str]


@dataclass
class MigrationReport:
    tables: list[TableReport] = field(default_factory=list)
    validation: DataFrame | None = None

    @property
    def ok(self) -> bool:
        return all(t.deviations == 0 for t in self.tables)


class MigrationPlanner:
    """Pure planning: catalog scan → typed plan + statement stream."""

    def __init__(self, adapter, policy: TypeMapPolicy | None = None):
        self.adapter = adapter
        self.policy = policy or TypeMapPolicy()

    def scan(self, schema_filter: str = "%", table_filter: str = "%") -> Catalog:
        return self.adapter.scan_catalog(schema_filter, table_filter)

    def plan(
        self, target_schema: str, schema_filter: str = "%", table_filter: str = "%"
    ) -> tuple[Catalog, MigrationPlan]:
        # resolve the database list ONCE for {database}-templated dialects —
        # every fetch below would otherwise re-query sys.databases
        databases = None
        spec = getattr(self.adapter, "spec", None)
        if (
            spec is not None
            and "{database}" in getattr(spec, "catalog_sql", "")
            and hasattr(self.adapter, "list_databases")
        ):
            databases = self.adapter.list_databases()
        cat = self.adapter.scan_catalog(
            schema_filter, table_filter, databases=databases
        ) if databases is not None else self.scan(schema_filter, table_filter)
        views = None
        notes = None
        # JDBC adapters expose source views / partition metadata; the plan
        # then carries the reference's review sections end-to-end
        if hasattr(self.adapter, "fetch_views"):
            views = (
                self.adapter.fetch_views(schema_filter, table_filter, databases)
                or None
            )
        if hasattr(self.adapter, "fetch_partitions"):
            rows = self.adapter.fetch_partitions(schema_filter, table_filter, databases)
            if rows:
                from database_migration_spark.catalog import attach_partitions

                cat, notes = attach_partitions(cat, rows)
        return cat, generate_migration_plan(
            cat, target_schema, self.policy, views=views, partition_notes=notes
        )


class MigrationRunner:
    """Executes a planned migration from a readable adapter into a parquet
    target directory, then validates by metric diffing."""

    def __init__(self, spark: SparkSession, logger: JobLogger | None = None):
        self.spark = spark
        self.logger = logger or JobLogger()

    def execute(
        self,
        catalog: Catalog,
        adapter,
        target_dir: str,
        validate: bool = True,
        distinct_mode: str = "exact",
    ) -> MigrationReport:
        """Copy (and by default validate) every catalog table into
        ``target_dir``.

        Each table's read → write → metric diff is one independent task;
        the tasks run concurrently through
        :func:`~database_migration_spark.functions.parallel.map_tables`
        (at most min(tables, default parallelism, host cores) at once), so
        one table's small jobs overlap another's instead of leaving cores
        idle between stages. The metric diff is one Spark action
        (:func:`~database_migration_spark.operators.validate.validate_pair`),
        and ``rows_copied`` is the target's ROW_CNT from it; with
        ``validate=False`` a count of the target gives it instead.
        ``report.tables`` stays in (schema, table) order and each table
        logs its ``read``/``copy``/``validate`` rows in that order; the
        first table that raises aborts the run with its exception.
        ``report.validation`` holds the comparison rows as a driver-local
        DataFrame: reading it runs no metric scan.
        """
        # a table name in several schemas would write to the SAME target
        # path, the later copy silently replacing the earlier — those
        # tables get schema-qualified paths (and a warning) instead
        name_counts = Counter(t.table for t in catalog.tables)

        def migrate_one(t):
            # the detail names the schema: tables that share a name across
            # schemas run concurrently, and their log rows interleave
            qualified = f"{t.schema}.{t.table}"
            self.logger.log(f"read {t.table}", "start", qualified)
            # JDBC adapters read through the typed TableMeta contract
            # (explicit column list, transfer exprs); file adapters read by
            # name
            src = (
                adapter.read_table(t)
                if hasattr(adapter, "read_table")
                else adapter.read(t.table)
            )
            mapped = map_columns(t.columns, TypeMapPolicy())
            warnings = [w for _c, m in mapped for w in m.warnings]

            if name_counts[t.table] > 1:
                target_path = f"{target_dir}/{t.schema}_{t.table}"
                warnings.append(
                    f"{t.schema}.{t.table}: name exists in several schemas; "
                    f"written to {t.schema}_{t.table}"
                )
            else:
                target_path = f"{target_dir}/{t.table}"
            src.write.mode("overwrite").parquet(target_path)
            # the written schema from the footer: no inference job
            tgt = read_parquet_portable(self.spark, target_path)
            if not validate:
                n = tgt.count()
                self.logger.log(f"copy {t.table}", "done", qualified, rows=n)
                return TableReport(t.table, n, 0, warnings), []
            # the copy's row count is the target's ROW_CNT metric: the copy
            # row is logged when the write ends and gets its count below,
            # so counting the target runs no job of its own
            copied = self.logger.log(f"copy {t.table}", "done", qualified)
            # sidecar columns the portable reader adds (ts_ns) exist on
            # both sides here, but a JDBC source would not have them —
            # validate_pair compares the intersection and reports the
            # rest, which we surface as warnings (the copy above wrote
            # every selected column, so a one-sided column is reader
            # asymmetry, not data loss)
            rows, uncompared = validate_pair(
                src, tgt, t.table, distinct_mode=distinct_mode
            )
            warnings.extend(
                f"{t.table}.{c}: present on one side only — not metric-compared"
                for c in uncompared
            )
            n = int(next(r.value_b for r in rows if r.metric == METRIC_ROW_CNT))
            copied["rows"] = n
            dev = sum(r.status == "DEVIATION" for r in rows)
            self.logger.log(
                f"validate {t.table}",
                "ok" if dev == 0 else "DEVIATION",
                qualified,
                rows=dev,
            )
            return TableReport(t.table, n, dev, warnings), rows

        done = map_tables(
            self.spark,
            migrate_one,
            sorted(catalog.tables, key=lambda x: (x.schema, x.table)),
        )
        report = MigrationReport(tables=[rep for rep, _rows in done])
        if validate and done:
            report.validation = self.spark.createDataFrame(
                [r for _rep, rows in done for r in rows], COMPARISON_SCHEMA
            )
        return report
