"""Incremental sync: watermark + strategy + MERGE.

Reference: /root/reference/delta_import/delta_import_on_primary_keys.sql —
strategy decision at :374-435, watermark at :256-275 (max(delta_col),
loaded with ``>=`` so the boundary row re-reads: at-least-once, deduplicated
by the PK MERGE), the MERGE itself at :399-401, staging-table pattern at
:381-390.

Spark shape: without a transactional table format in this environment, MERGE
is the classic join rewrite —

    merged = staging ∪ (target ⟕anti staging on keys)

i.e. staged rows win on key collision (UPDATE), unmatched target rows are
kept, unmatched staged rows are inserts. This materializes a new target
version (full rewrite); with Delta Lake available the same planner calls
``MERGE INTO`` and touches only matched files. The strategy enum and the
at-least-once watermark semantics are identical either way.

Scale: the anti-join shuffles both sides on the PK. For a 100 TB target with
a small daily delta, broadcast the staging side (it's the small one) —
Catalyst does this automatically under the broadcast threshold; we hint it
explicitly when staging row counts are known-small.
"""

from __future__ import annotations

from dataclasses import dataclass
from enum import Enum

from pyspark.sql import DataFrame, functions as F


class SyncStrategy(Enum):
    # delta_import_on_primary_keys.sql:374-435
    TRUNCATE_FULL_LOAD = "no primary key: truncate target, full reload"
    FULL_LOAD_MERGE = "pk but no usable watermark: full load into staging, merge"
    DELTA_LOAD_MERGE = "pk + watermark: filtered load (>= watermark), merge"


@dataclass
class SyncPlan:
    strategy: SyncStrategy
    keys: tuple[str, ...]
    delta_col: str | None
    watermark: object | None
    statements: tuple[str, ...]  # human-reviewable preview (dry-run UX)


def watermark(target: DataFrame, delta_col: str):
    """max(delta_col) on the target — one agg, map-side combined
    (delta_import:256-275)."""
    return target.agg(F.max(delta_col).alias("wm")).collect()[0]["wm"]


def format_watermark_literal(value, value_type: str, dialect: str) -> str:
    """Render the watermark as a SOURCE-dialect literal for the remote WHERE
    clause (delta_import_on_primary_keys.sql:280-310 get_max_stmt_for_src):
    timestamp/date literal syntax differs per system, so the generated
    filter must speak each source's dialect — FF9 precision for
    Oracle/Exasol timestamps, CONVERT(...,121) truncated to milliseconds
    for SQL Server, STR_TO_DATE %f for MySQL, FF6 for Redshift/DB2,
    second precision for Postgres and Oracle DATE.
    """
    import datetime

    if isinstance(value, datetime.datetime):
        v = value.strftime("%Y-%m-%d %H:%M:%S.%f")
    elif isinstance(value, datetime.date):
        v = value.strftime("%Y-%m-%d 00:00:00.000000")
    else:
        v = str(value)
    t = value_type.upper()
    d = dialect.upper()
    if not (t.startswith("TIMESTAMP") or t == "DATE"):
        return f"'{v}'"
    if d == "MYSQL":
        return f"STR_TO_DATE('{v}', '%Y-%m-%d %H:%i:%s.%f')"
    if d == "SQLSERVER":
        # datetime is millisecond-precision: drop the last 3 digits (:287)
        return f"CONVERT(datetime,'{v[:-3]}', 121)"
    if d == "REDSHIFT":
        return f"to_timestamp('{v}', 'YYYY-MM-DD HH24:MI:SS.FF6')"
    if d == "DB2":
        return f"to_date('{v}','YYYY-MM-DD HH24.MI.SS.FF6')"
    if d in ("POSTGRES", "POSTGRESQL"):
        return f"to_date('{v}', 'YYYY-MM-DD HH24:MI:SS')"
    if d == "ORACLE" and t == "DATE":
        return f"to_date('{v}', 'YYYY-MM-DD HH24:MI:SS')"
    # ORACLE TIMESTAMP* and the EXASOL default
    return f"to_timestamp('{v}', 'YYYY-MM-DD HH24:MI:SS.FF9')"


def decide_strategy(
    keys: tuple[str, ...] | None, delta_col: str | None, wm
) -> SyncStrategy:
    if not keys:
        return SyncStrategy.TRUNCATE_FULL_LOAD
    if delta_col is None or wm is None:
        return SyncStrategy.FULL_LOAD_MERGE
    return SyncStrategy.DELTA_LOAD_MERGE


def merge_upsert(
    target: DataFrame,
    staging: DataFrame,
    keys: list[str],
    broadcast_staging: bool = False,
) -> DataFrame:
    """MERGE: staged rows replace key-matched target rows; the rest unions.

    Column sets may differ (cross_check_column_list, delta_import:180-192):
    only columns present in BOTH sides are kept — schema intersection, in
    target column order.
    """
    common = [c for c in target.columns if c in set(staging.columns)]
    t = target.select(common)
    s = staging.select(common)
    anti_side = F.broadcast(s) if broadcast_staging else s
    survivors = t.join(anti_side.select(keys), keys, "left_anti")
    return s.unionByName(survivors)


def plan_sync(
    source: DataFrame,
    target: DataFrame,
    keys: tuple[str, ...] | None,
    delta_col: str | None,
    source_dialect: str | None = None,
    delta_col_type: str = "TIMESTAMP",
) -> SyncPlan:
    """Decide the strategy and produce the reviewable plan (dry-run mode —
    delta_import:439-463 returns exactly such a preview table).

    With ``source_dialect`` set, the staging filter renders the watermark in
    that source system's literal syntax (remote-SQL parity mode) — the
    filter the reference pushes into the source's WHERE clause; otherwise a
    neutral quoted literal.
    """
    wm = watermark(target, delta_col) if delta_col and keys else None
    strat = decide_strategy(keys, delta_col, wm)
    stmts: list[str]
    if strat is SyncStrategy.TRUNCATE_FULL_LOAD:
        stmts = ["TRUNCATE target", "INSERT INTO target SELECT * FROM source"]
    elif strat is SyncStrategy.FULL_LOAD_MERGE:
        stmts = [
            "CREATE staging LIKE target",
            "INSERT INTO staging SELECT * FROM source",
            f"MERGE INTO target USING staging ON {list(keys or ())}",
            "DROP staging",
        ]
    else:
        lit = (
            format_watermark_literal(wm, delta_col_type, source_dialect)
            if source_dialect
            else f"'{wm}'"
        )
        stmts = [
            "CREATE staging LIKE target",
            f"INSERT INTO staging SELECT * FROM source WHERE {delta_col} >= {lit}",
            f"MERGE INTO target USING staging ON {list(keys or ())}",
            "DROP staging",
        ]
    return SyncPlan(strat, tuple(keys or ()), delta_col, wm, tuple(stmts))


def execute_sync(
    source: DataFrame,
    target: DataFrame,
    keys: tuple[str, ...] | None,
    delta_col: str | None,
) -> DataFrame:
    """Run the decided strategy, returning the new target content."""
    plan = plan_sync(source, target, keys, delta_col)
    return apply_sync_plan(source, target, plan)


def apply_sync_plan(
    source: DataFrame, target: DataFrame, plan: SyncPlan
) -> DataFrame:
    """Execute an already-decided :class:`SyncPlan` (the preview the user
    reviewed IS the plan that runs — the reference's dry-run-then-execute
    contract, delta_import_on_primary_keys.sql:439-463)."""
    if plan.strategy is SyncStrategy.TRUNCATE_FULL_LOAD:
        return source.select(target.columns)
    if plan.strategy is SyncStrategy.FULL_LOAD_MERGE:
        return merge_upsert(target, source, list(plan.keys))
    staging = source.where(F.col(plan.delta_col) >= F.lit(plan.watermark))
    return merge_upsert(target, staging, list(plan.keys))


@dataclass
class SyncReport:
    table: str
    plan: SyncPlan
    rows_after: int
    deviations: int | None  # None when validation was skipped
    uncompared: tuple[str, ...] = ()


def sync_table(
    spark,
    adapter,
    target_root: str,
    table: str,
    keys: tuple[str, ...] | None = None,
    delta_col: str | None = None,
    dry_run: bool = False,
    validate: bool = True,
    distinct_mode: str = "exact",
) -> SyncPlan | SyncReport:
    """The DELTA_IMPORT executor workflow end-to-end for one table
    (delta_import_on_primary_keys.sql:374-435): resolve the table and its
    PK from the source catalog, decide the strategy against the parquet
    target under ``target_root``, and either return the reviewable plan
    (``dry_run`` — the reference's execute_statements=false preview,
    :439-463) or run it and metric-validate the result.

    Keys default to the source catalog's primary key — the same place the
    reference reads them (delta_import:157-177); pass ``keys`` explicitly
    to override. A target table that does not exist yet degrades to the
    full-load strategy (first sync bootstraps the target).

    The merge materializes a NEW target version and swaps it in via a
    tmp-dir double-write (the new content is derived lazily from the old
    files, so an in-place overwrite would read-while-deleting); with a
    transactional table format the same plan calls MERGE INTO and touches
    only matched files.
    """
    import os

    from database_migration_spark.sources.parquet_source import (
        ParquetSource,
        read_parquet_portable,
    )

    cat = adapter.scan_catalog("%", table, include_keys=True)
    meta = next(
        (t for t in cat.tables if t.table.upper() == table.upper()), None
    )
    if meta is None:
        raise ValueError(
            f"table {table!r} not found at the source "
            f"(saw {[t.table for t in cat.tables]})"
        )
    from database_migration_spark.sources.base import read_any

    source = read_any(adapter, meta)
    if keys is None and meta.primary_key is not None:
        keys = meta.primary_key.columns
    # case-fold catalog key names (Derby: O_ORDERKEY) onto the actual
    # source DataFrame columns so the merge join resolves
    by_upper = {c.upper(): c for c in source.columns}
    keys = tuple(by_upper.get(k.upper(), k) for k in keys or ()) or None

    tgt_src = ParquetSource(spark, target_root)
    exists = (
        os.path.isdir(target_root) and meta.table in tgt_src.list_tables()
    )
    if exists:
        path = tgt_src.table_path(meta.table)
        target = tgt_src.read(meta.table)
    else:
        path = os.path.join(target_root, meta.table)
        target = spark.createDataFrame([], source.schema)

    delta_type = next(
        (
            c.source_type.upper()
            for c in meta.columns
            if delta_col and c.name.upper() == delta_col.upper()
        ),
        "TIMESTAMP",
    )
    dialect = getattr(getattr(adapter, "spec", None), "name", None)
    plan = plan_sync(
        source, target, keys, delta_col,
        source_dialect=dialect, delta_col_type=delta_type,
    )
    if dry_run:
        return plan

    merged = apply_sync_plan(source, target, plan)
    from database_migration_spark.functions.io import publish_parquet

    publish_parquet(merged, path, path.rstrip("/") + ".sync-tmp")

    fresh = read_parquet_portable(spark, path)  # footer schema, no inference job
    if not validate:
        return SyncReport(meta.table, plan, fresh.count(), None)
    from database_migration_spark.operators.validate import (
        METRIC_ROW_CNT,
        validate_pair,
    )

    # one Spark action: the target's ROW_CNT metric is rows_after
    rows, unc = validate_pair(
        source, fresh, meta.table, distinct_mode=distinct_mode
    )
    return SyncReport(
        meta.table,
        plan,
        int(next(r.value_b for r in rows if r.metric == METRIC_ROW_CNT)),
        sum(r.status == "DEVIATION" for r in rows),
        tuple(unc),
    )
