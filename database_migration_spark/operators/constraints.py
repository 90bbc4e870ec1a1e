"""Constraint migration + data-driven key discovery.

Reference: /root/reference/post_load_optimization/set_primary_keys.sql:10-379
migrates PK metadata from a source catalog onto loaded tables (constraints
created DISABLED — order-independent load, mysql_to_exasol.sql:38-40).

Spark/parquet has no enforced constraints, so:
- :func:`constraint_statements` renders the metadata as the reviewable
  ALTER stream (parity surface);
- :func:`verify_primary_key` checks a declared PK actually holds in the
  data (count == countDistinct(keys) and no NULLs) — the enforcement the
  engine won't do;
- :func:`suggest_primary_keys` discovers single-column PK candidates from
  one metric scan (uniqueness + non-null) — the data-driven spin the
  post-load optimizers apply elsewhere;
- :func:`suggest_foreign_key` tests referential containment in the data
  (zero orphans into a unique parent column) — FK discovery for sources
  whose catalogs declare no keys, the same role set_primary_keys.sql plays
  for PKs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from database_migration_spark.catalog import Catalog
from database_migration_spark.plans.statement_stream import MigrationPlan, Statement


def constraint_statements(catalog: Catalog, target_schema: str) -> MigrationPlan:
    plan = MigrationPlan()
    sec = plan.add_section("PRIMARY KEYS (DISABLED)")
    fks = plan.add_section("FOREIGN KEYS (DISABLED)")
    for t in sorted(catalog.tables, key=lambda x: x.table):
        if t.primary_key:
            cols = ", ".join(f'"{c}"' for c in t.primary_key.columns)
            sec.statements.append(
                Statement(
                    f'ALTER TABLE "{target_schema}"."{t.table}" '
                    f"ADD PRIMARY KEY ({cols}) DISABLE;"
                )
            )
        for fk in t.foreign_keys:
            cols = ", ".join(f'"{c}"' for c in fk.columns)
            rcols = ", ".join(f'"{c}"' for c in fk.ref_columns)
            fks.statements.append(
                Statement(
                    f'ALTER TABLE "{target_schema}"."{t.table}" ADD FOREIGN KEY '
                    f'({cols}) REFERENCES "{target_schema}"."{fk.ref_table}" ({rcols}) DISABLE;'
                )
            )
    return plan


def verify_primary_key(df: DataFrame, keys: list[str]) -> dict:
    """Does the declared PK hold? One aggregate: total rows, distinct key
    tuples, rows with any NULL key part."""
    key_struct = F.struct(*[F.col(k) for k in keys])
    any_null = None
    for k in keys:
        c = F.col(k).isNull()
        any_null = c if any_null is None else (any_null | c)
    row = df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct(key_struct).alias("n_distinct"),
        F.sum(any_null.cast("long")).alias("n_null_keys"),
    ).collect()[0]
    return {
        "n_rows": row.n_rows,
        "n_distinct": row.n_distinct,
        "n_null_keys": row.n_null_keys or 0,
        "holds": row.n_rows == row.n_distinct and (row.n_null_keys or 0) == 0,
    }


def suggest_foreign_key(
    child: DataFrame,
    child_col: str,
    parent: DataFrame,
    parent_col: str,
    label: str | None = None,
) -> DataFrame:
    """One-row FK candidacy report for child.child_col → parent.parent_col.

    is_candidate ⇔ zero orphans (every non-null child value exists in the
    parent column — SQL FK semantics ignore NULLs) AND the parent column is
    unique (a legal FK target). All three inputs stay distributed: two
    narrow single-column aggregates plus one left-anti join on the
    candidate key (shuffle on that key; broadcast if the parent is dim-
    sized — Catalyst picks it under the threshold). Nothing collects.
    """
    lbl = label or f"{child_col}->{parent_col}"
    c = child.select(F.col(child_col).alias("v"))
    p = parent.select(F.col(parent_col).alias("pv"))
    child_agg = c.agg(
        F.count(F.lit(1)).alias("n_child_rows"),
        F.count("v").alias("n_child_nonnull"),
        F.count_distinct(F.col("v")).alias("n_child_distinct"),
    )
    parent_agg = p.agg(
        F.count("pv").alias("n_parent_rows"),
        F.count_distinct(F.col("pv")).alias("n_parent_distinct"),
    )
    orphans = (
        c.where(F.col("v").isNotNull())
        .join(p.distinct(), F.col("v") == F.col("pv"), "left_anti")
        .agg(F.count(F.lit(1)).alias("n_orphans"))
    )
    return (
        child_agg.crossJoin(parent_agg)
        .crossJoin(orphans)
        .select(
            F.lit(lbl).alias("candidate"),
            "n_child_rows",
            "n_child_nonnull",
            "n_child_distinct",
            "n_parent_rows",
            "n_parent_distinct",
            "n_orphans",
            (
                (F.col("n_orphans") == 0)
                & (F.col("n_parent_rows") == F.col("n_parent_distinct"))
            ).alias("is_candidate"),
        )
    )


def suggest_primary_keys(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Single-column PK candidates from one scan: unique + non-null.

    Returns (column_name, n_rows, n_distinct, n_nulls, is_candidate) — the
    distinct counts run in one narrow Expand aggregate like the validator's.
    """
    from database_migration_spark.functions.parallel import fan_out

    cols = columns or df.columns
    df = fan_out(df)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.count_distinct(F.col(c)).alias(f"d__{c}"))
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"n__{c}"))
    row = df.agg(*aggs).collect()[0]
    out = []
    for c in cols:
        d, n = row[f"d__{c}"], row[f"n__{c}"] or 0
        out.append((c, row.n_rows, d, n, bool(d == row.n_rows and n == 0)))
    return df.sparkSession.createDataFrame(
        out,
        "column_name STRING, n_rows BIGINT, n_distinct BIGINT, n_nulls BIGINT, is_candidate BOOLEAN",
    )


def pk_check(
    df: DataFrame, table_name: str, constraint_name: str, keys: list[str]
) -> DataFrame:
    """One-row PK validation: (table_name, constraint_name, kind='PK',
    n_rows, n_distinct, n_bad) where n_distinct counts distinct key
    tuples among rows with every key part non-null, so
    ``n_bad = n_rows - n_distinct`` is exactly duplicate-excess rows plus
    NULL-key rows — the reference's post-load PK enforcement
    (set_primary_keys.sql) expressed as a single-scan aggregate (the
    conditional count_distinct skips NULL-key rows by construction)."""
    from database_migration_spark.functions.parallel import SPLIT_BYTES, fan_out

    # expressions render as SQL text (the r12 convention: ~130 py4j
    # round-trips per check otherwise, × 17 checks per report)
    non_null = " AND ".join(f"`{k}` IS NOT NULL" for k in keys)
    tup = f"named_struct({', '.join(_name_lit(k) + ', `' + k + '`' for k in keys)})"
    # project to the key columns, then hash fan-out ONLY above a size
    # floor: for a PK every tuple is distinct, so map-side combine saves
    # nothing and the fan's parallel first phase only pays once one task's
    # partial-distinct becomes the straggler (r12: 0.63 s unfanned vs
    # 0.80 s fanned on sf0.1 lineitem; r13: at ×100 the input scans as
    # ~100 partitions and the partition probe declines to fan — SCALE.md
    # pk_fan_x100)
    agg = fan_out(
        df.selectExpr([f"`{k}`" for k in keys]),
        key=list(keys),
        min_bytes=SPLIT_BYTES,
    ).agg(
        F.expr("bigint(count(1)) AS n_rows"),
        F.expr(
            f"bigint(count(DISTINCT CASE WHEN {non_null} THEN {tup} END))"
            " AS n_distinct"
        ),
    )
    return agg.selectExpr(
        f"{_name_lit(table_name)} AS table_name",
        f"{_name_lit(constraint_name)} AS constraint_name",
        "'PK' AS kind",
        "n_rows",
        "n_distinct",
        "bigint(n_rows - n_distinct) AS n_bad",
    )


def _name_lit(s: str) -> str:
    """A catalog identifier as a Spark-SQL string literal (backslash and
    quote escaped — Spark string literals are NOT ANSI-quoted)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def fk_check(
    child: DataFrame,
    parent: DataFrame,
    table_name: str,
    constraint_name: str,
    fk_col: str,
    ref_col: str,
) -> DataFrame:
    """One-row FK validation: n_rows / n_distinct over the child's
    non-null FK values (SQL FK semantics ignore NULLs), n_bad = orphan
    row count. ONE scan of the child: groupBy(value) → (value, cnt) with
    map-side combine, then a left join against the distinct parent key
    (broadcast when the parent is dim-sized) feeds all three stats from
    the same grouped relation — n_rows = Σcnt, n_distinct = row count,
    n_bad = Σcnt over unmatched values. (The previous shape scanned the
    child twice — a stats aggregate plus a separate anti-join — and paid
    a two-phase count_distinct on top; r12 opt round.) Nothing collects."""
    c = child.selectExpr(f"`{fk_col}` AS v").where("v IS NOT NULL")
    g = c.groupBy("v").agg(F.expr("count(1) AS cnt"))
    p = (
        parent.selectExpr(f"`{ref_col}` AS v")
        .where("v IS NOT NULL")
        .distinct()
        .selectExpr("v", "1 AS _hit")
    )
    agg = g.join(p, "v", "left").agg(
        F.expr("bigint(coalesce(sum(cnt), 0)) AS n_rows"),
        F.expr("bigint(count(1)) AS n_distinct"),
        F.expr(
            "bigint(coalesce(sum(CASE WHEN _hit IS NULL THEN cnt END), 0))"
            " AS n_bad"
        ),
    )
    return agg.selectExpr(
        f"{_name_lit(table_name)} AS table_name",
        f"{_name_lit(constraint_name)} AS constraint_name",
        "'FK' AS kind",
        "n_rows",
        "n_distinct",
        "n_bad",
    )


def catalog_constraint_rows(catalog: Catalog) -> tuple[list[dict], list[dict]]:
    """A scanned catalog's keys, re-expressed in the dialect pk_sql/fk_sql
    row contracts :func:`constraint_report` consumes — the bridge that
    lets ANY adapter's ``scan_catalog(include_keys=True)`` drive the
    violation sweep (the CLI ``check`` path)."""
    pk_rows: list[dict] = []
    fk_rows: list[dict] = []
    for t in catalog.tables:
        if t.primary_key is not None:
            for i, c in enumerate(t.primary_key.columns, 1):
                pk_rows.append({
                    "schema_name": t.schema,
                    "table_name": t.table,
                    "constraint_name": t.primary_key.name,
                    "column_name": c,
                    "column_position": i,
                })
        for fk in t.foreign_keys:
            for i, (c, rc) in enumerate(
                zip(fk.columns, fk.ref_columns), 1
            ):
                fk_rows.append({
                    "schema_name": t.schema,
                    "table_name": t.table,
                    "fk_name": fk.name,
                    "fk_column": c,
                    "ref_schema": fk.ref_schema,
                    "ref_table": fk.ref_table,
                    "ref_column": rc,
                    "col_position": i,
                })
    return pk_rows, fk_rows


def constraint_report(
    tables: dict[str, DataFrame],
    pk_rows: list[dict],
    fk_rows: list[dict],
) -> DataFrame:
    """Catalog-driven validation suite: one report row per declared PK/FK
    (the same row shape both checks emit), unioned. ``pk_rows`` /
    ``fk_rows`` use the dialect catalog row contracts
    (sources/dialects.py pk_sql / fk_sql), so any scanned catalog drives
    this directly — the fixture catalog (parquet_source.TESTDATA_*_ROWS)
    is just one instance. Scale: each check is an independent aggregate /
    anti-join over its own table — at 100 TB they run as separate jobs
    per constraint, which is exactly how a migration validation sweep is
    operated (the report itself is catalog-sized).

    The whole report renders as ONE parameterized ``spark.sql`` text
    (every branch the same algebra as :func:`pk_check` /
    :func:`fk_check`, which remain the standalone single-check API):
    building 17 checks through per-check DataFrame calls cost ~130
    plan-construction round-trips of pure driver time per report —
    measured r12, ~0.9 s of the query's 3.1 s. One text, one parse."""
    from database_migration_spark.functions.parallel import SPLIT_BYTES, fan_out

    branches: list[str] = []
    params: dict[str, DataFrame] = {}

    def _ref(tbl: str) -> str:
        key = f"t_{tbl}"
        params[key] = tables[tbl]
        return "{" + key + "}"

    pks: dict[tuple, list] = {}
    for r in sorted(pk_rows, key=lambda r: (r["table_name"], r["column_position"])):
        pks.setdefault((r["table_name"], r["constraint_name"]), []).append(
            r["column_name"]
        )
    for i, ((tbl, name), cols) in enumerate(sorted(pks.items())):
        if tbl not in tables:
            continue
        non_null = " AND ".join(f"`{k}` IS NOT NULL" for k in cols)
        tup = (
            "named_struct("
            + ", ".join(_name_lit(k) + ", `" + k + "`" for k in cols)
            + ")"
        )
        # the size-gated key fan-out rides in as the branch's own param
        # (same decision logic as pk_check; no-op below the floor)
        key = f"pk_{i}"
        params[key] = fan_out(
            tables[tbl].selectExpr([f"`{k}`" for k in cols]),
            key=list(cols),
            min_bytes=SPLIT_BYTES,
        )
        branches.append(
            "SELECT table_name, constraint_name, kind, n_rows, n_distinct,"
            " bigint(n_rows - n_distinct) AS n_bad FROM (SELECT"
            f" {_name_lit(tbl)} AS table_name,"
            f" {_name_lit(name)} AS constraint_name, 'PK' AS kind,"
            " bigint(count(1)) AS n_rows,"
            f" bigint(count(DISTINCT CASE WHEN {non_null} THEN {tup} END))"
            " AS n_distinct FROM {" + key + "})"
        )
    for r in sorted(fk_rows, key=lambda r: (r["table_name"], r["fk_name"])):
        if r["table_name"] not in tables or r["ref_table"] not in tables:
            continue
        fkc, rc = r["fk_column"], r["ref_column"]
        branches.append(
            f"SELECT {_name_lit(r['table_name'])} AS table_name,"
            f" {_name_lit(r['fk_name'])} AS constraint_name, 'FK' AS kind,"
            " bigint(coalesce(sum(cnt), 0)) AS n_rows,"
            " bigint(count(1)) AS n_distinct,"
            " bigint(coalesce(sum(CASE WHEN _hit IS NULL THEN cnt END), 0))"
            " AS n_bad FROM"
            f" (SELECT v, count(1) AS cnt FROM (SELECT `{fkc}` AS v FROM "
            + _ref(r["table_name"])
            + f" WHERE `{fkc}` IS NOT NULL) GROUP BY v) g"
            " LEFT JOIN (SELECT v, 1 AS _hit FROM"
            f" (SELECT DISTINCT `{rc}` AS v FROM "
            + _ref(r["ref_table"])
            + f" WHERE `{rc}` IS NOT NULL)) p ON g.v = p.v"
        )
    if not branches:
        raise ValueError(
            "no catalog PK/FK row matches a loaded table — check name "
            "casing between the catalog rows and the tables dict"
        )
    spark = next(iter(tables.values())).sparkSession
    return spark.sql("\nUNION ALL\n".join(branches), **params)
