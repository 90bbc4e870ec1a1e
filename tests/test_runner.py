"""End-to-end migration runner + constraints tests (SURVEY §7.2 minimum
slice: catalog → typemap → copy → validate with zero deviations)."""

import os
import threading

import pytest
from pyspark.sql import functions as F

from database_migration_spark.operators.constraints import (
    suggest_primary_keys,
    verify_primary_key,
)
from database_migration_spark.runner import JobLogger, MigrationPlanner, MigrationRunner
from database_migration_spark.sources.parquet_source import ParquetSource


def test_full_migration_roundtrip(spark, sf_smoke, tmp_path):
    src = ParquetSource(spark, sf_smoke)
    planner = MigrationPlanner(src)
    cat, plan = planner.plan("TGT", table_filter="nation,region,events")
    assert len(cat.tables) == 3
    sql = plan.to_sql()
    assert 'CREATE TABLE "TGT"."NATION"' in sql and "IMPORT INTO" in sql

    logger = JobLogger()
    runner = MigrationRunner(spark, logger)
    report = runner.execute(cat, src, str(tmp_path / "tgt"))
    assert report.ok, [
        (t.table, t.deviations) for t in report.tables
    ]
    assert {t.table for t in report.tables} == {"nation", "region", "events"}
    assert report.validation.filter(F.col("status") == "DEVIATION").count() == 0
    # the comparison rows were collected once during execute: reading the
    # report is a driver-local scan, not a re-run of the metric pipeline
    assert report.validation.inputFiles() == []
    # logger captured start/copy/validate per table
    log = logger.to_df(spark)
    assert log.filter(F.col("step").startswith("validate")).count() == 3
    # if the source stores TIMESTAMP(NANOS), the copy must carry the exact
    # int64 sidecar; a µs-precision source needs (and gets) no sidecar
    from database_migration_spark.sources.parquet_source import (
        nanos_timestamp_columns,
    )

    ev = spark.read.parquet(str(tmp_path / "tgt" / "events"))
    src_ns = nanos_timestamp_columns(f"{sf_smoke}/events.parquet")
    for c in src_ns:
        assert f"{c}_ns" in ev.columns
    expected_sidecars = {f"{c}_ns" for c in src_ns}
    assert {c for c in ev.columns if c.endswith("_ns")} == expected_sidecars


def test_nanos_sidecar_roundtrip(spark, tmp_path):
    """The TIMESTAMP(NANOS) legacy path: µs-truncated rebuild + exact int64
    sidecar (the testdata is timestamp[us] since round 3, so this path gets
    no coverage from the fixtures — exercise it with a synthetic ns file)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from database_migration_spark.sources.parquet_source import (
        nanos_timestamp_columns,
        read_parquet_portable,
    )

    nanos = [
        1_700_000_000_123_456_789,  # sub-µs residue 789 must truncate away
        1_700_000_000_999_999_999,
        7_777,  # 1970-01-01 00:00:00.000007777
    ]
    tbl = pa.table(
        {
            "id": pa.array([1, 2, 3], type=pa.int64()),
            "ts": pa.array(nanos, type=pa.timestamp("ns")),
        }
    )
    path = str(tmp_path / "ns_events.parquet")
    pq.write_table(tbl, path)

    assert nanos_timestamp_columns(path) == ["ts"]
    df = read_parquet_portable(spark, path)
    assert "ts_ns" in df.columns
    rows = {r["id"]: r for r in df.collect()}
    for i, ns in enumerate(nanos, start=1):
        assert rows[i]["ts_ns"] == ns  # sidecar is the exact int64
    # rebuilt ts = integer div-1000 truncation (never double rounding)
    us = {
        r["id"]: r["us"]
        for r in df.select(
            "id", F.unix_micros(F.col("ts")).alias("us")
        ).collect()
    }
    for i, ns in enumerate(nanos, start=1):
        assert us[i] == ns // 1000


def test_portable_read_takes_spark_footer_schema(spark, tmp_path):
    """A Spark-written dataset reads with its footer's row schema — no
    schema-inference job — and that schema equals plain inference, the
    partition column and nullability included."""
    import uuid

    from database_migration_spark.sources.parquet_source import (
        read_parquet_portable,
    )

    path = str(tmp_path / "store")
    spark.range(12).selectExpr(
        "id", "cast(id % 3 AS INT) AS _pt", "array(id) AS a",
        "map('k', id) AS m", "named_struct('x', id) AS s",
        "timestamp_ntz '2024-01-02 03:04:05' AS ts",
    ).write.partitionBy("_pt").parquet(path)
    sc = spark.sparkContext
    group = f"portable-read-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "footer schema read", False)
    try:
        df = read_parquet_portable(spark, path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
    assert df.schema == spark.read.parquet(path).schema
    assert df.count() == 12


def test_portable_read_skips_hidden_entries(spark, tmp_path):
    """The footer comes from a file Spark's listing reads: a ``.``-prefixed
    swap aside copy or a ``_temporary`` directory holding another schema
    never supplies it."""
    from database_migration_spark.sources.parquet_source import (
        _first_parquet_file,
        read_parquet_portable,
    )

    path = tmp_path / "store"
    spark.range(6).selectExpr("id", "cast(id % 2 AS INT) AS _pt").write.partitionBy(
        "_pt"
    ).parquet(str(path))
    other = spark.range(3).selectExpr("cast(id AS STRING) AS other")
    for hidden in ("._pt=0.old", "_temporary"):
        other.write.parquet(str(path / hidden))
    first = _first_parquet_file(str(path))
    assert "/_pt=" in first and ".old" not in first and "_temporary" not in first
    df = read_parquet_portable(spark, str(path))
    assert df.columns == ["id", "_pt"]
    assert sorted(r.id for r in df.collect()) == list(range(6))


def test_verify_primary_key(spark, sf_smoke):
    orders = spark.read.parquet(f"{sf_smoke}/orders.parquet")
    assert verify_primary_key(orders, ["o_orderkey"])["holds"]
    v = verify_primary_key(orders, ["o_orderstatus"])
    assert not v["holds"] and v["n_distinct"] < v["n_rows"]


def test_suggest_primary_keys(spark, sf_smoke):
    orders = spark.read.parquet(f"{sf_smoke}/orders.parquet")
    sugg = {r.column_name: r.is_candidate for r in suggest_primary_keys(orders).collect()}
    assert sugg["o_orderkey"] is True
    assert sugg["o_orderstatus"] is False


def test_constraint_statement_stream(spark):
    from database_migration_spark.catalog import Catalog, ColumnMeta, KeyMeta, TableMeta
    from database_migration_spark.operators.constraints import constraint_statements

    cols = (ColumnMeta("s", "t", "id", 1, "bigint"),)
    pk = KeyMeta("s", "t", "pk", "PRIMARY KEY", ("id",))
    fk = KeyMeta("s", "t", "fk", "FOREIGN KEY", ("id",), "s", "other", ("oid",))
    cat = Catalog([TableMeta("s", "t", cols, primary_key=pk, foreign_keys=(fk,))])
    sql = constraint_statements(cat, "TGT").to_sql()
    assert 'ADD PRIMARY KEY ("id") DISABLE' in sql
    assert 'REFERENCES "TGT"."other" ("oid") DISABLE' in sql


def test_planner_carries_views_and_partitions(spark):
    """MigrationPlanner surfaces adapter-provided views and partition
    metadata in the statement stream end-to-end."""
    from database_migration_spark.runner import MigrationPlanner
    from database_migration_spark.sources.jdbc import JdbcSourceAdapter

    class FakeMysql(JdbcSourceAdapter):
        def _fetch_rows(self, sql):
            if "information_schema.columns" in sql and "key_column_usage" not in sql:
                return [
                    {"schema_name": "app", "table_name": "t", "column_name": "id",
                     "ordinal_position": 1, "data_type": "bigint",
                     "is_nullable": "NO"}
                ]
            if "key_column_usage" in sql and "referenced" not in sql.lower():
                return [
                    {"schema_name": "app", "table_name": "t",
                     "constraint_name": None, "column_name": "id",
                     "column_position": 1}
                ]
            if "information_schema.views" in sql:
                return [
                    {"schema_name": "app", "view_name": "v1",
                     "view_def": "SELECT id FROM t"}
                ]
            if "information_schema.partitions" in sql:
                return [
                    {"schema_name": "app", "table_name": "t",
                     "partition_method": "HASH", "partition_expression": "`id`"},
                    {"schema_name": "app", "table_name": "t2",
                     "partition_method": "RANGE",
                     "partition_expression": "to_days(d)"},
                ]
            return []

    planner = MigrationPlanner(FakeMysql(spark, "mysql"))
    cat, plan = planner.plan("TGT")
    sql = plan.to_sql()
    assert 'ADD CONSTRAINT "T_PK" PRIMARY KEY ("ID")' in sql  # synthesized name
    assert 'PARTITION BY "ID";' in sql
    assert "to_days(d)) not auto-mapped" in sql
    assert "-- app.v1" in sql and "-- SELECT id FROM t" in sql


def _colliding_catalog():
    from database_migration_spark.catalog import Catalog, ColumnMeta, TableMeta

    return Catalog(tables=[
        TableMeta(schema=s, table="t", columns=(ColumnMeta(s, "t", "id", 1, "bigint"),))
        for s in ("S1", "S2")
    ])


class _RangeAdapter:
    """Schema S1 holds ids 100-104, every other schema ids 200-204."""

    def __init__(self, spark):
        self.spark = spark

    def read_table(self, t):
        base = 100 if t.schema == "S1" else 200
        return self.spark.range(base, base + 5)


def test_runner_schema_qualifies_colliding_table_paths(spark, tmp_path):
    """Two schemas carrying the same table name must land in DISTINCT
    target paths (schema-prefixed) with a warning — not silently overwrite
    one another."""
    dest = str(tmp_path / "multi")
    report = MigrationRunner(spark).execute(
        _colliding_catalog(), _RangeAdapter(spark), dest, validate=False
    )
    a = spark.read.parquet(f"{dest}/S1_t")
    b = spark.read.parquet(f"{dest}/S2_t")
    assert {r.id for r in a.collect()} == set(range(100, 105))
    assert {r.id for r in b.collect()} == set(range(200, 205))
    assert any("several schemas" in w for t in report.tables for w in t.warnings)


def _pool_threads():
    return [t for t in threading.enumerate() if t.name.startswith("map_tables")]


def _fixture_catalog(src, tables):
    return MigrationPlanner(src).scan().filter("%", tables)


@pytest.mark.skipif(
    len(os.sched_getaffinity(0)) < 2, reason="overlap needs two usable cores"
)
def test_runner_reads_tables_concurrently(spark, sf_smoke, tmp_path):
    """Two tables' reads must be in flight at once: each read waits for the
    other at a two-party barrier, which a one-table-at-a-time loop never
    passes (the first read times out)."""
    inner = ParquetSource(spark, sf_smoke)
    barrier = threading.Barrier(2, timeout=30)

    class BarrierSource:
        def read(self, table):
            barrier.wait()
            return inner.read(table)

    cat = _fixture_catalog(inner, "region,nation")
    report = MigrationRunner(spark).execute(cat, BarrierSource(), str(tmp_path / "t"))
    assert report.ok
    assert [t.table for t in report.tables] == ["nation", "region"]
    assert not _pool_threads()


def test_runner_reraises_first_table_failure(spark, sf_smoke, tmp_path):
    """A table that raises aborts execute with that very exception, and no
    pool thread outlives the call."""
    inner = ParquetSource(spark, sf_smoke)
    boom = RuntimeError("region source unreachable")

    class FailingSource:
        def read(self, table):
            if table == "region":
                raise boom
            return inner.read(table)

    cat = _fixture_catalog(inner, "region,nation,customer")
    with pytest.raises(RuntimeError) as err:
        MigrationRunner(spark).execute(cat, FailingSource(), str(tmp_path / "t"))
    assert err.value is boom
    assert not _pool_threads()


def test_map_tables_order_and_cancellation(spark):
    """Results come back in input order whatever order items finish in;
    a failure raises unchanged and cancels the items not yet started."""
    import random
    import time

    from database_migration_spark.functions.parallel import map_tables

    def slow_square(x):
        time.sleep(random.random() / 50)
        return x * x

    assert map_tables(spark, slow_square, range(40)) == [x * x for x in range(40)]
    assert map_tables(spark, slow_square, []) == []

    started = []
    boom = ValueError("item 0")

    def first_fails(x):
        started.append(x)
        if x == 0:
            raise boom
        time.sleep(0.5)

    with pytest.raises(ValueError) as err:
        map_tables(spark, first_fails, range(40))
    assert err.value is boom
    assert len(started) < 40 and not _pool_threads()


def test_job_logger_keeps_every_concurrent_row():
    """JobLogger.log from many threads at a tiny switch interval loses no
    row and keeps each thread's rows in its own order."""
    import sys

    logger = JobLogger()
    n_threads, n_rows = 16, 300

    def log_many(i):
        for j in range(n_rows):
            logger.log(f"step {i}", "done", rows=j)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=log_many, args=(i,)) for i in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(interval)
    assert len(logger.rows) == n_threads * n_rows
    for i in range(n_threads):
        mine = [r["rows"] for r in logger.rows if r["step"] == f"step {i}"]
        assert mine == list(range(n_rows))


def _run_shape(spark, cat, adapter, dest):
    logger = JobLogger()
    report = MigrationRunner(spark, logger).execute(cat, adapter, dest)
    steps: dict[str, list[str]] = {}
    for r in logger.rows:
        verb, table = r["step"].split(" ", 1)
        assert r["detail"].endswith(f".{table}")
        steps.setdefault(r["detail"], []).append(verb)
    rows = sorted(tuple(r) for r in report.validation.collect())
    return [vars(t) for t in report.tables], steps, rows


@pytest.mark.parametrize("case", ["fixture", "colliding"])
def test_runner_concurrent_matches_serial(spark, sf_smoke, tmp_path, monkeypatch, case):
    """The concurrent run reports exactly what a one-table-at-a-time run
    does (one usable core makes the pool a serial loop): same table
    order, rows, deviations, warnings and comparison rows, and every
    table logs read → copy → validate in that order."""
    if case == "fixture":
        adapter = ParquetSource(spark, sf_smoke)
        cat = _fixture_catalog(adapter, "region,nation,customer,events")
    else:
        adapter, cat = _RangeAdapter(spark), _colliding_catalog()
    concurrent = _run_shape(spark, cat, adapter, str(tmp_path / "c"))
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0})
    serial = _run_shape(spark, cat, adapter, str(tmp_path / "s"))
    assert concurrent == serial
    reports, steps, _rows = concurrent
    assert all(r["deviations"] == 0 for r in reports)
    assert all(v == ["read", "copy", "validate"] for v in steps.values())
    if case == "colliding":
        assert [r["table"] for r in reports] == ["t", "t"]
        assert all("several schemas" in " ".join(r["warnings"]) for r in reports)


def test_runner_deviation_counts_from_collected_rows(spark, tmp_path):
    """Deviation counts come from the same collected rows the report
    holds: a source that differs on every query (the query's start time
    in µs) deviates, and its count equals the DEVIATION rows of
    report.validation."""

    class DriftingAdapter:
        def read_table(self, t):
            return spark.range(20).select(
                (F.col("id") + F.unix_micros(F.current_timestamp())).alias("u"))

    from database_migration_spark.catalog import Catalog, ColumnMeta, TableMeta

    cat = Catalog(tables=[TableMeta("S", "drift", (ColumnMeta("S", "drift", "u", 1, "bigint"),))])
    report = MigrationRunner(spark).execute(cat, DriftingAdapter(), str(tmp_path / "d"))
    (rep,) = report.tables
    assert rep.deviations > 0 and not report.ok
    assert report.validation.inputFiles() == []
    assert report.validation.filter(F.col("status") == "DEVIATION").count() == rep.deviations
