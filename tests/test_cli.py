"""CLI surface tests: python -m database_migration_spark plan|migrate|validate.

The CLI is a thin shell over MigrationPlanner/MigrationRunner/validate —
these tests drive main() in-process (reusing the session fixture's JVM)
and assert the user-visible contract: statement streams print ordered,
migrate copies+validates, validate's exit code gates on deviations."""

from pyspark.sql import functions as F

from database_migration_spark.__main__ import main


def test_cli_plan_prints_ordered_stream(spark, sf_smoke, capsys):
    rc = main(["plan", "--source", sf_smoke, "--tables", "region,nation"])
    out = capsys.readouterr().out
    assert rc == 0
    lines = [l for l in out.splitlines() if l.strip()]
    ords = [int(l.split()[0]) for l in lines if l.split()[0].isdigit()]
    assert ords == sorted(ords) and ords  # ordered stream
    assert 'CREATE TABLE "MIGRATED"."REGION"' in out
    assert "IMPORT INTO" in out


def test_cli_migrate_then_validate_roundtrip(spark, sf_smoke, tmp_path, capsys):
    dest = str(tmp_path / "dest")
    rc = main(["migrate", "--source", sf_smoke, "--dest", dest,
               "--tables", "region,nation"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "region: 5 rows, OK" in out and "nation: 25 rows, OK" in out

    # the runner's directory-shaped output is a readable source again
    # (scoped to the migrated tables: an unscoped validate correctly flags
    # the other source tables as MISSING in right)
    rc = main(["validate", "--left", sf_smoke, "--right", dest,
               "--tables", "region, nation"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "region: OK" in out and "nation: OK" in out


def test_cli_validate_flags_deviation(spark, sf_smoke, tmp_path, capsys):
    bad = str(tmp_path / "bad")
    spark.read.parquet(f"{sf_smoke}/region.parquet").withColumn(
        "r_name", F.concat(F.col("r_name"), F.lit("_x"))
    ).write.parquet(f"{bad}/region")
    rc = main(["validate", "--left", sf_smoke, "--right", bad,
               "--tables", "region"])
    out = capsys.readouterr().out
    assert rc == 1
    assert "DEVIATION" in out


def test_cli_validate_report_covers_every_outcome(spark, sf_smoke, tmp_path, capsys):
    """OK, DEVIATION, MISSING and one-sided-column outcomes in one run: the
    tables compare concurrently, yet the report prints MISSING first and
    then each compared table in --tables order, byte for byte as the
    one-table-at-a-time loop printed it."""
    right = str(tmp_path / "mixed")

    def put(table, fn):
        fn(spark.read.parquet(f"{sf_smoke}/{table}.parquet")).write.parquet(
            f"{right}/{table}")

    put("supplier", lambda df: df)
    put("region", lambda df: df.withColumn(
        "r_name", F.concat(F.col("r_name"), F.lit("_x"))))
    put("nation", lambda df: df.drop("n_name"))
    put("customer", lambda df: df.withColumn(
        "c_acctbal", F.col("c_acctbal") + F.lit(1)).drop("c_mktsegment"))
    rc = main(["validate", "--left", sf_smoke, "--right", right,
               "--tables", "supplier,region,ghost,nation,customer"])
    out = capsys.readouterr().out
    assert rc == 1
    assert out.splitlines() == [
        "ghost: MISSING in left and right",
        "supplier: OK",
        "region: 4 DEVIATIONS",
        "  MAX_LEN r_name: 11 != 13",
        "  MAX_VAL r_name: MIDDLE EAST != MIDDLE EAST_x",
        "  MIN_LEN r_name: 4 != 6",
        "  MIN_VAL r_name: AFRICA != AFRICA_x",
        "nation: 0 DEVIATIONS",
        "  n_name: present on one side only — not metric-compared",
        "customer: 2 DEVIATIONS",
        "  c_mktsegment: present on one side only — not metric-compared",
        "  MAX_VAL c_acctbal: 9916.120000 != 9917.120000",
        "  MIN_VAL c_acctbal: -846.690000 != -845.690000",
    ]


def test_cli_diff_reports_drift(spark, sf_smoke, tmp_path, capsys):
    # "new" source: region gained a column, nation dropped
    new = str(tmp_path / "new_src")
    r = spark.read.parquet(f"{sf_smoke}/region.parquet")
    r.withColumn("r_active", F.lit(1).cast("int")).write.parquet(f"{new}/region")
    rc = main(["diff", "--old", sf_smoke, "--new", new, "--tables",
               "region,nation"])
    out = capsys.readouterr().out
    assert rc == 0
    assert 'ADD COLUMN "R_ACTIVE"' in out
    assert "nation: dropped at the source" in out
    assert "DROP" not in out


def test_cli_validate_flags_missing_table_and_column(spark, sf_smoke, tmp_path, capsys):
    """Structural gaps must fail the gate: a table present on one side only
    and a column present on one side only are deviations, not skips."""
    right = str(tmp_path / "partial")
    spark.read.parquet(f"{sf_smoke}/region.parquet").drop("r_name").write.parquet(
        f"{right}/region"
    )  # nation intentionally absent
    rc = main(["validate", "--left", sf_smoke, "--right", right])
    out = capsys.readouterr().out
    assert rc == 1
    assert "nation: MISSING in right" in out
    assert "region: " in out and "r_name: present on one side only" in out


def test_cli_no_match_is_an_error(spark, sf_smoke, tmp_path, capsys):
    rc = main(["migrate", "--source", sf_smoke, "--dest",
               str(tmp_path / "d"), "--tables", "regoin"])
    assert rc == 2
    rc = main(["plan", "--source", sf_smoke, "--tables", "nope"])
    assert rc == 2


def test_cli_validate_explicit_missing_table_no_crash(spark, sf_smoke, tmp_path, capsys):
    """An explicitly named table absent from a side must report MISSING and
    fail the gate — and the remaining named tables must still be compared."""
    right = str(tmp_path / "only_region")
    spark.read.parquet(f"{sf_smoke}/region.parquet").write.parquet(f"{right}/region")
    rc = main(["validate", "--left", sf_smoke, "--right", right,
               "--tables", "region,nation,ghost"])
    out = capsys.readouterr().out
    assert rc == 1
    assert "nation: MISSING in right" in out
    assert "ghost: MISSING in left and right" in out
    assert "region: OK" in out  # still compared after the missing ones


def test_cli_migrate_from_live_jdbc_source(spark, tmp_path, capsys, monkeypatch):
    """End-to-end over a REAL JDBC source (embedded Derby): the CLI builds
    the dialect adapter from --source jdbc:... + --dialect, the runner
    scans the live catalog, copies through the typed transfer path, and
    the parquet target validates clean."""
    from database_migration_spark.sources import dialects as D
    from database_migration_spark.sources.dialects import DialectSpec
    from tests.conftest import DERBY_DRIVER, make_derby_db

    db = str(tmp_path / "clidb")
    url = make_derby_db(spark, db, [
        "CREATE TABLE APP.ITEMS (ID BIGINT NOT NULL, NAME VARCHAR(20))",
        "INSERT INTO APP.ITEMS VALUES "
        + ", ".join(f"({i}, 'item{i}')" for i in range(20)),
    ])

    derby = DialectSpec(
        name="derby",
        catalog_sql="""
SELECT s.SCHEMANAME AS schema_name, t.TABLENAME AS table_name,
       c.COLUMNNAME AS column_name, c.COLUMNNUMBER AS ordinal_position,
       CAST(c.COLUMNDATATYPE AS VARCHAR(128)) AS data_type,
       CAST(NULL AS INT) AS numeric_precision, CAST(NULL AS INT) AS numeric_scale,
       CAST(NULL AS INT) AS character_maximum_length,
       'YES' AS is_nullable
FROM SYS.SYSCOLUMNS c
JOIN SYS.SYSTABLES t ON t.TABLEID = c.REFERENCEID
JOIN SYS.SYSSCHEMAS s ON s.SCHEMAID = t.SCHEMAID
WHERE t.TABLETYPE = 'T'
  AND s.SCHEMANAME LIKE '{schema_filter}' AND t.TABLENAME LIKE '{table_filter}'
""",
    )
    monkeypatch.setitem(D.ALL_DIALECTS, "derby", derby)

    dest = str(tmp_path / "from_jdbc")
    # the comma-list table filter must work on a jdbc source too (it is
    # applied locally with IN semantics — a single remote LIKE cannot
    # express it)
    rc = main([
        "migrate", "--source", url, "--dialect", "derby",
        "--jdbc-prop", f"driver={DERBY_DRIVER}",
        "--dest", dest, "--tables", "ITEMS,GHOST",
    ])
    out = capsys.readouterr().out
    assert rc == 0
    assert "ITEMS: 20 rows, OK" in out
    got = spark.read.parquet(f"{dest}/ITEMS")
    assert got.count() == 20
    assert sorted(c.upper() for c in got.columns) == ["ID", "NAME"]

    # the cutover gate: metric-diff the LIVE source against the migrated
    # parquet target through the same CLI
    rc = main([
        "validate", "--left", url, "--dialect", "derby",
        "--jdbc-prop", f"driver={DERBY_DRIVER}",
        "--right", dest,
    ])
    out = capsys.readouterr().out
    assert rc == 0
    assert "ITEMS: OK" in out


def test_cli_jdbc_prop_without_equals_is_clean_error(spark):
    import pytest as _pytest

    with _pytest.raises(SystemExit, match="k=v"):
        main(["plan", "--source", "jdbc:derby:/nope", "--dialect", "mysql",
              "--jdbc-prop", "driver"])


def test_cli_readers_refuse_ambiguous_jdbc_names(spark):
    """A multi-schema source with duplicate bare table names cannot be
    keyed for a name-based comparison — the gate must refuse loudly, not
    silently drop a table."""
    import pytest as _pytest

    from database_migration_spark.__main__ import _readers
    from database_migration_spark.catalog import Catalog, ColumnMeta, TableMeta

    class FakeJdbc:
        def scan_catalog(self, schemas, tables, include_metadata=True):
            col = lambda s: ColumnMeta(s, "t", "id", 1, "bigint")  # noqa: E731
            return Catalog(tables=[
                TableMeta("S1", "t", (col("S1"),)),
                TableMeta("S2", "t", (col("S2"),)),
            ])

    with _pytest.raises(SystemExit, match="several schemas"):
        _readers(FakeJdbc(), "%", "%")


def test_cli_snapshot_diff_workflow(spark, sf_smoke, tmp_path, capsys):
    """The drift workflow end-to-end: migrate saves a catalog snapshot; a
    later diff compares the snapshot (the source AS MIGRATED) against the
    drifted source — no access to the old database needed."""
    snap = str(tmp_path / "cat.json")
    log = str(tmp_path / "job_log")
    rc = main(["migrate", "--source", sf_smoke, "--dest",
               str(tmp_path / "dest"), "--tables", "region",
               "--save-catalog", snap, "--log", log])
    capsys.readouterr()
    assert rc == 0
    logged = spark.read.parquet(log)
    steps = {r.step for r in logged.collect()}
    assert "read region" in steps and "copy region" in steps
    assert "validate region" in steps

    # the 'source' later gains a column
    drifted = str(tmp_path / "drifted")
    spark.read.parquet(f"{sf_smoke}/region.parquet").withColumn(
        "r_active", F.lit(1).cast("int")
    ).write.parquet(f"{drifted}/region")

    rc = main(["diff", "--old", snap, "--new", drifted, "--tables", "region"])
    out = capsys.readouterr().out
    assert rc == 0
    assert 'ADD COLUMN "R_ACTIVE"' in out
    assert "DROP" not in out


def test_cli_expect_gates_on_rule_file(spark, sf_smoke, tmp_path, capsys):
    import json

    rules = [
        {"rule_id": "r1", "kind": "not_null", "column": "r_name"},
        {"rule_id": "r2", "kind": "row_count_between", "column": "",
         "params": {"lo": 1, "hi": 10}},
    ]
    rf = str(tmp_path / "rules.json")
    with open(rf, "w") as fh:
        json.dump(rules, fh)
    rc = main(["expect", "--source", sf_smoke, "--table", "region",
               "--rules", rf])
    out = capsys.readouterr().out
    assert rc == 0
    assert "r1: PASS" in out and "r2: PASS" in out

    # a failing rule gates
    rules[1]["params"] = {"lo": 1, "hi": 2}
    with open(rf, "w") as fh:
        json.dump(rules, fh)
    rc = main(["expect", "--source", sf_smoke, "--table", "region",
               "--rules", rf])
    out = capsys.readouterr().out
    assert rc == 1 and "r2: FAIL" in out


def test_cli_ping(spark, sf_smoke, tmp_path, capsys, monkeypatch):
    # parquet source
    rc = main(["ping", "--source", sf_smoke])
    out = capsys.readouterr().out
    assert rc == 0 and "Connection works" in out

    # live jdbc source (Derby uses SYSIBM.SYSDUMMY1)
    from database_migration_spark.sources import dialects as D
    from database_migration_spark.sources.dialects import DialectSpec
    from tests.conftest import DERBY_DRIVER, make_derby_db

    url = make_derby_db(spark, str(tmp_path / "pingdb"), [])
    monkeypatch.setitem(
        D.ALL_DIALECTS, "derby", DialectSpec(name="derby", catalog_sql="--")
    )
    rc = main(["ping", "--source", url, "--dialect", "derby",
               "--jdbc-prop", f"driver={DERBY_DRIVER}"])
    assert rc == 0
    assert "Connection works" in capsys.readouterr().out

    # failure path: unreachable database → clean rc=1
    rc = main(["ping", "--source", "jdbc:derby:/nonexistent/nope",
               "--dialect", "derby",
               "--jdbc-prop", f"driver={DERBY_DRIVER}"])
    err = capsys.readouterr().err
    assert rc == 1 and "Connection FAILED" in err


def test_cli_validate_tables_case_insensitive(spark, sf_smoke, tmp_path, capsys):
    """--tables matching is case-insensitive like every other filter in
    the tool: `--tables REGION` against lower-cased parquet table names
    must compare the table, not report it MISSING (the Derby/Oracle
    folded-identifier case in reverse)."""
    rc = main(["validate", "--left", sf_smoke, "--right", sf_smoke,
               "--tables", "REGION, Nation"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "MISSING" not in out
    assert "region: OK" in out and "nation: OK" in out


def test_cli_sync_live_derby_incremental(spark, tmp_path, capsys, monkeypatch):
    """The DELTA_IMPORT workflow end-to-end on a LIVE JDBC source: bootstrap
    full-load sync, insert + update rows at the source, dry-run previews the
    delta strategy without touching the target, then the real sync advances
    the watermark, MERGEs, and the metric engine validates the result."""
    from database_migration_spark.sources import dialects as D
    from database_migration_spark.sources.dialects import DialectSpec
    from tests.conftest import DERBY_DRIVER, make_derby_db

    db = str(tmp_path / "syncdb")
    url = make_derby_db(spark, db, [
        "CREATE TABLE APP.ITEMS (ID BIGINT NOT NULL, NAME VARCHAR(20), "
        "UPDATED TIMESTAMP)",
        "INSERT INTO APP.ITEMS VALUES "
        + ", ".join(
            f"({i}, 'item{i}', TIMESTAMP('2026-01-01 10:{i:02d}:00'))"
            for i in range(20)
        ),
    ])
    derby = DialectSpec(
        name="derby",
        catalog_sql="""
SELECT s.SCHEMANAME AS schema_name, t.TABLENAME AS table_name,
       c.COLUMNNAME AS column_name, c.COLUMNNUMBER AS ordinal_position,
       CAST(c.COLUMNDATATYPE AS VARCHAR(128)) AS data_type,
       CAST(NULL AS INT) AS numeric_precision, CAST(NULL AS INT) AS numeric_scale,
       CAST(NULL AS INT) AS character_maximum_length,
       'YES' AS is_nullable
FROM SYS.SYSCOLUMNS c
JOIN SYS.SYSTABLES t ON t.TABLEID = c.REFERENCEID
JOIN SYS.SYSSCHEMAS s ON s.SCHEMAID = t.SCHEMAID
WHERE t.TABLETYPE = 'T'
  AND s.SCHEMANAME LIKE '{schema_filter}' AND t.TABLENAME LIKE '{table_filter}'
""",
    )
    monkeypatch.setitem(D.ALL_DIALECTS, "derby", derby)
    tgt = str(tmp_path / "sync_target")
    base = ["sync", "--source", url, "--dialect", "derby",
            "--jdbc-prop", f"driver={DERBY_DRIVER}",
            "--target", tgt, "--table", "ITEMS",
            "--keys", "ID", "--delta-col", "UPDATED"]

    # bootstrap: no target yet → full-load merge
    rc = main(base)
    out = capsys.readouterr().out
    assert rc == 0
    assert "strategy: FULL_LOAD_MERGE" in out
    assert "ITEMS: 20 rows after sync, OK" in out

    # source moves on: 5 inserts + 1 update, all later than the watermark
    import py4j  # noqa: F401 — jvm is reachable through the session

    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.execute(
        "INSERT INTO APP.ITEMS VALUES " + ", ".join(
            f"({i}, 'item{i}', TIMESTAMP('2026-01-02 09:{i - 20:02d}:00'))"
            for i in range(20, 25)
        )
    )
    st.execute("UPDATE APP.ITEMS SET NAME = 'renamed', "
               "UPDATED = TIMESTAMP('2026-01-02 10:00:00') WHERE ID = 3")
    st.close()
    conn.close()

    # preview first: the delta strategy with the advanced-from watermark,
    # and the target is untouched
    rc = main(base + ["--dry-run"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "strategy: DELTA_LOAD_MERGE" in out
    assert "watermark: 2026-01-01 10:19:00" in out
    assert "UPDATED >=" in out
    assert spark.read.parquet(f"{tgt}/ITEMS").count() == 20

    # the real sync: watermark-filtered load, MERGE on ID, metric-validated
    rc = main(base)
    out = capsys.readouterr().out
    assert rc == 0
    assert "strategy: DELTA_LOAD_MERGE" in out
    assert "ITEMS: 25 rows after sync, OK" in out
    got = spark.read.parquet(f"{tgt}/ITEMS")
    assert got.count() == 25
    assert got.where("ID = 3").collect()[0].NAME == "renamed"


def test_cli_sync_defaults_keys_from_catalog_pk(spark, sf_smoke, tmp_path, capsys):
    """Without --keys the sync reads the primary key from the source
    catalog (the same place the reference reads it, delta_import:157-177)
    and the second run decides DELTA_LOAD_MERGE off the bootstrapped
    watermark."""
    tgt = str(tmp_path / "orders_tgt")
    base = ["sync", "--source", sf_smoke, "--target", tgt,
            "--table", "orders", "--delta-col", "o_orderdate"]
    rc = main(base)
    out = capsys.readouterr().out
    assert rc == 0
    assert "strategy: FULL_LOAD_MERGE" in out
    assert "rows after sync, OK" in out

    rc = main(base)
    out = capsys.readouterr().out
    assert rc == 0
    assert "strategy: DELTA_LOAD_MERGE" in out
    assert "watermark: " in out
    # idempotent re-sync: boundary rows re-read, deduplicated by the PK merge
    n = spark.read.parquet(f"{tgt}/orders").count()
    src = spark.read.parquet(f"{sf_smoke}/orders.parquet").count()
    assert n == src


def test_cli_load_error_and_reupload_statuses(spark, tmp_path, capsys):
    """The manifest state machine through the CLI (s3_to_exasol.sql:224-315):
    a file with no ingestible rows records an Error status and fails the rc
    gate; re-uploading it (newer mtime) flips it to waiting-for-update and
    the next run loads it to done without re-reading already-done files."""
    import os
    import time as _time

    folder = tmp_path / "inbox"
    folder.mkdir()
    (folder / "a.csv").write_text("id,name\n1,x\n2,y\n")
    (folder / "b.csv").write_text("")  # nothing ingestible → Error
    manifest = str(tmp_path / "manifest")
    dest = str(tmp_path / "loaded")
    base = ["load", "--folder", str(folder), "--manifest", manifest,
            "--format", "csv", "--read-option", "header=true",
            "--dest", dest]

    # dry run first: the reference's execute_statements=false preview
    rc = main(base + ["--dry-run"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "LOAD CSV FILE" in out and "a.csv" in out and "b.csv" in out

    rc = main(base)
    out = capsys.readouterr().out + capsys.readouterr().err
    assert rc == 1  # the empty file is an error and gates the rc
    assert "a.csv: done" in out
    assert "b.csv: Error" in out
    assert spark.read.parquet(dest).count() == 2

    # re-upload b with real content and a newer mtime
    (folder / "b.csv").write_text("id,name\n3,z\n")
    later = _time.time() + 10
    os.utime(folder / "b.csv", (later, later))
    rc = main(base)
    out = capsys.readouterr().out
    assert rc == 0
    assert "b.csv: done" in out
    assert "a.csv" not in out  # done files are not re-read
    assert spark.read.parquet(dest).count() == 3
    # manifest settles to all-done
    m = spark.read.parquet(manifest)
    assert {r.status for r in m.collect()} == {"done"}


def test_cli_load_per_file_exact_errors(spark, tmp_path, capsys):
    """--per-file trades single-scan throughput for the reference's exact
    per-file error text: a corrupt file's status carries the real reader
    message, good files still load and sink."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    folder = tmp_path / "inbox2"
    folder.mkdir()
    pq.write_table(
        pa.table({"id": [1, 2, 3], "name": ["a", "b", "c"]}),
        str(folder / "good.parquet"),
    )
    (folder / "bad.parquet").write_bytes(b"this is not parquet")
    manifest = str(tmp_path / "manifest2")
    dest = str(tmp_path / "loaded2")
    rc = main(["load", "--folder", str(folder), "--manifest", manifest,
               "--format", "parquet", "--per-file", "--dest", dest])
    out = capsys.readouterr().out
    assert rc == 1
    assert "good.parquet: done" in out
    assert "bad.parquet: Error" in out
    # exact error text, not the batch path's generic no-rows message
    assert "no rows ingested" not in out
    assert spark.read.parquet(dest).count() == 3
    m = {r.file_name: r.status for r in spark.read.parquet(manifest).collect()}
    assert m[str(folder / "good.parquet")] == "done"
    assert m[str(folder / "bad.parquet")].startswith("Error: ")


def test_cli_check_constraint_sweep(spark, sf_smoke, capsys):
    """`check` runs the catalog-driven PK/FK sweep against the fixture
    catalog's declared keys and gates on violations — the fixture
    lineitem PK is genuinely violated (planted), so an unscoped run
    fails; a scope without violated constraints passes."""
    rc = main(["check", "--source", sf_smoke,
               "--tables", "region,nation"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "region.REGION_PK [PK]" in out and "OK" in out
    # nation's FK to region resolves inside the scope
    assert "nation.NATION_FK_REGION [FK]" in out

    rc = main(["check", "--source", sf_smoke])
    out = capsys.readouterr().out
    assert rc == 1
    assert "lineitem.LINEITEM_PK [PK]" in out
    assert "VIOLATIONS" in out


def test_cli_rowdiff(spark, sf_smoke, tmp_path, capsys):
    """`rowdiff` hash-compares two versions of a table on its catalog PK
    and prints row fates + per-column change counts; identical versions
    are OK (rc=0), a drifted copy fails (rc=1) with exact counts."""
    right = tmp_path / "right"
    right.mkdir()
    orders = spark.read.parquet(f"{sf_smoke}/orders.parquet")
    from pyspark.sql import functions as F

    (
        orders.where(F.col("o_orderkey") % 5 != 0)
        .withColumn(
            "o_orderstatus",
            F.when(F.col("o_orderkey") % 3 == 0, F.lit("Z")).otherwise(
                F.col("o_orderstatus")
            ),
        )
        .coalesce(1)
        .write.parquet(str(right / "orders.parquet"))
    )
    n_removed = orders.where(F.col("o_orderkey") % 5 == 0).count()
    n_changed = orders.where(
        (F.col("o_orderkey") % 5 != 0)
        & (F.col("o_orderkey") % 3 == 0)
        & (F.col("o_orderstatus") != "Z")
    ).count()

    rc = main(["rowdiff", "--left", sf_smoke, "--right", str(right),
               "--tables", "orders", "--show", "2"])
    out = capsys.readouterr().out
    assert rc == 1
    assert f"orders: 0 added, {n_removed} removed, {n_changed} changed" in out
    assert f"o_orderstatus: {n_changed} changed" in out
    assert "-> 'Z'" in out  # --show prints concrete cells

    # identical versions: clean gate
    rc = main(["rowdiff", "--left", sf_smoke, "--right", sf_smoke,
               "--tables", "orders"])
    assert rc == 0
    assert "orders: OK" in capsys.readouterr().out


def test_cli_profile(spark, sf_smoke, capsys):
    """`profile` prints the per-table assessment report: row count,
    per-column null/distinct, integral histograms, string top-k."""
    rc = main(["profile", "--source", sf_smoke, "--tables", "region"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "region: 5 rows" in out
    assert "r_regionkey distinct: 5" in out
    assert "r_regionkey null: 0" in out
    assert "r_regionkey hist [0]: 1" in out  # 5 keys, 10 buckets: 1 apiece
    assert "r_name topk [AFRICA]: 1" in out


def test_cli_pipeline(spark, sf_smoke, tmp_path, capsys):
    """`pipeline` runs the corpus-cleaning pass, prints the attrition
    report, and writes the kept corpus partitioned by split."""
    out = str(tmp_path / "clean_corpus")
    rc = main(["pipeline", "--source", sf_smoke, "--out", out])
    txt = capsys.readouterr().out
    assert rc == 0
    for stage in ("quality", "exact_duplicate", "contaminated",
                  "kept_train", "kept:"):
        assert stage.rstrip(":") in txt
    clean = spark.read.parquet(out)
    assert "split" in clean.columns and "drop_reason" not in clean.columns
    n_kept = int(txt.split("kept: ")[1].split(" of ")[0])
    assert clean.count() == n_kept > 0


def _derby_spec():
    from database_migration_spark.sources.dialects import DialectSpec

    return DialectSpec(
        name="derby",
        catalog_sql="""
SELECT s.SCHEMANAME AS schema_name, t.TABLENAME AS table_name,
       c.COLUMNNAME AS column_name, c.COLUMNNUMBER AS ordinal_position,
       CAST(c.COLUMNDATATYPE AS VARCHAR(128)) AS data_type,
       CAST(NULL AS INT) AS numeric_precision, CAST(NULL AS INT) AS numeric_scale,
       CAST(NULL AS INT) AS character_maximum_length,
       'YES' AS is_nullable
FROM SYS.SYSCOLUMNS c
JOIN SYS.SYSTABLES t ON t.TABLEID = c.REFERENCEID
JOIN SYS.SYSSCHEMAS s ON s.SCHEMAID = t.SCHEMAID
WHERE t.TABLETYPE = 'T'
  AND s.SCHEMANAME LIKE '{schema_filter}' AND t.TABLENAME LIKE '{table_filter}'
""",
    )


def test_cli_profile_and_rowdiff_live_derby(spark, tmp_path, capsys,
                                            monkeypatch):
    """profile and rowdiff against a LIVE JDBC source: the adapter has no
    read(name), so both must go through read_table (regression for the
    round-6 AttributeError on jdbc: sources)."""
    from database_migration_spark.sources import dialects as D
    from tests.conftest import DERBY_DRIVER, make_derby_db

    db = str(tmp_path / "profdb")
    url = make_derby_db(spark, db, [
        "CREATE TABLE APP.ITEMS (ID BIGINT NOT NULL, NAME VARCHAR(20))",
        "INSERT INTO APP.ITEMS VALUES "
        + ", ".join(f"({i}, 'n{i % 3}')" for i in range(10)),
    ])
    monkeypatch.setitem(D.ALL_DIALECTS, "derby", _derby_spec())
    jdbc = ["--dialect", "derby", "--jdbc-prop", f"driver={DERBY_DRIVER}"]

    rc = main(["profile", "--source", url, "--tables", "ITEMS"] + jdbc)
    out = capsys.readouterr().out
    assert rc == 0
    assert "ITEMS: 10 rows" in out
    assert "ID distinct: 10" in out
    assert "NAME topk [n0]: 4" in out  # ids 0,3,6,9

    # rowdiff live-vs-parquet: drop a row in the parquet copy
    right = tmp_path / "right"
    right.mkdir()
    from database_migration_spark.sources.jdbc import JdbcSourceAdapter

    adapter = JdbcSourceAdapter(
        spark, D.ALL_DIALECTS["derby"], url=url,
        properties={"driver": DERBY_DRIVER},
    )
    meta = adapter.scan_catalog("%", "ITEMS").tables[0]
    # the parquet side is LOWERCASE (the usual lake spelling) while Derby
    # surfaces ID/NAME — rowdiff must case-fold columns and --keys
    adapter.read_table(meta).where("ID <> 7").toDF("id", "name").coalesce(
        1
    ).write.parquet(str(right / "ITEMS.parquet"))
    rc = main(["rowdiff", "--left", url, "--right", str(right),
               "--tables", "ITEMS", "--keys", "id"] + jdbc)
    out = capsys.readouterr().out
    assert rc == 1
    assert "ITEMS: 0 added, 1 removed, 0 changed" in out


def test_cli_scd2_bootstrap_then_merge(spark, tmp_path, capsys):
    """`scd2` bootstraps a dimension from a source table, then a second
    run against a drifted source closes changed entities' versions and
    opens new ones — history preserved, version counter auto-advances."""
    src = tmp_path / "src"
    src.mkdir()
    schema = "id long, seg string"
    spark.createDataFrame([(1, "A"), (2, "B")], schema).coalesce(
        1
    ).write.parquet(str(src / "items.parquet"))
    dim = str(tmp_path / "dim")
    rc = main(["scd2", "--source", str(src), "--table", "items",
               "--target", dim, "--keys", "id"])
    out = capsys.readouterr().out
    assert rc == 0 and "bootstrap at ts=0 — 2 open entities" in out

    # drift: 2 changes segment, 3 appears, 1 vanishes (kept: no snapshot)
    spark.createDataFrame([(2, "B2"), (3, "C")], schema).coalesce(
        1
    ).write.parquet(str(src / "items.parquet"), mode="overwrite")
    rc = main(["scd2", "--source", str(src), "--table", "items",
               "--target", dim, "--keys", "id"])
    out = capsys.readouterr().out
    assert rc == 0 and "merge at ts=1 — 3 open entities, 4 versions" in out
    rows = {
        (r.id, r.seg, r.valid_from, r.valid_to, r.is_current)
        for r in spark.read.parquet(dim).collect()
    }
    assert rows == {
        (1, "A", 0, None, True),
        (2, "B", 0, 1, False),
        (2, "B2", 1, None, True),
        (3, "C", 1, None, True),
    }


def test_cli_drift_gate_passes_identical_fails_shifted(spark, sf_smoke, tmp_path, capsys):
    """`drift` compares value DISTRIBUTIONS: identical dirs gate clean; a
    right side whose o_totalprice collapsed (the lossy-cast accident the
    metric diff can miss when min/max survive) fails with rc=1 and names
    the drifted column."""
    rc = main(["drift", "--left", sf_smoke, "--right", sf_smoke,
               "--tables", "orders"])
    out = capsys.readouterr().out
    assert rc == 0
    assert "orders.o_totalprice: tv_ppm=0" in out

    shifted = str(tmp_path / "shifted")
    src = spark.read.parquet(f"{sf_smoke}/orders.parquet")
    # collapse the middle of the price distribution but keep min/max rows
    src.withColumn(
        "o_totalprice",
        F.when(
            (F.col("o_totalprice") > 10000) & (F.col("o_totalprice") < 400000),
            F.lit(10000.0),
        ).otherwise(F.col("o_totalprice")),
    ).write.parquet(f"{shifted}/orders.parquet")
    rc = main(["drift", "--left", sf_smoke, "--right", shifted,
               "--tables", "orders", "--columns", "o_totalprice"])
    out = capsys.readouterr().out
    assert rc == 1
    assert "o_totalprice" in out and "DRIFT" in out


def test_cli_refresh_bootstrap_then_delta(spark, tmp_path, capsys):
    """`refresh` is sync-for-summaries: bootstrap folds the whole base,
    a second run after new rows folds ONLY the delta (watermark advanced),
    and the stored state equals a from-scratch rebuild of the aggregate."""
    from database_migration_spark.operators import incremental_agg as IA

    src = str(tmp_path / "base")
    schema = "g STRING, v DOUBLE, d TIMESTAMP"
    rows1 = [("a", 1.0, "2024-01-01"), ("b", 2.0, "2024-01-02")]
    df1 = spark.createDataFrame(rows1, "g STRING, v DOUBLE, d STRING").withColumn(
        "d", F.col("d").cast("timestamp")
    )
    df1.write.parquet(f"{src}/t.parquet")
    state = str(tmp_path / "state")

    rc = main(["refresh", "--source", src, "--table", "t", "--state", state,
               "--keys", "g", "--measures", "v", "--delta-col", "d"])
    out = capsys.readouterr().out
    assert rc == 0 and "applied_rows=2" in out

    # no new rows: delta empty, state untouched
    rc = main(["refresh", "--source", src, "--table", "t", "--state", state,
               "--keys", "g", "--measures", "v", "--delta-col", "d"])
    assert rc == 0 and "applied_rows=0" in capsys.readouterr().out

    # append later rows; only they fold
    rows2 = [("a", 10.0, "2024-01-05"), ("c", 4.0, "2024-01-06")]
    df2 = spark.createDataFrame(rows2, "g STRING, v DOUBLE, d STRING").withColumn(
        "d", F.col("d").cast("timestamp")
    )
    df2.write.mode("append").parquet(f"{src}/t.parquet")
    rc = main(["refresh", "--source", src, "--table", "t", "--state", state,
               "--keys", "g", "--measures", "v", "--delta-col", "d"])
    out = capsys.readouterr().out
    assert rc == 0 and "applied_rows=2" in out

    got = {r["g"]: r.asDict() for r in
           spark.read.parquet(state).drop("_wm").collect()}
    full = spark.read.parquet(f"{src}/t.parquet")
    want = {r["g"]: r.asDict() for r in
            IA.build_state(full, ["g"], ["v"]).collect()}
    assert got == want
    assert got["a"]["n_rows"] == 2 and str(got["a"]["sum_v"]) == "11.000000"


def test_cli_compact_flat_and_partitioned(spark, tmp_path, capsys):
    """`compact` rewrites an append-grown layout into few files with rows
    preserved — flat mode sizes by --target-mb; partitioned mode keeps the
    partitionBy layout at one file per partition value."""
    import glob

    src = str(tmp_path / "grown")
    df = spark.range(0, 2000).select(
        F.col("id"), F.pmod(F.col("id"), 4).alias("bucket")
    )
    # 20 append epochs -> many small files
    for _ in range(20):
        df.limit(100).write.mode("append").parquet(src)
    n_files_before = len(glob.glob(f"{src}/*.parquet"))
    assert n_files_before >= 20

    dest = str(tmp_path / "flat")
    rc = main(["compact", "--source", src, "--dest", dest])
    out = capsys.readouterr().out
    assert rc == 0 and "-> 1 files" in out
    assert len(glob.glob(f"{dest}/*.parquet")) == 1
    assert spark.read.parquet(dest).count() == spark.read.parquet(src).count()

    # partitioned: append-grown bucket dirs compact to one file per bucket
    psrc = str(tmp_path / "pgrown")
    for _ in range(5):
        df.limit(200).write.mode("append").partitionBy("bucket").parquet(psrc)
    pdest = str(tmp_path / "pcompact")
    rc = main(["compact", "--source", psrc, "--dest", pdest,
               "--partition-col", "bucket"])
    assert rc == 0
    for b in range(4):
        files = glob.glob(f"{pdest}/bucket={b}/*.parquet")
        assert len(files) == 1, (b, files)
    assert spark.read.parquet(pdest).count() == spark.read.parquet(psrc).count()


def test_cli_drift_unresolved_columns_fail_loudly(spark, sf_smoke, capsys):
    """Review finding: a typoed/uncomparable --columns entry must exit 2,
    not gate green having compared a silent subset (or nothing)."""
    rc = main(["drift", "--left", sf_smoke, "--right", sf_smoke,
               "--tables", "orders", "--columns", "o_totalprce"])
    err = capsys.readouterr().err
    assert rc == 2 and "o_totalprce" in err
    rc = main(["drift", "--left", sf_smoke, "--right", sf_smoke,
               "--tables", "orders", "--columns", "o_totalprice,o_nope"])
    assert rc == 2 and "o_nope" in capsys.readouterr().err


# ---------------------------------------------------------------------------
# round 7: optimize + star subcommands (reference parity:
# convert_varchar.sql:36-44 report mode, convert_datatypes.sql:49-62 apply
# preview, Convert_To_Star_Schema.sql:469-489 create/transfer flags)


def test_cli_optimize_report_classifies_columns(spark, sf_smoke, capsys):
    rc = main(["optimize", "--source", sf_smoke, "--tables", "orders,region"])
    cap = capsys.readouterr()
    assert rc == 0
    # double that round-trips at scale 2 -> DECIMAL proposal
    assert "orders.o_totalprice: double --> DECIMAL(8,2)" in cap.out
    # timestamp with no time-of-day -> DATE
    assert "orders.o_orderdate: timestamp --> DATE" in cap.out
    # free-text columns are inspected and kept, with the reason printed
    assert "region.r_name: kept" in cap.out
    assert "conversions proposed" in cap.err
    # report mode renders NO apply stream
    assert "ALTER TABLE" not in cap.out


def test_cli_optimize_apply_renders_ordered_stream(spark, sf_smoke, capsys):
    rc = main(["optimize", "--source", sf_smoke, "--tables", "orders",
               "--apply"])
    cap = capsys.readouterr()
    assert rc == 0
    # the reference's apply stream: section header, per-column comment
    # line (current --> target (reason)), schema-qualified MODIFYs
    assert "-- ============ TYPE CONVERSIONS ============" in cap.out
    assert ('ALTER TABLE "MAIN"."ORDERS" MODIFY ("O_TOTALPRICE" '
            "DECIMAL(8,2));") in cap.out
    assert ('ALTER TABLE "MAIN"."ORDERS" MODIFY ("O_ORDERDATE" DATE);'
            ) in cap.out
    assert "dry run; nothing was executed" in cap.err
    # comment line precedes its MODIFY (reviewable stream, reference :33)
    lines = cap.out.splitlines()
    i_comment = next(i for i, l in enumerate(lines)
                     if l.startswith("-- orders.o_totalprice"))
    assert lines[i_comment + 1].startswith('ALTER TABLE "MAIN"."ORDERS"')


def test_cli_optimize_no_match_is_an_error(spark, sf_smoke, capsys):
    rc = main(["optimize", "--source", sf_smoke, "--tables", "nope"])
    assert rc == 2


def test_cli_star_conversion_validates_zero_deviation(
    spark, sf_smoke, tmp_path, capsys
):
    target = str(tmp_path / "star")
    rc = main(["star", "--source", sf_smoke, "--table", "orders",
               "--dim", "status:o_orderstatus,o_orderpriority",
               "--measures", "o_totalprice", "--target", target,
               "--validate"])
    cap = capsys.readouterr()
    assert rc == 0
    assert "DEVIATION" not in cap.out
    assert "metrics OK" in cap.err
    # the written tables ARE a star: dim distinct + fact joins back 1:1
    dim = spark.read.parquet(f"{target}/status.parquet")
    fact = spark.read.parquet(f"{target}/fact_orders.parquet")
    src = spark.read.parquet(f"{sf_smoke}/orders.parquet")
    assert dim.count() == src.select(
        "o_orderstatus", "o_orderpriority"
    ).distinct().count()
    assert fact.count() == src.count()
    assert set(fact.columns) == {"o_orderkey", "status_key", "o_totalprice"}
    # every fact row resolved a dimension key (no dangling NULL keys)
    assert fact.where(F.col("status_key").isNull()).count() == 0


def test_cli_star_no_transfer_writes_schema_only(
    spark, sf_smoke, tmp_path, capsys
):
    target = str(tmp_path / "star_empty")
    rc = main(["star", "--source", sf_smoke, "--table", "orders",
               "--dim", "status:o_orderstatus",
               "--measures", "o_totalprice", "--target", target,
               "--no-transfer"])
    cap = capsys.readouterr()
    assert rc == 0
    assert "schema only" in cap.err
    fact = spark.read.parquet(f"{target}/fact_orders.parquet")
    assert fact.count() == 0
    assert set(fact.columns) == {"o_orderkey", "status_key", "o_totalprice"}


def test_cli_star_no_create_prints_layout_only(spark, sf_smoke, tmp_path, capsys):
    target = str(tmp_path / "star_none")
    rc = main(["star", "--source", sf_smoke, "--table", "orders",
               "--dim", "status:o_orderstatus", "--target", target,
               "--no-create"])
    cap = capsys.readouterr()
    assert rc == 0
    assert "dim status(status_key, o_orderstatus)" in cap.out
    assert "nothing written" in cap.err
    import os

    assert not os.path.exists(target)
    # --validate without created tables is a loud config error
    rc = main(["star", "--source", sf_smoke, "--table", "orders",
               "--dim", "status:o_orderstatus", "--target", target,
               "--no-create", "--validate"])
    assert rc == 2


def test_cli_star_bad_column_is_clean_error(spark, sf_smoke, capsys):
    import pytest as _pytest

    with _pytest.raises(SystemExit) as e:
        main(["star", "--source", sf_smoke, "--table", "orders",
              "--dim", "status:o_nope", "--target", "/tmp/x"])
    assert "o_nope" in str(e.value)


def test_cli_cdc_apply_and_dry_run(spark, tmp_path, capsys):
    """Round-7 cdc subcommand: dry run prints per-op event/net counts and
    writes nothing; the real run bootstraps, then a second feed updates,
    deletes and fences by seq."""
    events0 = str(tmp_path / "ev0")
    spark.createDataFrame(
        [(1, "a", 10, "I"), (2, "b", 10, "I"), (3, "c", 10, "I")],
        "k LONG, v STRING, seq LONG, op STRING",
    ).write.parquet(f"{events0}/events.parquet")
    target = str(tmp_path / "cdc_target")

    rc = main(["cdc", "--events", events0, "--target", target,
               "--keys", "k", "--dry-run"])
    cap = capsys.readouterr()
    assert rc == 0 and "I: 3 events, 3 net keys" in cap.out
    import os

    assert not os.path.exists(target)

    rc = main(["cdc", "--events", events0, "--target", target, "--keys", "k"])
    assert rc == 0
    assert {r.k: r.v for r in spark.read.parquet(target).collect()} == {
        1: "a", 2: "b", 3: "c"
    }

    events1 = str(tmp_path / "ev1")
    spark.createDataFrame(
        [(1, "a2", 20, "U"), (2, "b", 20, "D"), (4, "d", 20, "I")],
        "k LONG, v STRING, seq LONG, op STRING",
    ).write.parquet(f"{events1}/events.parquet")
    rc = main(["cdc", "--events", events1, "--target", target, "--keys", "k"])
    cap = capsys.readouterr()
    assert rc == 0 and "target now has 3 rows" in cap.out
    assert {r.k: r.v for r in spark.read.parquet(target).collect()} == {
        1: "a2", 3: "c", 4: "d"
    }

    # duplicate (key, seq) in a feed: clean rc=2 error, target untouched
    bad = str(tmp_path / "evbad")
    spark.createDataFrame(
        [(1, "x", 30, "U"), (1, "y", 30, "U")],
        "k LONG, v STRING, seq LONG, op STRING",
    ).write.parquet(f"{bad}/events.parquet")
    rc = main(["cdc", "--events", bad, "--target", target, "--keys", "k"])
    assert rc == 2 and "multiple events" in capsys.readouterr().err
    assert {r.k: r.v for r in spark.read.parquet(target).collect()} == {
        1: "a2", 3: "c", 4: "d"
    }


def test_cli_optimize_live_jdbc_source(spark, tmp_path, capsys, monkeypatch):
    """optimize over a REAL JDBC source (embedded Derby): numeric-looking
    VARCHAR proposes DECIMAL, the apply stream is schema-qualified —
    proving the subcommand's --source jdbc: leg end-to-end."""
    from database_migration_spark.sources import dialects as D
    from database_migration_spark.sources.dialects import DialectSpec
    from tests.conftest import DERBY_DRIVER, make_derby_db

    db = str(tmp_path / "optdb")
    url = make_derby_db(spark, db, [
        "CREATE TABLE APP.READINGS (ID BIGINT NOT NULL, AMOUNT VARCHAR(30))",
        "INSERT INTO APP.READINGS VALUES "
        + ", ".join(f"({i}, '{i * 13}')" for i in range(1, 40)),
    ])
    derby = DialectSpec(
        name="derby",
        catalog_sql="""
SELECT s.SCHEMANAME AS schema_name, t.TABLENAME AS table_name,
       c.COLUMNNAME AS column_name, c.COLUMNNUMBER AS ordinal_position,
       CAST(c.COLUMNDATATYPE AS VARCHAR(128)) AS data_type,
       CAST(NULL AS INT) AS numeric_precision, CAST(NULL AS INT) AS numeric_scale,
       CAST(NULL AS INT) AS character_maximum_length,
       'YES' AS is_nullable
FROM SYS.SYSCOLUMNS c
JOIN SYS.SYSTABLES t ON t.TABLEID = c.REFERENCEID
JOIN SYS.SYSSCHEMAS s ON s.SCHEMAID = t.SCHEMAID
WHERE t.TABLETYPE = 'T'
  AND s.SCHEMANAME LIKE '{schema_filter}' AND t.TABLENAME LIKE '{table_filter}'
""",
    )
    monkeypatch.setitem(D.ALL_DIALECTS, "derby", derby)

    rc = main(["optimize", "--source", url, "--dialect", "derby",
               "--jdbc-prop", f"driver={DERBY_DRIVER}",
               "--tables", "READINGS", "--apply"])
    cap = capsys.readouterr()
    assert rc == 0
    assert "READINGS.AMOUNT: varchar --> DECIMAL(3,0) (all values integer)" in cap.out
    assert 'ALTER TABLE "APP"."READINGS" MODIFY ("AMOUNT" DECIMAL(3,0));' in cap.out


def test_cli_star_live_jdbc_source(spark, tmp_path, capsys, monkeypatch):
    """star over a REAL JDBC source (embedded Derby): catalog-less PK
    (the minimal test dialect has no pk_sql) forces --fact-id, the
    conversion writes dim+fact parquet and validates zero-deviation."""
    from database_migration_spark.sources import dialects as D
    from database_migration_spark.sources.dialects import DialectSpec
    from tests.conftest import DERBY_DRIVER, make_derby_db

    db = str(tmp_path / "stardb")
    url = make_derby_db(spark, db, [
        "CREATE TABLE APP.SALES (ID BIGINT NOT NULL, REGION VARCHAR(10), "
        "AMOUNT DOUBLE)",
        "INSERT INTO APP.SALES VALUES "
        + ", ".join(f"({i}, 'r{i % 3}', {i}.5)" for i in range(30)),
    ])
    derby = DialectSpec(
        name="derby",
        catalog_sql="""
SELECT s.SCHEMANAME AS schema_name, t.TABLENAME AS table_name,
       c.COLUMNNAME AS column_name, c.COLUMNNUMBER AS ordinal_position,
       CAST(c.COLUMNDATATYPE AS VARCHAR(128)) AS data_type,
       CAST(NULL AS INT) AS numeric_precision, CAST(NULL AS INT) AS numeric_scale,
       CAST(NULL AS INT) AS character_maximum_length,
       'YES' AS is_nullable
FROM SYS.SYSCOLUMNS c
JOIN SYS.SYSTABLES t ON t.TABLEID = c.REFERENCEID
JOIN SYS.SYSSCHEMAS s ON s.SCHEMAID = t.SCHEMAID
WHERE t.TABLETYPE = 'T'
  AND s.SCHEMANAME LIKE '{schema_filter}' AND t.TABLENAME LIKE '{table_filter}'
""",
    )
    monkeypatch.setitem(D.ALL_DIALECTS, "derby", derby)

    target = str(tmp_path / "star_jdbc")
    # no catalog PK and no --fact-id: loud config error
    rc = main(["star", "--source", url, "--dialect", "derby",
               "--jdbc-prop", f"driver={DERBY_DRIVER}",
               "--table", "SALES", "--dim", "region:REGION",
               "--target", target])
    assert rc == 2 and "no primary key" in capsys.readouterr().err

    rc = main(["star", "--source", url, "--dialect", "derby",
               "--jdbc-prop", f"driver={DERBY_DRIVER}",
               "--table", "SALES", "--dim", "region:REGION",
               "--fact-id", "ID", "--target", target, "--validate"])
    cap = capsys.readouterr()
    assert rc == 0 and "metrics OK" in cap.err and "DEVIATION" not in cap.out
    dim = spark.read.parquet(f"{target}/region.parquet")
    fact = spark.read.parquet(f"{target}/fact_SALES.parquet")
    assert dim.count() == 3 and fact.count() == 30


# round 8: optimize ADVICE closures — inbound-FK veto under partial scans,
# per-schema apply streams under multi-schema scans


def _stub_optimize_adapter(spark, tables_spec):
    """Minimal adapter for cmd_optimize: tables_spec is
    {(schema, table): (columns dict name->values list, [KeyMeta fks])}.
    scan_catalog honors the LIKE-or-IN filters via Catalog.filter."""
    from database_migration_spark.catalog import (
        Catalog,
        ColumnMeta,
        TableMeta,
    )

    metas = []
    frames = {}
    for (sch, tbl), (cols, fks) in tables_spec.items():
        cmeta = tuple(
            ColumnMeta(schema=sch, table=tbl, name=n, ordinal=i + 1,
                       source_type="varchar", char_length=30)
            for i, n in enumerate(cols)
        )
        metas.append(TableMeta(schema=sch, table=tbl, columns=cmeta,
                               foreign_keys=tuple(fks)))
        frames[(sch, tbl)] = spark.createDataFrame(
            list(zip(*cols.values())) or [tuple()],
            ", ".join(f"{n} STRING" for n in cols),
        )

    class Stub:
        def scan_catalog(self, schemas="%", tables="%", include_keys=False):
            return Catalog(tables=metas).filter(schemas, tables)

        def read_table(self, meta):
            # keyed by (schema, table) so same-named tables in different
            # schemas stay distinct objects (the round-8 aliasing ADVICE)
            return frames[(meta.schema, meta.table)]

    return Stub()


def test_cli_optimize_inbound_fk_vetoes_partial_scan(
    spark, capsys, monkeypatch
):
    """A conversion on a scanned PARENT column referenced by an UNSCANNED
    child's FK must be vetoed: catalog FKs are outbound-only, so without
    the unfiltered metadata re-scan the inbound edge is invisible and the
    parent converts alone — the half-scanned-pair breakage, inbound
    direction (round-7 ADVICE)."""
    import database_migration_spark.__main__ as M
    from database_migration_spark.catalog import KeyMeta

    fk = KeyMeta(schema="S1", table="CHILD", name="CHILD_FK", 
                 kind="FOREIGN KEY", columns=("C_CODE",),
                 ref_schema="S1", ref_table="PARENT", ref_columns=("P_CODE",))
    spec = {
        ("S1", "PARENT"): ({"P_CODE": [str(i) for i in range(40)]}, []),
        ("S1", "CHILD"): ({"C_CODE": [str(i) for i in range(40)]}, [fk]),
    }
    monkeypatch.setattr(
        M, "_source", lambda sp, root, args=None: _stub_optimize_adapter(
            spark, spec
        )
    )
    # scan ONLY the parent: its numeric-string column would convert, but
    # the unscanned child's FK references it -> veto with the scope reason
    rc = main(["optimize", "--source", "stub", "--tables", "PARENT"])
    cap = capsys.readouterr()
    assert rc == 0
    assert "PARENT.P_CODE: kept (FK partner table outside --tables scope" \
        in cap.out
    assert "-->" not in cap.out
    # control: scanning both tables converts the pair together
    rc = main(["optimize", "--source", "stub", "--tables", "PARENT,CHILD"])
    cap = capsys.readouterr()
    assert "PARENT.P_CODE: varchar --> DECIMAL" in cap.out
    assert "CHILD.C_CODE: varchar --> DECIMAL" in cap.out


def test_cli_optimize_apply_emits_one_stream_per_schema(
    spark, capsys, monkeypatch
):
    """A multi-schema scan must NOT qualify every ALTER with the first
    table's schema (round-7 ADVICE): each schema gets its own stream,
    statements qualified with their OWN schema."""
    import database_migration_spark.__main__ as M

    spec = {
        ("S1", "ALPHA"): ({"A_NUM": [str(i) for i in range(40)]}, []),
        ("S2", "BETA"): ({"B_NUM": [str(i * 7) for i in range(40)]}, []),
    }
    monkeypatch.setattr(
        M, "_source", lambda sp, root, args=None: _stub_optimize_adapter(
            spark, spec
        )
    )
    rc = main(["optimize", "--source", "stub", "--schemas", "S1,S2",
               "--apply"])
    cap = capsys.readouterr()
    assert rc == 0
    assert '"S1"."ALPHA"' in cap.out and '"S2"."BETA"' in cap.out
    # the breakage the fix closes: BETA qualified with ALPHA's schema
    assert '"S1"."BETA"' not in cap.out and '"S2"."ALPHA"' not in cap.out
    assert "-- schema: S1" in cap.out and "-- schema: S2" in cap.out


def test_cli_optimize_cross_schema_fk_brackets_parent_stream(
    spark, capsys, monkeypatch
):
    """A cross-schema FK whose MODIFIED columns span two schema streams is
    HOISTED: dropped before every stream, re-added after the last —
    bracketing it inside either stream would re-create the constraint
    while the other schema's column is still unconverted (streams execute
    in printed order; round-8 ADVICE + round-9 review refinement)."""
    import database_migration_spark.__main__ as M
    from database_migration_spark.catalog import KeyMeta

    fk = KeyMeta(schema="S1", table="CHILD", name="X_FK",
                 kind="FOREIGN KEY", columns=("C_CODE",),
                 ref_schema="S2", ref_table="PARENT",
                 ref_columns=("P_CODE",))
    vals = [str(i) for i in range(40)]
    spec = {
        ("S2", "PARENT"): ({"P_CODE": vals}, []),
        ("S1", "CHILD"): ({"C_CODE": vals}, [fk]),
    }
    monkeypatch.setattr(
        M, "_source", lambda sp, root, args=None: _stub_optimize_adapter(
            spark, spec
        )
    )
    rc = main(["optimize", "--source", "stub", "--schemas", "S1,S2",
               "--apply"])
    cap = capsys.readouterr()
    assert rc == 0
    # both sides convert (harmonized group agrees)
    assert "PARENT.P_CODE: varchar --> DECIMAL" in cap.out
    assert "CHILD.C_CODE: varchar --> DECIMAL" in cap.out
    # execution order: DROP X_FK strictly before BOTH MODIFYs, the
    # RE-ADD strictly after both — never inside a single schema's stream
    out = cap.out
    i_drop = out.index('DROP CONSTRAINT "X_FK"')
    i_mod_child = out.index('ALTER TABLE "S1"."CHILD" MODIFY')
    i_mod_parent = out.index('ALTER TABLE "S2"."PARENT" MODIFY')
    i_add = out.index('ADD CONSTRAINT "X_FK"')
    assert i_drop < min(i_mod_child, i_mod_parent)
    assert i_add > max(i_mod_child, i_mod_parent)
    assert 'REFERENCES "S2"."PARENT"' in out[i_add:]
    # exactly one DROP and one ADD (no per-stream duplicate bracket)
    assert out.count('DROP CONSTRAINT "X_FK"') == 1
    assert out.count('ADD CONSTRAINT "X_FK"') == 1


def test_cli_optimize_same_named_tables_do_not_alias(
    spark, capsys, monkeypatch
):
    """Two schemas each holding a table named T: keys must be
    (schema, table, column) — bare names merged their FK groups and
    proposals (round-8 ADVICE). S1.T has an FK pair that disagrees (veto);
    S2.T stands alone and must still convert."""
    import database_migration_spark.__main__ as M
    from database_migration_spark.catalog import KeyMeta

    # S1.T.K references S1.P.K; K is numeric-string but P.K is free text
    # -> the group disagrees -> both vetoed. S2.T.K (SAME table name) is
    # numeric-string with NO fk; if keys aliased on bare "T", S2.T.K
    # would inherit the veto and never convert.
    fk = KeyMeta(schema="S1", table="T", name="T_FK", kind="FOREIGN KEY",
                 columns=("K",), ref_schema="S1", ref_table="P",
                 ref_columns=("K",))
    nums = [str(i) for i in range(40)]
    texts = [f"name-{i}" for i in range(40)]
    spec = {
        ("S1", "T"): ({"K": nums}, [fk]),
        ("S1", "P"): ({"K": texts}, []),
        ("S2", "T"): ({"K": nums}, []),
    }
    monkeypatch.setattr(
        M, "_source", lambda sp, root, args=None: _stub_optimize_adapter(
            spark, spec
        )
    )
    rc = main(["optimize", "--source", "stub", "--schemas", "S1,S2"])
    cap = capsys.readouterr()
    assert rc == 0
    assert "T.K: kept (FK group members disagree)" in cap.out
    assert "T.K: varchar --> DECIMAL" in cap.out


# round 8: dedup subcommand — the fingerprint-index lifecycle CLI
# (verdict: the repo's most operational LLM-pipeline capability was
# library-only while every reference workflow got a subcommand)


def test_cli_dedup_lifecycle_end_to_end(spark, sf_smoke, tmp_path, capsys):
    """build -> probe (re-probe of indexed docs = exact dups) -> append ->
    probe fresh batch with --apply-new -> re-probe (now exact) ->
    compact. Every stage through the CLI against the real documents
    table."""
    import os

    docs = str(tmp_path / "docs")
    batch1 = str(tmp_path / "batch1")
    batch2 = str(tmp_path / "batch2")
    d = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    d.where("doc_id < 40").write.parquet(f"{docs}/documents.parquet")
    # batch1: 5 docs already indexed (ids shifted -> exact dups by content)
    d.where("doc_id < 5").selectExpr("doc_id + 90000 AS doc_id", "text") \
        .write.parquet(f"{batch1}/documents.parquet")
    # batch2: unseen docs
    d.where("doc_id >= 40 AND doc_id < 50").write.parquet(
        f"{batch2}/documents.parquet")
    index = str(tmp_path / "fpindex")

    rc = main(["dedup", "build", "--index", index, "--corpus", docs,
               "--buckets", "8"])
    cap = capsys.readouterr()
    assert rc == 0 and "index built: 40 documents" in cap.out
    assert os.path.exists(f"{index}/_index_meta.json")

    rc = main(["dedup", "probe", "--index", index, "--corpus", batch1,
               "--dry-run"])
    cap = capsys.readouterr()
    assert rc == 0
    assert "exact_dup: 5" in cap.out and "new: 0" in cap.out
    assert "dry run" in cap.err

    out = str(tmp_path / "decisions")
    rc = main(["dedup", "probe", "--index", index, "--corpus", batch2,
               "--out", out, "--apply-new"])
    cap = capsys.readouterr()
    assert rc == 0
    assert "new: 10" in cap.out and "appended 10 new fingerprints" in cap.out
    got = {r.status for r in spark.read.parquet(out).collect()}
    assert got == {"new"}

    # the appended docs are now exact dups on re-probe
    rc = main(["dedup", "probe", "--index", index, "--corpus", batch2,
               "--dry-run"])
    cap = capsys.readouterr()
    assert rc == 0 and "exact_dup: 10" in cap.out

    rc = main(["dedup", "compact", "--index", index])
    cap = capsys.readouterr()
    assert rc == 0
    assert "content: compacted to" in cap.out
    assert "bands: compacted to" in cap.out
    # compaction preserves probe results
    rc = main(["dedup", "probe", "--index", index, "--corpus", batch2,
               "--dry-run"])
    assert rc == 0 and "exact_dup: 10" in capsys.readouterr().out


def test_cli_dedup_meta_mismatch_is_an_error(spark, sf_smoke, tmp_path,
                                             capsys):
    """An explicit layout value contradicting the stored _index_meta must
    rc!=0 with a message naming the stored layout — never silently prune
    the wrong partitions (the round-7 trap, CLI edition)."""
    docs = str(tmp_path / "docs")
    spark.read.parquet(f"{sf_smoke}/documents.parquet").where(
        "doc_id < 20"
    ).write.parquet(f"{docs}/documents.parquet")
    index = str(tmp_path / "fpindex")
    rc = main(["dedup", "build", "--index", index, "--corpus", docs,
               "--num-perm", "16", "--buckets", "8"])
    assert rc == 0
    capsys.readouterr()

    # partition-layout contradiction (buckets) -> the library raise
    rc = main(["dedup", "probe", "--index", index, "--corpus", docs,
               "--buckets", "64", "--dry-run"])
    cap = capsys.readouterr()
    assert rc == 2
    assert "buckets=8" in cap.err and "prunes the wrong partitions" in cap.err

    # signing contradiction (shingle k) -> the CLI-level raise naming meta
    rc = main(["dedup", "append", "--index", index, "--corpus", docs,
               "--k", "9"])
    cap = capsys.readouterr()
    assert rc == 2
    assert "shingle_k=5" in cap.err and "stored layout" in cap.err


# round 8: ann subcommand — the vector sibling of dedup (IVF-PQ lifecycle)


def test_cli_ann_lifecycle_end_to_end(spark, sf_smoke, tmp_path, capsys):
    """suggest (measured neighbor geometry -> params) -> build (IVF-PQ,
    normalized) -> search (rerank default, planted duplicate must rank 1;
    --out writes parquet) -> normalization-contradiction error."""
    import json

    emb_dir = str(tmp_path / "emb")
    q_dir = str(tmp_path / "q")
    d = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    d.select("vec_id", "embedding").write.parquet(
        f"{emb_dir}/embeddings.parquet")
    # queries: 3 corpus vectors under shifted ids -> each one's nearest
    # corpus neighbor is its own source vector (scale-invariant under the
    # cosine normalization the build applies)
    d.where("vec_id < 3").selectExpr(
        "vec_id + 500000 AS vec_id",
        "transform(embedding, x -> CAST(x * 2.0 AS FLOAT)) AS embedding",
    ).write.parquet(f"{q_dir}/embeddings.parquet")
    index = str(tmp_path / "annindex")

    rc = main(["ann", "suggest", "--corpus", emb_dir, "--sample-queries",
               "10"])
    cap = capsys.readouterr()
    assert rc == 0
    assert "measured neighbor_cos" in cap.out
    assert '"method": "ivf_pq"' in cap.out

    rc = main(["ann", "build", "--index", index, "--corpus", emb_dir,
               "--n-centroids", "8", "--m", "8", "--pq-k", "32"])
    cap = capsys.readouterr()
    assert rc == 0 and "normalized=True" in cap.out
    meta = json.loads(open(f"{index}/_ann_meta.json").read())
    assert meta["normalized"] is True and meta["n_centroids"] == 8

    out_dir = str(tmp_path / "hits")
    rc = main(["ann", "search", "--index", index, "--queries", q_dir,
               "--k", "3", "--out", out_dir])
    cap = capsys.readouterr()
    assert rc == 0 and "3 queries" in cap.out
    hits = spark.read.parquet(out_dir)
    top1 = {r.query_id: r.neighbor_id for r in hits.where("rank = 1").collect()}
    # each scaled query's rank-1 neighbor is its source vector
    assert top1 == {500000: 0, 500001: 1, 500002: 2}

    rc = main(["ann", "search", "--index", index, "--queries", q_dir,
               "--no-normalize"])
    cap = capsys.readouterr()
    assert rc == 2 and "normalized=True" in cap.err

    rc = main(["ann", "build", "--index", index])
    assert rc == 2 and "--corpus" in capsys.readouterr().err


def test_cli_ann_zero_norm_embeddings_dropped_with_warning(
    spark, sf_smoke, tmp_path, capsys
):
    """An all-zero embedding cannot be L2-normalized — it must be DROPPED
    with a counted warning, not divided into NULL/NaN elements that flow
    into training/encode/search (round-8 ADVICE)."""
    emb_dir = str(tmp_path / "embz")
    d = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    zero = d.limit(1).selectExpr(
        "900000 AS vec_id",
        "transform(embedding, x -> CAST(0.0 AS FLOAT)) AS embedding",
    )
    d.select("vec_id", "embedding").unionByName(zero).write.parquet(
        f"{emb_dir}/embeddings.parquet")
    index = str(tmp_path / "annz")
    rc = main(["ann", "build", "--index", index, "--corpus", emb_dir,
               "--n-centroids", "4", "--m", "8", "--pq-k", "16"])
    cap = capsys.readouterr()
    assert rc == 0
    assert "dropped 1 row(s) with zero/NULL-norm" in cap.err
    # the zero vector is not in the index
    codes = spark.read.parquet(f"{index}/codes")
    assert codes.where("vec_id = 900000").count() == 0
    assert codes.count() == d.count()


def test_cli_dedup_and_ann_missing_index_is_a_clean_error(spark, tmp_path,
                                                          capsys):
    """Probing/compacting/searching a nonexistent index exits 2 with a
    message naming the fix, never a Spark traceback."""
    nowhere = str(tmp_path / "missing")
    rc = main(["dedup", "compact", "--index", nowhere])
    assert rc == 2 and "dedup build" in capsys.readouterr().err
    rc = main(["dedup", "probe", "--index", nowhere, "--corpus", nowhere])
    assert rc == 2 and "dedup build" in capsys.readouterr().err
    rc = main(["ann", "search", "--index", nowhere, "--queries", nowhere])
    assert rc == 2 and "ann build" in capsys.readouterr().err


def test_cli_ann_append_grows_index_with_stored_geometry(
    spark, sf_smoke, tmp_path, capsys, monkeypatch
):
    """ann append: new vectors encode with the STORED coarse/codebooks
    (never re-trained silently); an appended exact-duplicate of a query
    becomes its rank-1 hit; append and search each parse the index meta
    once; normalization contradictions exit 2."""
    emb_dir = str(tmp_path / "emb")
    extra_dir = str(tmp_path / "extra")
    q_dir = str(tmp_path / "q")
    d = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    d.where("vec_id >= 3").select("vec_id", "embedding").write.parquet(
        f"{emb_dir}/embeddings.parquet")
    # the appended batch: copies of vectors 0-2 under fresh ids
    d.where("vec_id < 3").selectExpr(
        "vec_id + 700000 AS vec_id", "embedding"
    ).write.parquet(f"{extra_dir}/embeddings.parquet")
    d.where("vec_id < 3").select("vec_id", "embedding").write.parquet(
        f"{q_dir}/embeddings.parquet")
    index = str(tmp_path / "annindex")

    rc = main(["ann", "build", "--index", index, "--corpus", emb_dir,
               "--n-centroids", "8", "--m", "8", "--pq-k", "32"])
    assert rc == 0
    capsys.readouterr()
    loads = _count_meta_loads(monkeypatch)
    rc = main(["ann", "append", "--index", index, "--corpus", extra_dir])
    cap = capsys.readouterr()
    assert rc == 0 and "appended 3 vectors" in cap.out

    out_dir = str(tmp_path / "hits")
    rc = main(["ann", "search", "--index", index, "--queries", q_dir,
               "--k", "2", "--out", out_dir])
    assert rc == 0
    assert loads == ["ann", "ann"]
    monkeypatch.undo()
    capsys.readouterr()
    top1 = {
        r.query_id: r.neighbor_id
        for r in spark.read.parquet(out_dir).where("rank = 1").collect()
    }
    # each query's rank-1 hit is its appended duplicate
    assert top1 == {0: 700000, 1: 700001, 2: 700002}

    rc = main(["ann", "append", "--index", index, "--corpus", extra_dir,
               "--no-normalize"])
    assert rc == 2 and "normalized=True" in capsys.readouterr().err


def test_cli_ann_drift_gates_rebuild(spark, sf_smoke, tmp_path, capsys):
    """ann drift: self-comparison exits 0 with ~zero tv_ppm; a collapsed
    corpus exits 1 (the CI rebuild gate)."""
    import json as _json

    emb_dir = str(tmp_path / "emb")
    flat_dir = str(tmp_path / "flat")
    d = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    d.select("vec_id", "embedding").write.parquet(
        f"{emb_dir}/embeddings.parquet")
    d.selectExpr(
        "vec_id", "transform(embedding, x -> CAST(1.0 AS FLOAT)) AS embedding"
    ).write.parquet(f"{flat_dir}/embeddings.parquet")
    index = str(tmp_path / "annindex")
    assert main(["ann", "build", "--index", index, "--corpus", emb_dir,
                 "--n-centroids", "8", "--m", "8", "--pq-k", "32"]) == 0
    capsys.readouterr()

    rc = main(["ann", "drift", "--index", index, "--corpus", emb_dir])
    cap = capsys.readouterr()
    assert rc == 0 and _json.loads(cap.out)["tv_ppm"] <= 1_000

    rc = main(["ann", "drift", "--index", index, "--corpus", flat_dir])
    cap = capsys.readouterr()
    assert rc == 1 and _json.loads(cap.out)["tv_ppm"] > 500_000


# round 9: sample subcommand — the training-data draw behind one CLI
# (the dedup/ann treatment applied to the sampling family)


def test_cli_sample_draws_end_to_end(spark, sf_smoke, tmp_path, capsys):
    """Each action through the real CLI against the documents table, with
    EXACT expected counts (deterministic md5 draws: the CLI must agree
    with the library operator row for row)."""
    from database_migration_spark.operators.sampling import (
        hash_split,
        pps_systematic_sample,
        stratified_sample,
    )

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")

    # pps: n=50 over n_chars — expected ids from the library operator
    want_pps = {
        r.doc_id
        for r in pps_systematic_sample(docs, "doc_id", "n_chars", 50).collect()
    }
    out = str(tmp_path / "pps")
    rc = main(["sample", "pps", "--source", sf_smoke, "--table", "documents",
               "--weight-col", "n_chars", "--n", "50", "--out", out])
    cap = capsys.readouterr()
    assert rc == 0
    assert f"sample pps: {len(want_pps)}/500 rows kept" in cap.out
    assert "weight mass kept:" in cap.out
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert got == want_pps

    # stratified: 3 per source over 20 sources = exactly 60, same ids
    want_strat = {
        r.doc_id
        for r in stratified_sample(docs, ["source"], "doc_id", 3).collect()
    }
    rc = main(["sample", "stratified", "--source", sf_smoke, "--table",
               "documents", "--strata-cols", "source",
               "--n-per-stratum", "3", "--dry-run"])
    cap = capsys.readouterr()
    assert rc == 0 and len(want_strat) == 60
    assert "sample stratified: 60/500 rows kept" in cap.out
    assert "strata: 20" in cap.out
    assert "dry run" in cap.err

    # mix: keep ALL of src0, none of src1 (exact per-domain counts)
    rc = main(["sample", "mix", "--source", sf_smoke, "--table",
               "documents", "--domain-col", "source",
               "--weights", "src0=1000000,src1=0", "--dry-run"])
    cap = capsys.readouterr()
    assert rc == 0
    assert "sample mix: 25/500 rows kept" in cap.out
    assert "kept per domain: src0=25, src1=0" in cap.out

    # split: per-split counts match the library call exactly
    lib = {
        r.split: r["count"]
        for r in hash_split(docs, "doc_id").groupBy("split").count().collect()
    }
    rc = main(["sample", "split", "--source", sf_smoke, "--table",
               "documents", "--dry-run"])
    cap = capsys.readouterr()
    assert rc == 0
    assert (
        f"split counts: train={lib.get('train', 0)}, "
        f"val={lib.get('val', 0)}, test={lib.get('test', 0)}" in cap.out
    )

    # calibrate with a top-40% gate per source: 500 docs, 20 groups of 25
    # -> pct_ppm >= 600000 keeps ranks 16..25 of each group = 200 rows
    out2 = str(tmp_path / "cal")
    rc = main(["sample", "calibrate", "--source", sf_smoke, "--table",
               "documents", "--score-col", "n_chars", "--group-cols",
               "source", "--threshold-ppm", "600000", "--out", out2])
    cap = capsys.readouterr()
    assert rc == 0
    assert "sample calibrate: 200/500 rows kept" in cap.out
    cal = spark.read.parquet(out2)
    assert cal.count() == 200 and "pct_ppm" in cal.columns
    assert cal.agg({"pct_ppm": "min"}).collect()[0][0] >= 600_000


def test_cli_sample_bad_params_exit_2(spark, sf_smoke, tmp_path, capsys):
    """rc=2 with a naming message on every bad-parameter class."""
    # missing per-action args
    rc = main(["sample", "pps", "--source", sf_smoke, "--table",
               "documents", "--dry-run"])
    assert rc == 2
    assert "--weight-col" in capsys.readouterr().err
    # draw with no destination and no --dry-run
    rc = main(["sample", "split", "--source", sf_smoke, "--table",
               "documents"])
    assert rc == 2
    assert "--out" in capsys.readouterr().err
    # unknown column
    rc = main(["sample", "pps", "--source", sf_smoke, "--table",
               "documents", "--weight-col", "nope", "--n", "5",
               "--dry-run"])
    assert rc == 2
    assert "nope" in capsys.readouterr().err
    # bad mixture rate (ppm out of range)
    rc = main(["sample", "mix", "--source", sf_smoke, "--table",
               "documents", "--domain-col", "source",
               "--weights", "src0=2000000", "--dry-run"])
    assert rc == 2
    assert "parts-per-million" in capsys.readouterr().err
    # malformed weights entry
    rc = main(["sample", "mix", "--source", sf_smoke, "--table",
               "documents", "--domain-col", "source",
               "--weights", "src0", "--dry-run"])
    assert rc == 2
    assert "domain=ppm" in capsys.readouterr().err
    # n < 1
    rc = main(["sample", "pps", "--source", sf_smoke, "--table",
               "documents", "--weight-col", "n_chars", "--n", "0",
               "--dry-run"])
    assert rc == 2
    assert ">= 1" in capsys.readouterr().err
    # degenerate split
    rc = main(["sample", "split", "--source", sf_smoke, "--table",
               "documents", "--val-permille", "600",
               "--test-permille", "500", "--dry-run"])
    assert rc == 2
    assert "below" in capsys.readouterr().err


# round 9: --partitions on the batch scd2/cdc subcommands — the CLI reach
# of the partition-surgical target maintenance


def test_cli_cdc_partitioned_is_surgical_and_matches_plain(
    spark, tmp_path, capsys
):
    """cdc --partitions: the second apply rewrites ONLY the partitions the
    feed touches (untouched dirs byte-identical), results equal the plain
    layout's, and a layout contradiction is a clean rc=2."""
    import os

    from database_migration_spark.functions.io import PT_COL

    schema = "k LONG, v STRING, seq LONG, op STRING"
    ev0, ev1 = str(tmp_path / "pe0"), str(tmp_path / "pe1")
    spark.createDataFrame(
        [(k, f"v{k}", 10, "I") for k in range(32)], schema
    ).write.parquet(f"{ev0}/events.parquet")
    spark.createDataFrame(
        [(7, "v7b", 20, "U"), (9, "x", 20, "D")], schema
    ).write.parquet(f"{ev1}/events.parquet")

    def snap(path):
        out = {}
        for root, _, files in os.walk(path):
            for f in files:
                p = os.path.join(root, f)
                st = os.stat(p)
                out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime_ns)
        return out

    tgt = str(tmp_path / "ptgt")
    rc = main(["cdc", "--events", ev0, "--target", tgt, "--keys", "k",
               "--partitions", "8"])
    assert rc == 0
    assert os.path.exists(f"{tgt}/_target_meta.json")
    s0 = snap(tgt)
    # second apply resolves the layout from the store (no flag passed)
    rc = main(["cdc", "--events", ev1, "--target", tgt, "--keys", "k"])
    cap = capsys.readouterr()
    assert rc == 0 and "target now has 31 rows" in cap.out
    s1 = snap(tgt)
    got = {r.k: r.v for r in spark.read.parquet(tgt).drop(PT_COL).collect()}
    want = {k: f"v{k}" for k in range(32) if k != 9}
    want[7] = "v7b"
    assert got == want
    # untouched partitions kept their file identity
    from database_migration_spark.functions.io import pt_expr

    pts = {
        r["k"]: r["p"]
        for r in spark.createDataFrame([(7,), (9,)], "k LONG")
        .select("k", pt_expr(["k"], 8).alias("p")).collect()
    }
    touched = {f"{PT_COL}={pts[7]}", f"{PT_COL}={pts[9]}"}
    untouched = lambda s: {  # noqa: E731
        p: v for p, v in s.items()
        if p.split(os.sep)[0] not in touched and not p.endswith(".json")
    }
    assert untouched(s0) == untouched(s1)
    # contradicting the stored layout is a clean error
    rc = main(["cdc", "--events", ev1, "--target", tgt, "--keys", "k",
               "--partitions", "16"])
    assert rc == 2 and "partitions=16" in capsys.readouterr().err


def test_cli_scd2_partitioned_matches_plain(spark, tmp_path, capsys):
    """scd2 --partitions: bootstrap + drifted merge produce the same
    dimension content as the plain layout; close_missing + partitions is
    a clean rc=2."""
    from database_migration_spark.functions.io import PT_COL

    schema = "id long, seg string"

    def run(tag, extra):
        src = tmp_path / f"s9_{tag}"
        src.mkdir()
        spark.createDataFrame([(1, "A"), (2, "B")], schema).coalesce(1) \
            .write.parquet(str(src / "items.parquet"))
        dim = str(tmp_path / f"d9_{tag}")
        rc = main(["scd2", "--source", str(src), "--table", "items",
                   "--target", dim, "--keys", "id"] + extra)
        assert rc == 0
        spark.createDataFrame([(2, "B2"), (3, "C")], schema).coalesce(1) \
            .write.parquet(str(src / "items.parquet"), mode="overwrite")
        # the second run resolves the layout from the store
        rc = main(["scd2", "--source", str(src), "--table", "items",
                   "--target", dim, "--keys", "id"])
        assert rc == 0
        df = spark.read.parquet(dim)
        if PT_COL in df.columns:
            df = df.drop(PT_COL)
        return {tuple(r) for r in df.select(
            "id", "seg", "valid_from", "valid_to", "is_current").collect()}

    assert run("plain", []) == run("part", ["--partitions", "4"]) == {
        (1, "A", 0, None, True),
        (2, "B", 0, 1, False),
        (2, "B2", 1, None, True),
        (3, "C", 1, None, True),
    }

    rc = main(["scd2", "--source", str(tmp_path / "s9_plain"), "--table",
               "items", "--target", str(tmp_path / "d9_x"), "--keys", "id",
               "--partitions", "4", "--close-missing"])
    assert rc == 2
    assert "close-missing" in capsys.readouterr().err


def test_cli_sample_topmass(spark, sf_smoke, tmp_path, capsys):
    """topmass through the CLI: exact agreement with the library draw and
    rc=2 on an out-of-range mass."""
    from database_migration_spark.operators.sampling import top_mass_sample

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    want = {
        r.doc_id
        for r in top_mass_sample(
            docs, "doc_id", "n_chars", "n_chars", 400_000,
            group_cols=["source"],
        ).collect()
    }
    rc = main(["sample", "topmass", "--source", sf_smoke, "--table",
               "documents", "--score-col", "n_chars", "--weight-col",
               "n_chars", "--mass-ppm", "400000", "--group-cols", "source",
               "--dry-run"])
    cap = capsys.readouterr()
    assert rc == 0
    assert f"sample topmass: {len(want)}/500 rows kept" in cap.out
    assert "weight mass kept:" in cap.out

    rc = main(["sample", "topmass", "--source", sf_smoke, "--table",
               "documents", "--score-col", "n_chars", "--weight-col",
               "n_chars", "--mass-ppm", "2000000", "--dry-run"])
    assert rc == 2
    assert "mass_ppm" in capsys.readouterr().err


def test_cli_sample_pack(spark, sf_smoke, tmp_path, capsys):
    """pack annotates every row with its training-sequence assignment —
    row counts preserved, pack ids match the library operator."""
    from database_migration_spark.operators.sampling import sequence_pack

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    lib = sequence_pack(docs, "doc_id", "n_chars", 50_000,
                        partition_cols=["source"])
    want = {(r.doc_id, r.pack_id, r.offset_tokens) for r in lib.collect()}
    out = str(tmp_path / "packs")
    rc = main(["sample", "pack", "--source", sf_smoke, "--table",
               "documents", "--token-col", "n_chars", "--budget", "50000",
               "--group-cols", "source", "--out", out])
    cap = capsys.readouterr()
    assert rc == 0
    assert "sample pack: 500/500 rows kept" in cap.out
    n_packs = lib.select("source", "pack_id").distinct().count()
    assert f"packs: {n_packs} of budget 50000" in cap.out
    got = {
        (r.doc_id, r.pack_id, r.offset_tokens)
        for r in spark.read.parquet(out).collect()
    }
    assert got == want

    rc = main(["sample", "pack", "--source", sf_smoke, "--table",
               "documents", "--token-col", "n_chars", "--budget", "0",
               "--dry-run"])
    assert rc == 2 and ">= 1" in capsys.readouterr().err


def test_cli_ann_compact_shrinks_files_and_preserves_hits(
    spark, sf_smoke, tmp_path, capsys
):
    """ann compact: append epochs accumulate files per cell; compaction
    rewrites each sub-index to one file per cell (rename-swap) and search
    results are unchanged."""
    import os

    emb_dir = str(tmp_path / "emb")
    b1, b2 = str(tmp_path / "b1"), str(tmp_path / "b2")
    q_dir = str(tmp_path / "q")
    d = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    d.where("vec_id < 60").select("vec_id", "embedding").write.parquet(
        f"{emb_dir}/embeddings.parquet")
    for path, lo, hi in ((b1, 60, 80), (b2, 80, 100)):
        d.where(f"vec_id >= {lo} AND vec_id < {hi}").select(
            "vec_id", "embedding").write.parquet(f"{path}/embeddings.parquet")
    d.where("vec_id < 3").selectExpr("vec_id + 700000 AS vec_id",
                                     "embedding").write.parquet(
        f"{q_dir}/embeddings.parquet")
    index = str(tmp_path / "annc")
    assert main(["ann", "build", "--index", index, "--corpus", emb_dir,
                 "--n-centroids", "4", "--m", "8", "--pq-k", "16"]) == 0
    assert main(["ann", "append", "--index", index, "--corpus", b1]) == 0
    assert main(["ann", "append", "--index", index, "--corpus", b2]) == 0
    capsys.readouterr()

    def hits():
        out = str(tmp_path / "hits_now")
        rc = main(["ann", "search", "--index", index, "--queries", q_dir,
                   "--k", "3", "--out", out])
        assert rc == 0
        capsys.readouterr()
        return {
            (r.query_id, r.neighbor_id, r.rank)
            for r in spark.read.parquet(out).collect()
        }

    def n_files(sub):
        return sum(
            len([f for f in fs if f.endswith(".parquet")])
            for _, _, fs in os.walk(f"{index}/{sub}")
        )

    before_hits = hits()
    files_before = n_files("codes")
    assert files_before > 4  # build + two appends landed extra files

    rc = main(["ann", "compact", "--index", index])
    cap = capsys.readouterr()
    assert rc == 0
    assert "codes: compacted to" in cap.out
    assert "vectors: compacted to" in cap.out
    assert n_files("codes") <= 4 and n_files("vectors") <= 4
    assert hits() == before_hits

    rc = main(["ann", "compact", "--index", str(tmp_path / "nope")])
    assert rc == 2 and "ann build" in capsys.readouterr().err


def test_cli_dedup_forget_takedown(spark, sf_smoke, tmp_path, capsys):
    """forget: the takedown pass drops ids from both sub-indexes by
    rewriting only the partitions that hold them; a re-probe of the
    forgotten docs' content then reports them as new (no fingerprint
    left to match), and untouched partitions keep their file identity."""
    import os

    docs = str(tmp_path / "fdocs")
    batch = str(tmp_path / "fbatch")
    d = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    d.where("doc_id < 40").write.parquet(f"{docs}/documents.parquet")
    # batch: copies of docs 0..4 under shifted ids -> exact dups
    d.where("doc_id < 5").selectExpr("doc_id + 91000 AS doc_id", "text") \
        .write.parquet(f"{batch}/documents.parquet")
    index = str(tmp_path / "fidx")
    assert main(["dedup", "build", "--index", index, "--corpus", docs,
                 "--buckets", "8"]) == 0
    rc = main(["dedup", "probe", "--index", index, "--corpus", batch,
               "--dry-run"])
    cap = capsys.readouterr()
    assert rc == 0 and "exact_dup: 5" in cap.out

    def snap():
        out = {}
        for root, _, files in os.walk(index):
            for f in files:
                p = os.path.join(root, f)
                st = os.stat(p)
                out[os.path.relpath(p, index)] = (st.st_size, st.st_mtime_ns)
        return out

    before = snap()
    rc = main(["dedup", "forget", "--index", index, "--ids", "0,1,2,3,4"])
    cap = capsys.readouterr()
    assert rc == 0
    assert "content: 5 rows dropped" in cap.out
    assert "bands:" in cap.out and "rows dropped" in cap.out
    after = snap()
    # some partitions rewrote; every file OUTSIDE the rewritten
    # partitions is untouched
    changed_parts = {
        p.split(os.sep)[0] + "/" + p.split(os.sep)[1]
        for p in set(before) ^ set(after)
        | {p for p in before if p in after and before[p] != after[p]}
        if os.sep in p
    }
    assert changed_parts  # the pass did rewrite something
    untouched = lambda s: {  # noqa: E731
        p: v for p, v in s.items()
        if os.sep in p
        and p.split(os.sep)[0] + "/" + p.split(os.sep)[1] not in changed_parts
    }
    assert untouched(before) == untouched(after)

    # the forgotten docs no longer match anything
    rc = main(["dedup", "probe", "--index", index, "--corpus", batch,
               "--dry-run"])
    cap = capsys.readouterr()
    assert rc == 0 and "new: 5" in cap.out and "exact_dup: 0" in cap.out

    # ids absent from the index: warning, rc stays 0
    rc = main(["dedup", "forget", "--index", index, "--ids", "999999"])
    cap = capsys.readouterr()
    assert rc == 0 and "none of the ids" in cap.err
    # no ids at all / missing index: clean rc=2
    rc = main(["dedup", "forget", "--index", index])
    assert rc == 2 and "--ids" in capsys.readouterr().err
    rc = main(["dedup", "forget", "--index", str(tmp_path / "noidx"),
               "--ids", "1"])
    assert rc == 2 and "dedup build" in capsys.readouterr().err


# round 9: hitters subcommand — exact heavy hitters behind one CLI


def test_cli_hitters_tokens_and_keys(spark, sf_smoke, tmp_path, capsys):
    # token mode matches the library operator over the same tokenizer
    from database_migration_spark.operators.sketches import heavy_hitters
    from database_migration_spark.operators.text import token_stream

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    want = {
        (r["term"], r["cnt"], r["share_ppm"])
        for r in heavy_hitters(token_stream(docs), "term", 10_000).collect()
    }
    out_dir = str(tmp_path / "hh")
    rc = main(["hitters", "--source", sf_smoke, "--table", "documents",
               "--tokenize-col", "text", "--ppm", "10000",
               "--out", out_dir])
    cap = capsys.readouterr()
    assert rc == 0
    assert f"{len(want)} heavy hitters at >= 10000 ppm" in cap.out
    got = {
        (r["term"], r["cnt"], r["share_ppm"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == want

    # keys mode with a weight column: every source is ~5% of 20 — all in
    rc = main(["hitters", "--source", sf_smoke, "--table", "documents",
               "--keys", "source", "--weight-col", "n_chars",
               "--ppm", "20000"])
    cap = capsys.readouterr()
    assert rc == 0 and "heavy hitters at >= 20000 ppm" in cap.out


def test_cli_hitters_bad_params_exit_2(spark, sf_smoke, capsys):
    # exactly one of --keys / --tokenize-col
    rc = main(["hitters", "--source", sf_smoke, "--table", "documents",
               "--ppm", "10000"])
    assert rc == 2 and "exactly one" in capsys.readouterr().err
    rc = main(["hitters", "--source", sf_smoke, "--table", "documents",
               "--keys", "source", "--tokenize-col", "text",
               "--ppm", "10000"])
    assert rc == 2 and "exactly one" in capsys.readouterr().err
    # unknown column
    rc = main(["hitters", "--source", sf_smoke, "--table", "documents",
               "--keys", "nope", "--ppm", "10000"])
    assert rc == 2 and "nope" in capsys.readouterr().err
    # ppm out of range
    rc = main(["hitters", "--source", sf_smoke, "--table", "documents",
               "--keys", "source", "--ppm", "0"])
    assert rc == 2 and "threshold_ppm" in capsys.readouterr().err
    # summary size below the guarantee bound names the fix
    rc = main(["hitters", "--source", sf_smoke, "--table", "documents",
               "--keys", "source", "--ppm", "10000",
               "--summary-size", "5"])
    assert rc == 2 and "no-false-negative" in capsys.readouterr().err


def test_cli_hitters_weight_with_tokenize_exits_2(spark, sf_smoke, capsys):
    rc = main(["hitters", "--source", sf_smoke, "--table", "documents",
               "--tokenize-col", "text", "--weight-col", "n_chars",
               "--ppm", "10000"])
    assert rc == 2 and "--weight-col" in capsys.readouterr().err


def test_cli_dedup_forget_non_integer_id_exits_2(spark, sf_smoke, tmp_path,
                                                 capsys):
    index = str(tmp_path / "ix")
    rc = main(["dedup", "build", "--index", index, "--corpus", sf_smoke,
               "--table", "documents"])
    capsys.readouterr()
    assert rc == 0
    rc = main(["dedup", "forget", "--index", index, "--ids", "17,doc42"])
    cap = capsys.readouterr()
    assert rc == 2 and "integers" in cap.err


def test_cli_scd2_empty_source_partitioned_does_not_create_store(
    spark, sf_smoke, tmp_path, capsys
):
    # an empty snapshot bootstrap must NOT leave a meta-only directory a
    # later read would crash on (publish_surgical's shared guard — the
    # cdc command had it, scd2 did not; review finding)
    src = str(tmp_path / "empty_src")
    spark.read.parquet(f"{sf_smoke}/customer.parquet").limit(0).coalesce(
        1
    ).write.parquet(f"{src}/customer.parquet")
    target = str(tmp_path / "dim")
    rc = main(["scd2", "--source", src, "--table", "customer",
               "--target", target, "--keys", "c_custkey",
               "--partitions", "4"])
    cap = capsys.readouterr()
    assert rc == 0 and "source is empty" in cap.out
    import os

    assert not os.path.exists(os.path.join(target, "_target_meta.json"))
    # and a later real run bootstraps cleanly into the same path
    rc = main(["scd2", "--source", sf_smoke, "--table", "customer",
               "--target", target, "--keys", "c_custkey",
               "--partitions", "4"])
    cap = capsys.readouterr()
    assert rc == 0 and "bootstrap" in cap.out


def test_cli_dedup_overlap_end_to_end(spark, tmp_path, capsys):
    """The winnowing/MOSS shared-passage route (round-9's one
    library-only capability, now CLI-reachable): exact pair counts on
    the planted-passage and boilerplate corpora test_winnow pins for the
    library API, driven through `dedup overlap` with --dry-run, --out
    and --max-bucket."""
    import os

    passage = "the quick brown fox jumps over the lazy dog again and again"
    planted = str(tmp_path / "planted")
    spark.createDataFrame(
        [
            (1, f"unrelated prefix one {passage} suffix alpha"),
            (2, f"another document entirely {passage} with its own tail"),
            (3, "no shared content here at all, completely different words"),
            (4, "yet another unrelated document with distinct vocabulary"),
        ],
        "doc_id int, text string",
    ).write.parquet(f"{planted}/documents.parquet")

    rc = main(["dedup", "overlap", "--corpus", planted, "--dry-run"])
    cap = capsys.readouterr()
    assert rc == 0
    assert "1 overlapping pair(s) at min_shared=5" in cap.out
    assert "1 ~ 2:" in cap.out

    out = str(tmp_path / "pairs")
    rc = main(["dedup", "overlap", "--corpus", planted, "--out", out])
    cap = capsys.readouterr()
    assert rc == 0 and f"pair table written to {out}" in cap.out
    got = [
        (r.doc_a, r.doc_b)
        for r in spark.read.parquet(out).collect()
    ]
    assert got == [(1, 2)]
    assert not os.path.exists(out + ".tmp")

    # boilerplate corpus: all C(6,2)=15 pairs uncapped, 0 with the cap
    # below the boilerplate's document count (the SIGMOD'03 rule)
    boiler = "standard legal disclaimer text appended to every document"
    bdir = str(tmp_path / "boiler")
    spark.createDataFrame(
        [(i, f"unique content {i} aaa {boiler}") for i in range(1, 7)],
        "doc_id int, text string",
    ).write.parquet(f"{bdir}/documents.parquet")
    rc = main(["dedup", "overlap", "--corpus", bdir, "--min-shared", "3",
               "--dry-run"])
    cap = capsys.readouterr()
    assert rc == 0 and "15 overlapping pair(s)" in cap.out
    rc = main(["dedup", "overlap", "--corpus", bdir, "--min-shared", "3",
               "--max-bucket", "5", "--dry-run"])
    cap = capsys.readouterr()
    assert rc == 0 and "0 overlapping pair(s)" in cap.out


def test_cli_dedup_overlap_bad_params_exit_2(spark, tmp_path, capsys):
    corpus = str(tmp_path / "c")
    spark.createDataFrame([(1, "x")], "doc_id int, text string") \
        .write.parquet(f"{corpus}/documents.parquet")
    # no --out and no --dry-run: refuse to run a silent draw
    rc = main(["dedup", "overlap", "--corpus", corpus])
    assert rc == 2
    assert "--out" in capsys.readouterr().err
    rc = main(["dedup", "overlap", "--corpus", corpus, "--min-shared", "0",
               "--dry-run"])
    assert rc == 2
    assert "--min-shared >= 1" in capsys.readouterr().err
    rc = main(["dedup", "overlap", "--corpus", corpus, "--max-bucket", "1",
               "--dry-run"])
    assert rc == 2
    assert "--max-bucket >= 2" in capsys.readouterr().err
    rc = main(["dedup", "overlap", "--dry-run"])
    assert rc == 2
    assert "--corpus" in capsys.readouterr().err
    # the index-requiring actions still fail cleanly without --index
    # (it became optional for overlap's sake)
    rc = main(["dedup", "probe", "--corpus", corpus, "--dry-run"])
    assert rc == 2
    assert "--index" in capsys.readouterr().err


def test_cli_sample_split_cluster_labels(spark, sf_smoke, tmp_path, capsys):
    """--cluster-labels keys the split hash on the near-dup cluster: no
    labeled pair spans splits, counts match the library call, and a
    labels table missing the cluster column exits 2."""
    from database_migration_spark.operators.sampling import cluster_safe_split

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    labels_dir = str(tmp_path / "labels")
    # pair up doc ids 0..39 into 20 clusters; everything else singleton
    docs.selectExpr(
        "doc_id AS id",
        "CASE WHEN doc_id < 40 THEN doc_id - doc_id % 2 "
        "ELSE doc_id END AS cluster_id",
    ).write.parquet(f"{labels_dir}/labels.parquet")

    out = str(tmp_path / "split_out")
    rc = main(["sample", "split", "--source", sf_smoke, "--table",
               "documents", "--cluster-labels", labels_dir,
               "--val-permille", "200", "--test-permille", "200",
               "--out", out])
    cap = capsys.readouterr()
    assert rc == 0
    got = {r.doc_id: r.split for r in spark.read.parquet(out).collect()}
    assert len(got) == 500
    for i in range(0, 40, 2):
        assert got[i] == got[i + 1]
    # counts line matches the library composition exactly
    labels = spark.read.parquet(f"{labels_dir}/labels.parquet")
    lib = {
        r.split: r["count"]
        for r in cluster_safe_split(
            docs, "doc_id", labels, val_permille=200, test_permille=200
        ).groupBy("split").count().collect()
    }
    assert (
        f"split counts: train={lib.get('train', 0)}, "
        f"val={lib.get('val', 0)}, test={lib.get('test', 0)}" in cap.out
    )

    # a labels table without the cluster column names the fix
    rc = main(["sample", "split", "--source", sf_smoke, "--table",
               "documents", "--cluster-labels", labels_dir,
               "--cluster-col", "nope", "--dry-run"])
    assert rc == 2
    assert "--cluster-col" in capsys.readouterr().err


# round 10: --zorder on compact — the layout step where dist_key_advisor
# only advises


def test_cli_compact_zorder_clusters_both_dims(spark, tmp_path, capsys):
    from database_migration_spark.operators.layout import (
        file_span_stats,
        pruning_fraction,
    )

    src = str(tmp_path / "flat")
    rows = [(i, (i * 7919) % 5000, (i * 104729) % 5000)
            for i in range(10_000)]
    spark.createDataFrame(rows, "id LONG, a LONG, b LONG") \
        .repartition(24).write.parquet(src)

    dest = str(tmp_path / "zed")
    rc = main(["compact", "--source", src, "--dest", dest,
               "--target-mb", "1", "--zorder", "a,b"])
    cap = capsys.readouterr()
    assert rc == 0
    assert "z-ordered files" in cap.out and "span fraction" in cap.out
    assert "rows: 10000 -> 10000" in cap.out
    stats = file_span_stats(dest, ["a", "b"])
    if len(stats) >= 4:  # pruning needs >1 file to mean anything
        assert pruning_fraction(stats, "b", 0, 499) > 0.0
        assert pruning_fraction(stats, "a", 0, 499) > 0.0

    # rc=2 paths: unknown column, zorder+partition-col, bad bits
    rc = main(["compact", "--source", src, "--dest", dest,
               "--zorder", "nope"])
    assert rc == 2 and "nope" in capsys.readouterr().err
    rc = main(["compact", "--source", src, "--dest", dest,
               "--zorder", "a,b", "--partition-col", "a"])
    assert rc == 2 and "--partition-col" in capsys.readouterr().err
    rc = main(["compact", "--source", src, "--dest", dest,
               "--zorder", "a,b", "--zorder-bits", "40"])
    assert rc == 2 and "bits" in capsys.readouterr().err


def test_cli_dedup_cluster_feeds_leakage_safe_split(
    spark, sf_smoke, tmp_path, capsys
):
    """The full CLI lifecycle: dedup cluster writes the (id, cluster_id)
    label table, sample split --cluster-labels consumes it, and no
    near-dup pair straddles the resulting holdout."""
    d = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    corpus = str(tmp_path / "corpus")
    # 50 originals + exact copies of 10 of them under shifted ids ->
    # exactly 10 two-member clusters, 40 singletons
    base = d.where("doc_id < 50")
    copies = d.where("doc_id < 10").selectExpr(
        "doc_id + 90000 AS doc_id", "text", "lang", "source", "n_chars"
    )
    base.unionByName(copies).write.parquet(f"{corpus}/documents.parquet")

    labels_out = str(tmp_path / "labels")
    rc = main(["dedup", "cluster", "--corpus", corpus, "--out", labels_out])
    cap = capsys.readouterr()
    assert rc == 0
    # the base slice carries one natural near-dup pair of its own, so
    # assert structure: every planted copy clusters with its original
    assert "60 documents -> " in cap.out and "with >1 member" in cap.out
    labs = {r.id: r.cluster_id for r in
            spark.read.parquet(labels_out).collect()}
    assert len(labs) == 60
    assert all(labs[i + 90000] == labs[i] for i in range(10))

    split_out = str(tmp_path / "split")
    rc = main(["sample", "split", "--source", corpus, "--table",
               "documents", "--cluster-labels", labels_out,
               "--val-permille", "300", "--test-permille", "300",
               "--out", split_out])
    assert rc == 0
    got = {r.doc_id: r.split for r in
           spark.read.parquet(split_out).collect()}
    assert len(got) == 60
    for i in range(10):
        assert got[i] == got[i + 90000], f"dup pair {i} straddles splits"

    # cluster without --out and without --dry-run exits 2
    rc = main(["dedup", "cluster", "--corpus", corpus])
    assert rc == 2
    assert "--out" in capsys.readouterr().err
    # dry run prints stats, writes nothing
    rc = main(["dedup", "cluster", "--corpus", corpus, "--dry-run"])
    cap = capsys.readouterr()
    assert rc == 0 and "clusters" in cap.out


def test_cli_dedup_cluster_bad_knobs_exit_2(spark, sf_smoke, capsys):
    rc = main(["dedup", "cluster", "--corpus", sf_smoke, "--table",
               "documents", "--k", "0", "--dry-run"])
    assert rc == 2
    assert ">= 1" in capsys.readouterr().err
    rc = main(["dedup", "cluster", "--corpus", sf_smoke, "--table",
               "documents", "--num-perm", "30", "--bands", "4",
               "--dry-run"])
    assert rc == 2
    assert "divisible" in capsys.readouterr().err
    rc = main(["dedup", "cluster", "--corpus", sf_smoke, "--table",
               "documents", "--min-agree", "1500", "--dry-run"])
    assert rc == 2
    assert "permille" in capsys.readouterr().err


# round 11: layout append/report + text extract — CLI reachability for the
# round-10 operators (the lifecycle-complete convention)


def _count_meta_loads(monkeypatch) -> list:
    """Record the kind of every meta file store_meta parses."""
    from database_migration_spark.functions import store_meta

    loads, load = [], store_meta._load

    def counted(path, kind):
        loads.append(kind)
        return load(path, kind)

    monkeypatch.setattr(store_meta, "_load", counted)
    return loads


def test_cli_layout_append_then_report(spark, tmp_path, capsys, monkeypatch):
    """Write (compact --zorder), grow (layout append), inspect (layout
    report): per-file spans stay bounded across old+new files because the
    append clusters on the STORED grid and parses the layout meta once;
    contradictions exit 2."""
    from database_migration_spark.operators.layout import (
        zorder_span_report,
    )

    src = str(tmp_path / "flat")
    rows = [(i, (i * 7919) % 5000, (i * 104729) % 5000)
            for i in range(10_000)]
    spark.createDataFrame(rows, "id LONG, a LONG, b LONG") \
        .repartition(8).write.parquet(src)
    dest = str(tmp_path / "zed")
    rc = main(["compact", "--source", src, "--dest", dest,
               "--target-mb", "1", "--zorder", "a,b"])
    assert rc == 0
    capsys.readouterr()

    batch = str(tmp_path / "batch")
    spark.createDataFrame(
        [(100_000 + i, (i * 31) % 5000, (i * 17) % 5000)
         for i in range(2_000)],
        "id LONG, a LONG, b LONG",
    ).write.parquet(f"{batch}/delta.parquet")

    loads = _count_meta_loads(monkeypatch)
    rc = main(["layout", "append", "--target", dest, "--batch", batch])
    cap = capsys.readouterr()
    assert rc == 0
    assert loads == ["layout"]
    monkeypatch.undo()
    assert "appended -> rows=12000" in cap.out
    assert "span fraction" in cap.out
    assert spark.read.parquet(dest).count() == 12_000
    rep = zorder_span_report(dest, ["a", "b"])
    if rep["files"] >= 4:  # spans bounded on BOTH dims, old + new files
        assert rep["a"] < 0.6 and rep["b"] < 0.6

    rc = main(["layout", "report", "--target", dest])
    cap = capsys.readouterr()
    assert rc == 0
    assert "cols=a,b" in cap.out and "rows=12000" in cap.out

    # rc=2 fix-naming paths: grid contradictions, missing batch/layout
    rc = main(["layout", "append", "--target", dest, "--batch", batch,
               "--cols", "a"])
    assert rc == 2 and "cols=" in capsys.readouterr().err
    rc = main(["layout", "append", "--target", dest, "--batch", batch,
               "--bits", "3"])
    assert rc == 2 and "bits=" in capsys.readouterr().err
    rc = main(["layout", "append", "--target", dest])
    assert rc == 2 and "--batch" in capsys.readouterr().err
    rc = main(["layout", "report", "--target", str(tmp_path / "nowhere")])
    assert rc == 2 and "compact --zorder" in capsys.readouterr().err


def test_cli_text_extract_markup(spark, tmp_path, capsys):
    """The web-ingestion front door: exact expected text/n_lines/n_chars
    over an HTML fixture (nav dropped by link density, script/comment
    gone, entities decoded), NULL-markup rows dropped, rc=2 fix-naming
    on bad parameters."""
    html = (
        '<html><head><title>T</title>'
        '<script>if (a<2 && b>3) { f("x&y"); }</script></head>'
        '<body><div class="nav"><a href="/h">Home</a> '
        '<a href="/a">About</a></div>'
        "<h1>Head</h1><p>Real prose, plainly long enough to keep.</p>"
        "<p>Tail &lt;tag&gt;&nbsp;end</p><!-- note --></body></html>"
    )
    src = str(tmp_path / "web")
    spark.createDataFrame(
        [(1, html), (2, None)], "doc_id LONG, html STRING"
    ).write.parquet(f"{src}/pages.parquet")

    out = str(tmp_path / "extracted")
    rc = main(["text", "extract", "--source", src, "--out", out])
    cap = capsys.readouterr()
    assert rc == 0 and "wrote 1 extracted docs" in cap.out
    row = spark.read.parquet(out).collect()[0]
    expected = "T\nHead\nReal prose, plainly long enough to keep.\nTail <tag> end"
    assert row.doc_id == 1
    assert row.text == expected
    assert row.n_lines == 4 and row.n_chars == len(expected)

    # dry run prints the keep/drop accounting, writes nothing
    rc = main(["text", "extract", "--source", src, "--dry-run"])
    cap = capsys.readouterr()
    assert rc == 0
    assert "docs=1 (of 2; 1 NULL-markup dropped)" in cap.out
    assert f"kept_chars={len(expected)}" in cap.out

    # a permissive density keeps the nav line too
    rc = main(["text", "extract", "--source", src, "--dry-run",
               "--max-anchor-ppm", "1000000"])
    cap = capsys.readouterr()
    assert rc == 0 and "kept_lines=5" in cap.out

    # rc=2 fix-naming paths
    rc = main(["text", "extract", "--source", src])
    assert rc == 2 and "--out or --dry-run" in capsys.readouterr().err
    rc = main(["text", "extract", "--source", src, "--dry-run",
               "--max-anchor-ppm", "2000000"])
    assert rc == 2 and "ppm" in capsys.readouterr().err
    rc = main(["text", "extract", "--source", src, "--dry-run",
               "--markup-col", "nope"])
    assert rc == 2 and "nope" in capsys.readouterr().err


def test_cli_privacy_audit_and_enforce(spark, sf_smoke, tmp_path, capsys):
    """The release gate: audit exits 1 when enforcing k would suppress
    rows (the validate/expect red-gate convention), enforce writes the
    releasable relation with the floor provable, rc=2 names bad knobs."""
    rc = main(["privacy", "audit", "--source", sf_smoke, "--table",
               "customer", "--qi", "c_nationkey,c_mktsegment",
               "--sensitive", "c_mktsegment", "--k", "2"])
    cap = capsys.readouterr()
    # sf0.001 customer: 150 rows over 25x5 classes -> some singletons
    assert "k_min=" in cap.out and "rows_below_k_ppm=" in cap.out
    assert "l_min=" in cap.out
    if rc == 1:
        assert "FAIL" in cap.err and "re-identify" in cap.err
    else:
        assert rc == 0

    out = str(tmp_path / "released")
    rc = main(["privacy", "enforce", "--source", sf_smoke, "--table",
               "customer", "--qi", "c_nationkey,c_mktsegment",
               "--k", "2", "--out", out])
    cap = capsys.readouterr()
    assert rc == 0 and "releasable rows" in cap.out
    rel = spark.read.parquet(out)
    assert rel.where("class_size < 2").count() == 0
    # the released relation now PASSES its own audit at the same k/qi
    rdir = str(tmp_path / "reldir")
    rel.drop("class_size").write.parquet(f"{rdir}/customer.parquet")
    rc = main(["privacy", "audit", "--source", rdir, "--qi",
               "c_nationkey,c_mktsegment", "--k", "2"])
    assert rc == 0
    capsys.readouterr()

    # dry run prints the accounting, writes nothing
    rc = main(["privacy", "enforce", "--source", sf_smoke, "--table",
               "customer", "--qi", "c_nationkey,c_mktsegment",
               "--k", "2", "--dry-run"])
    cap = capsys.readouterr()
    assert rc == 0 and "keep=" in cap.out and "suppress=" in cap.out

    # rc=2 fix-naming paths
    rc = main(["privacy", "audit", "--source", sf_smoke, "--table",
               "customer", "--qi", ""])
    assert rc == 2 and "--qi" in capsys.readouterr().err
    rc = main(["privacy", "audit", "--source", sf_smoke, "--table",
               "customer", "--qi", "c_nationkey", "--k", "0"])
    assert rc == 2 and ">= 1" in capsys.readouterr().err
    rc = main(["privacy", "enforce", "--source", sf_smoke, "--table",
               "customer", "--qi", "c_nationkey"])
    assert rc == 2 and "--out or --dry-run" in capsys.readouterr().err
    rc = main(["privacy", "audit", "--source", sf_smoke, "--table",
               "customer", "--qi", "c_nationkey,nope"])
    assert rc == 2 and "nope" in capsys.readouterr().err


def test_cli_layout_stats(spark, tmp_path, capsys):
    src = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, i % 10) for i in range(5_000)], "id LONG, k LONG"
    ).write.parquet(src)
    rc = main(["layout", "stats", "--target", src])
    cap = capsys.readouterr()
    assert rc == 0
    assert "B compressed" in cap.out and "ratio" in cap.out
    assert "id:" in cap.out and "k:" in cap.out
    rc = main(["layout", "stats", "--target", str(tmp_path / "none")])
    assert rc == 2 and "not a directory" in capsys.readouterr().err


def test_cli_pipeline_markup_col_extracts_before_cleaning(
    spark, tmp_path, capsys
):
    """--markup-col on pipeline: the quality stages score EXTRACTED
    prose. A doc whose markup wraps good prose in a link farm survives;
    without extraction the same corpus is boilerplate."""
    def prose(i):
        return (
            f"document number {i} is a perfectly reasonable paragraph "
            f"of training text about topic{i} with plenty of ordinary "
            f"words that passes every quality threshold because it is "
            f"long and alphabetic and contains no markup at all "
            f"just plain prose concerning subject{i} and theme{i * 7}"
        )

    nav = '<div class="nav">' + " ".join(
        f'<a href="/l{i}">link{i}</a>' for i in range(30)
    ) + "</div>"
    rows = [
        (i, f"<html><body>{nav}<p>{prose(i)}</p></body></html>", "web")
        for i in range(40)
    ]
    # the bench slice uses DISTINCT vocabulary: the contamination stage
    # measures n-gram overlap vs this slice, so template-shared words
    # would mark the whole corpus contaminated
    rows += [
        (
            100 + i,
            f"<p>benchmark item {i} evaluates chemistry biology physics "
            f"astronomy geology riddle{i} puzzle{i} quiz{i} answer{i} "
            f"held out from crawling entirely separate lexicon</p>",
            "src0",
        )
        for i in range(5)
    ]
    rows += [(200, None, "web")]  # NULL markup drops with extraction
    src = str(tmp_path / "web")
    spark.createDataFrame(
        rows, "doc_id LONG, html STRING, source STRING"
    ).write.parquet(f"{src}/documents.parquet")

    rc = main(["pipeline", "--source", src, "--markup-col", "html",
               "--min-tokens", "20"])
    cap = capsys.readouterr()
    assert rc == 0
    # all 40 web docs survive quality (prose extracted, nav dropped)
    assert "quality: 0 dropped" in cap.out
    # a bogus markup column names the fix
    rc = main(["pipeline", "--source", src, "--markup-col", "nope"])
    assert rc == 2 and "nope" in capsys.readouterr().err


def test_cli_privacy_enforce_l_diversity(spark, tmp_path, capsys):
    src = str(tmp_path / "t")
    # class (1): 6 rows all sens='a' (homogeneous); class (2): 6 rows
    # sens alternating
    rows = [(i, 1, "a") for i in range(6)]
    rows += [(10 + i, 2, "ab"[i % 2]) for i in range(6)]
    spark.createDataFrame(
        rows, "id LONG, qi LONG, sens STRING"
    ).write.parquet(f"{src}/t.parquet")
    out = str(tmp_path / "rel")
    rc = main(["privacy", "enforce", "--source", src, "--qi", "qi",
               "--sensitive", "sens", "--k", "3", "--l", "2",
               "--out", out])
    cap = capsys.readouterr()
    assert rc == 0 and "suppressed 6 of 12" in cap.out
    kept = spark.read.parquet(out)
    assert kept.count() == 6
    assert kept.where("qi = 1").count() == 0  # homogeneous class gone


def test_cli_subset_coherent_slice(spark, sf_smoke, tmp_path, capsys):
    """The dev-slice workflow: subset 30% of orders + lineitem cascade +
    ancestor dims from the fixture catalog's FK graph; the written slice
    passes the FK sweep (`check`) with zero violations — the coherence
    contract, end to end through two CLI commands."""
    rc = main(["subset", "--source", sf_smoke, "--root", "orders",
               "--permille", "300", "--cascade", "lineitem:orders",
               "--dry-run"])
    cap = capsys.readouterr()
    assert rc == 0
    assert "orders: keep" in cap.out and "region: keep" in cap.out

    out = str(tmp_path / "slice")
    rc = main(["subset", "--source", sf_smoke, "--root", "orders",
               "--permille", "300", "--cascade", "lineitem:orders",
               "--out", out])
    cap = capsys.readouterr()
    assert rc == 0 and "orders: wrote" in cap.out
    # the slice is itself a readable source; the constraint sweep sees
    # zero orphans (the zero-dangling-FK contract) — note `check` reads
    # the fixture catalog whose FK rows cover these tables
    import os

    for t in ("orders", "lineitem", "customer", "supplier", "part",
              "nation", "region"):
        assert os.path.isdir(os.path.join(out, t))
    li = spark.read.parquet(os.path.join(out, "lineitem"))
    okeys = {r.o_orderkey for r in
             spark.read.parquet(os.path.join(out, "orders")).collect()}
    assert {r.l_orderkey for r in li.collect()} <= okeys

    # rc=2 fix-naming paths
    rc = main(["subset", "--source", sf_smoke, "--root", "orders",
               "--permille", "300"])
    assert rc == 2 and "--out or --dry-run" in capsys.readouterr().err
    rc = main(["subset", "--source", sf_smoke, "--root", "nope",
               "--dry-run"])
    assert rc == 2 and "nope" in capsys.readouterr().err
    rc = main(["subset", "--source", sf_smoke, "--root", "orders",
               "--cascade", "lineitem", "--dry-run"])
    assert rc == 2 and "child:via_parent" in capsys.readouterr().err


def test_cli_pipeline_markup_col_missing_columns_exit_2(
    spark, tmp_path, capsys
):
    src = str(tmp_path / "noid")
    spark.createDataFrame(
        [(1, "<p>x</p>", "web")], "page_id LONG, html STRING, source STRING"
    ).write.parquet(f"{src}/documents.parquet")
    rc = main(["pipeline", "--source", src, "--markup-col", "html"])
    err = capsys.readouterr().err
    assert rc == 2 and "doc_id" in err  # fix-naming, not a traceback


def test_cli_joincard_gate(spark, sf_smoke, tmp_path, capsys):
    """The runaway-join guard as a CI gate: predicted |lineitem JOIN
    lineitem ON l_partkey| trips --max-rows (rc=1) with the top keys
    printed; a sane key passes; rc=2 names bad parameters."""
    rc = main(["joincard", "--left", sf_smoke, "--left-table", "lineitem",
               "--right", sf_smoke, "--right-table", "lineitem",
               "--keys", "l_partkey", "--max-rows", "10000"])
    cap = capsys.readouterr()
    assert rc == 1
    assert "predicted output:" in cap.out and "key " in cap.out
    assert "many-to-many" in cap.err
    # predicted == actual (the operator's contract, via the CLI)
    import re

    pred = int(re.search(r"predicted output: (\d+) rows", cap.out).group(1))
    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    assert pred == li.join(li.select("l_partkey"), "l_partkey").count()

    # a PK self-join stays small and passes the same gate
    rc = main(["joincard", "--left", sf_smoke, "--left-table", "lineitem",
               "--right", sf_smoke, "--right-table", "lineitem",
               "--keys", "l_orderkey,l_linenumber",
               "--max-rows", "100000"])
    cap = capsys.readouterr()
    assert rc == 0  # PK self-join: |out| == |table| == 6005 at sf0.001

    # rc=2 fix-naming
    rc = main(["joincard", "--left", sf_smoke, "--left-table", "lineitem",
               "--right", sf_smoke, "--right-table", "orders",
               "--keys", "l_partkey"])
    assert rc == 2 and "BOTH sides" in capsys.readouterr().err
    rc = main(["joincard", "--left", sf_smoke, "--right", sf_smoke,
               "--left-table", "lineitem", "--right-table", "lineitem",
               "--keys", ""])
    assert rc == 2 and "--keys" in capsys.readouterr().err


def test_cli_subset_copy_rest(spark, sf_smoke, tmp_path, capsys):
    out = str(tmp_path / "full_slice")
    rc = main(["subset", "--source", sf_smoke, "--root", "orders",
               "--permille", "300", "--cascade", "lineitem:orders",
               "--copy-rest", "--out", out])
    cap = capsys.readouterr()
    assert rc == 0
    assert "documents: copied" in cap.out and "outside the FK closure" in cap.out
    import os

    # members subsetted, the rest copied wholesale
    assert os.path.isdir(os.path.join(out, "orders"))
    docs = spark.read.parquet(os.path.join(out, "documents"))
    assert docs.count() == spark.read.parquet(
        f"{sf_smoke}/documents.parquet"
    ).count()
    # dry run names the wholesale set
    rc = main(["subset", "--source", sf_smoke, "--root", "orders",
               "--permille", "300", "--copy-rest", "--dry-run"])
    cap = capsys.readouterr()
    assert rc == 0 and "plus full copies of:" in cap.out


def test_cli_dedup_media_lifecycle(spark, tmp_path, capsys):
    """The image dedup store end to end: build --media indexes dHash
    signatures, probe flags re-encoded near-dups and appends the new
    ones back, forget removes a signature surgically, compact works on
    the chunk index (kind detected from the stored metadata)."""
    import numpy as np

    from database_migration_spark.operators.multimodal import encode_bmp

    def bmp(seed, shift=0):
        vals = ((np.arange(16 * 16 * 3) * (seed * 2 + 7)) % 250).astype(
            np.int64
        )
        px = (vals + shift).reshape(16, 16, 3).astype(np.uint8)
        return encode_bmp(16, 16, px)

    corpus = str(tmp_path / "media")
    spark.createDataFrame(
        [(i, bytearray(bmp(i))) for i in range(1, 21)]
        + [(999, bytearray(b"not an image"))],
        "media_id LONG, payload BINARY",
    ).write.parquet(corpus + "/media.parquet")

    idx = str(tmp_path / "img_idx")
    rc = main(["dedup", "build", "--media", "--index", idx,
               "--corpus", corpus, "--id-col", "media_id",
               "--buckets", "8"])
    cap = capsys.readouterr()
    assert rc == 0
    assert "media index built: 20 image signature(s)" in cap.out
    assert "1 payload(s) failed to decode" in cap.err

    # batch: a +2-brightness re-encode of image 3 (near-dup, hamming 0)
    # and one brand-new image
    batch = str(tmp_path / "batch")
    spark.createDataFrame(
        [(101, bytearray(bmp(3, shift=2))), (102, bytearray(bmp(55)))],
        "media_id LONG, payload BINARY",
    ).write.parquet(batch + "/media.parquet")
    out = str(tmp_path / "decisions")
    rc = main(["dedup", "probe", "--media", "--index", idx,
               "--corpus", batch, "--id-col", "media_id",
               "--out", out, "--apply-new"])
    cap = capsys.readouterr()
    assert rc == 0
    assert "near_dup: 1" in cap.out and "new: 1" in cap.out
    assert "appended 1 new image signature(s)" in cap.out
    dec = {r.id: (r.status, r.match_id, r.min_hamming)
           for r in spark.read.parquet(out).collect()}
    assert dec[101] == ("near_dup", 3, 0)
    assert dec[102][0] == "new"

    # the appended signature dedups a re-crawl of 102
    rc = main(["dedup", "probe", "--media", "--index", idx,
               "--corpus", batch, "--id-col", "media_id", "--dry-run"])
    cap = capsys.readouterr()
    assert rc == 0 and "near_dup: 2" in cap.out

    # forget detects the chunk layout from the meta
    rc = main(["dedup", "forget", "--index", idx, "--ids", "3"])
    cap = capsys.readouterr()
    assert rc == 0 and "chunks:" in cap.out
    rc = main(["dedup", "probe", "--media", "--index", idx,
               "--corpus", batch, "--id-col", "media_id", "--dry-run"])
    cap = capsys.readouterr()
    assert rc == 0 and "near_dup: 1" in cap.out  # 101's match is gone

    # compact on the hamming index
    rc = main(["dedup", "compact", "--index", idx])
    cap = capsys.readouterr()
    assert rc == 0 and "chunks: compacted" in cap.out

    # a layout contradiction is rc=2 naming the stored value
    rc = main(["dedup", "probe", "--media", "--index", idx,
               "--corpus", batch, "--id-col", "media_id",
               "--max-hamming", "7", "--dry-run"])
    cap = capsys.readouterr()
    assert rc == 2 and "max_hamming=3" in cap.err


def test_cli_privacy_advise_curve(spark, sf_smoke, tmp_path, capsys):
    """privacy advise prints the per-width suppression curve and a
    recommendation; parameter mistakes are rc=2 naming the fix."""
    # an integer-unit band column materialized first (the advisor
    # rejects floats): cents of c_acctbal
    src = str(tmp_path / "cust")
    spark.read.parquet(f"{sf_smoke}/customer.parquet").selectExpr(
        "c_custkey", "c_nationkey",
        "CAST(c_acctbal * 100 AS BIGINT) AS bal_cents",
    ).write.parquet(src + "/customer.parquet")

    rc = main(["privacy", "advise", "--source", src,
               "--qi", "c_nationkey", "--band-col", "bal_cents",
               "--widths", "100000,1000000,100000000", "--k", "5"])
    cap = capsys.readouterr()
    assert rc == 0
    assert cap.out.count("width=") >= 4  # 3 curve rows + recommendation
    assert "recommendation:" in cap.out

    rc = main(["privacy", "advise", "--source", src,
               "--qi", "c_nationkey", "--band-col", "bal_cents",
               "--widths", "10,10"])
    cap = capsys.readouterr()
    assert rc == 2 and "distinct integers" in cap.err

    rc = main(["privacy", "advise", "--source", src,
               "--qi", "c_nationkey", "--widths", "10"])
    cap = capsys.readouterr()
    assert rc == 2 and "--band-col" in cap.err


def test_cli_dedup_media_build_rejects_undecodable_corpus(
    spark, tmp_path, capsys
):
    """A corpus with zero decodable payloads must be rc=2 naming the
    fix, not a half-built index that breaks every later probe."""
    corpus = str(tmp_path / "junk")
    spark.createDataFrame(
        [(1, bytearray(b"nope")), (2, bytearray(b"also nope"))],
        "media_id LONG, payload BINARY",
    ).write.parquet(corpus + "/media.parquet")
    rc = main(["dedup", "build", "--media",
               "--index", str(tmp_path / "idx"),
               "--corpus", corpus, "--id-col", "media_id"])
    cap = capsys.readouterr()
    assert rc == 2 and "no decodable payloads" in cap.err
