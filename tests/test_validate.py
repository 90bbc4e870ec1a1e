"""Validation engine tests: a faithful copy yields zero DEVIATION rows; a
corrupted copy is caught (the reference's CHECK_MIGRATION self-validation,
mysql_to_exasol.sql:249-318)."""

import pytest
from pyspark.sql import functions as F

from database_migration_spark.operators.validate import (
    compare_metrics,
    compute_metrics,
    mode_metric,
    validate_pair,
)


def test_identity_migration_zero_deviations(spark, sf_smoke):
    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    ours = compute_metrics(li, "lineitem")
    theirs = compute_metrics(li.select(*li.columns), "lineitem")
    cmp = compare_metrics(ours, theirs)
    assert cmp.filter(F.col("status") == "DEVIATION").count() == 0
    assert cmp.count() > 0


def test_corruption_detected(spark, sf_smoke):
    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    corrupted = li.withColumn("l_quantity", F.col("l_quantity") * 2)
    cmp = compare_metrics(
        compute_metrics(li, "lineitem"), compute_metrics(corrupted, "lineitem")
    )
    dev = cmp.filter(F.col("status") == "DEVIATION").collect()
    assert len(dev) > 0
    assert any(r.column_name == "l_quantity" for r in dev)


def test_row_count_metric(spark, sf_smoke):
    nat = spark.read.parquet(f"{sf_smoke}/nation.parquet")
    m = compute_metrics(nat, "nation")
    row_cnt = m.filter(F.col("metric") == "ROW_CNT").collect()[0]
    assert row_cnt.value == "25"


def test_null_count_and_lengths(spark, sf_smoke):
    nat = spark.read.parquet(f"{sf_smoke}/nation.parquet")
    m = {(r.metric, r.column_name): r.value for r in compute_metrics(nat, "nation").collect()}
    assert m[("NULL_CNT", "n_name")] == "0"
    assert int(m[("MAX_LEN", "n_name")]) >= int(m[("MIN_LEN", "n_name")])
    assert m[("DISTINCT_CNT", "n_nationkey")] == "25"


def test_mode_metric(spark, sf_smoke):
    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    row = mode_metric(li, "l_returnflag").collect()[0]
    assert row.occurrences > 0
    assert row.mode_values  # non-empty


def test_suggest_foreign_key_classification(spark):
    """FK candidacy: zero orphans into a unique parent — NULL child values
    are ignored (SQL FK semantics), orphans or duplicate parents reject."""
    from database_migration_spark.operators.constraints import suggest_foreign_key

    child = spark.createDataFrame(
        [(1,), (2,), (2,), (None,)], "ref BIGINT"
    )
    parent_ok = spark.createDataFrame([(1,), (2,), (3,)], "id BIGINT")
    parent_dup = spark.createDataFrame([(1,), (2,), (2,), (3,)], "id BIGINT")
    parent_missing = spark.createDataFrame([(1,), (3,)], "id BIGINT")

    ok = suggest_foreign_key(child, "ref", parent_ok, "id").collect()[0]
    assert ok.is_candidate and ok.n_orphans == 0
    assert ok.n_child_nonnull == 3 and ok.n_child_rows == 4  # NULL ignored

    dup = suggest_foreign_key(child, "ref", parent_dup, "id").collect()[0]
    assert not dup.is_candidate and dup.n_orphans == 0  # parent not unique

    miss = suggest_foreign_key(child, "ref", parent_missing, "id").collect()[0]
    assert not miss.is_candidate and miss.n_orphans == 2  # both ref=2 rows


def _two_plan(left, right, table, distinct_mode):
    rset = set(right.columns)
    common = [c for c in left.columns if c in rset]
    cmp = compare_metrics(
        compute_metrics(left.select(common), table, distinct_mode=distinct_mode),
        compute_metrics(right.select(common), table, distinct_mode=distinct_mode),
    )
    return {(r.column_name, r.metric, r.value_a, r.value_b, r.status)
            for r in cmp.collect()}


def _mixed_types(spark):
    """One common column per type pair a union would widen: INT/BIGINT,
    DECIMAL(10,2)/DOUBLE and TIMESTAMP/STRING (NULLs included)."""
    import datetime as dt
    from decimal import Decimal

    left = spark.createDataFrame(
        [(1, Decimal("1.25"), dt.datetime(2024, 1, 2, 3, 4, 5)),
         (7, None, dt.datetime(2024, 5, 6, 7, 8, 9)),
         (None, Decimal("-3.50"), None)],
        "k INT, d DECIMAL(10,2), ts TIMESTAMP",
    )
    right = spark.createDataFrame(
        [(1, 1.25, "2024-01-02 03:04:05"),
         (7, None, "2024-05-06 07:08:09"),
         (None, -3.5, None)],
        "k BIGINT, d DOUBLE, ts STRING",
    )
    return left, right


PAIR_CASES = [
    "identical", "corrupted", "mixed_types", "empty_right", "empty_left",
    "one_sided", "approx",
]


def _pair_case(spark, sf_smoke, case):
    """(left, right, distinct_mode, expected uncompared) for one case."""
    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    left, right, mode, uncompared = li, li.select(*li.columns), "exact", []
    if case == "corrupted":
        right = li.withColumn("l_quantity", F.col("l_quantity") * 2)
    elif case == "mixed_types":
        left, right = _mixed_types(spark)
    elif case == "empty_right":
        right = li.where(F.lit(False))
    elif case == "empty_left":
        left = li.where(F.lit(False))
    elif case == "one_sided":
        left = li.withColumn("only_left", F.lit(1)).drop("l_tax")
        right = li.withColumn("only_right", F.lit("x"))
        uncompared = ["only_left", "l_tax", "only_right"]
    elif case == "approx":
        mode = "approx"
    return left, right, mode, uncompared


@pytest.mark.parametrize("case", PAIR_CASES)
def test_validate_pair_matches_two_plan_compare(spark, sf_smoke, case):
    """validate_pair's one-plan rows equal the lazy two-plan compare
    (compute_metrics on each side, compare_metrics) as sets, and the
    one-sided columns come back as ``uncompared`` in left-then-right
    order."""
    left, right, mode, uncompared = _pair_case(spark, sf_smoke, case)
    rows, unc = validate_pair(left, right, "t", distinct_mode=mode)
    assert unc == uncompared
    assert all(r.table_name == "t" for r in rows)
    got = {(r.column_name, r.metric, r.value_a, r.value_b, r.status)
           for r in rows}
    assert len(got) == len(rows)
    assert got == _two_plan(left, right, "t", mode)
    devs = {r.column_name for r in rows if r.status == "DEVIATION"}
    if case == "corrupted":
        assert "l_quantity" in devs
    elif case in ("identical", "one_sided", "approx"):
        assert not devs
    elif case == "mixed_types":
        # each side keeps its own type: DECIMAL sums, a STRING has lengths
        by = {(r.column_name, r.metric): r for r in rows}
        assert by[("d", "SUM_VAL")].value_b is None
        assert by[("ts", "MAX_LEN")].value_a is None
        assert by[("ts", "MAX_VAL")].status == "OK"
        assert by[("k", "SUM_VAL")].status == "OK"


def _fan_invariant(monkeypatch, left, right, mode):
    """validate_pair's rows with the fan forced on and forced off."""
    from database_migration_spark.functions import parallel

    out = []
    for fan in (True, False):
        monkeypatch.setattr(parallel, "_should_fan", lambda *_a, f=fan: f)
        out.append(validate_pair(left, right, "t", distinct_mode=mode))
    return out


@pytest.mark.parametrize("case", PAIR_CASES)
def test_validate_pair_rows_fan_invariant(spark, sf_smoke, monkeypatch, case):
    """The fan decision is performance only: fanned and unfanned plans
    give identical comparison rows and uncompared columns."""
    left, right, mode, _unc = _pair_case(spark, sf_smoke, case)
    fanned, unfanned = _fan_invariant(monkeypatch, left, right, mode)
    assert fanned == unfanned


@pytest.mark.parametrize("table", [
    "customer", "documents", "embeddings", "events", "lineitem", "nation",
    "orders", "part", "region", "supplier",
])
def test_validate_pair_fixture_tables_fan_invariant(
    spark, sf_smoke, monkeypatch, table
):
    """Each fixture table validates clean against a copy of itself, with
    the same rows fanned and unfanned."""
    from database_migration_spark.sources.parquet_source import ParquetSource

    df = ParquetSource(spark, sf_smoke).read(table)
    fanned, unfanned = _fan_invariant(monkeypatch, df, df.select(*df.columns), "exact")
    assert fanned == unfanned
    assert all(r.status == "OK" for r in fanned[0])


def _fans(df) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "RoundRobinPartitioning" in plan


def test_validate_pair_fans_only_when_expand_reaches_one_split(spark, sf_t2):
    """The metric plan fans only once the Expand's volume — size
    estimate × COUNT(DISTINCT) aggregates — reaches one split. Plans are
    built, never run."""
    from database_migration_spark.functions.parallel import SPLIT_BYTES
    from database_migration_spark.operators.validate import (
        _pair_plan,
        compute_metrics_wide,
        expand_fan_floor,
    )

    assert expand_fan_floor(1) == SPLIT_BYTES
    assert expand_fan_floor(3) * 3 >= SPLIT_BYTES > (expand_fan_floor(3) - 1) * 3
    # the largest fixture table: a single-row-group scan, far under a split
    li = spark.read.parquet(f"{sf_t2}/lineitem.parquet")
    assert li.rdd.getNumPartitions() == 1
    assert not _fans(_pair_plan(li, li, "exact")[0])
    assert not _fans(compute_metrics_wide(li))
    # one single-partition column of 2^24 longs: ≈ 335 MB estimated
    big = spark.range(0, 1 << 24, 1, 1)
    assert _fans(_pair_plan(big, big, "exact")[0])
    assert _fans(compute_metrics_wide(big))
    # HLL mode has no Expand and no fan
    assert not _fans(_pair_plan(big, big, "approx")[0])


def test_validate_pair_job_budget(spark, sf_smoke):
    """One validate_pair is one Spark action: the sf_smoke lineitem pair
    runs at most 5 jobs (the two-plan compare ran 11)."""
    import uuid

    sc = spark.sparkContext
    path = f"{sf_smoke}/lineitem.parquet"
    # the reads' schema-inference jobs run outside the group
    left, right = spark.read.parquet(path), spark.read.parquet(path)
    group = f"validate-pair-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "validate_pair job budget", False)
    try:
        validate_pair(left, right, "lineitem")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job starts reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 5
