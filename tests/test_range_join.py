"""range_join: differential vs the brute-force non-equi join it replaces."""

import pytest
from pyspark.sql import functions as F

from database_migration_spark.operators.pairing import range_join


@pytest.fixture()
def pi(spark):
    points = spark.createDataFrame(
        [(1, "a", 5), (2, "a", 15), (3, "a", 200), (4, "b", 7),
         (5, "b", None), (6, "c", 7)],
        "pid LONG, k STRING, p LONG",
    )
    intervals = spark.createDataFrame(
        [(100, "a", 0, 10), (101, "a", 5, 25), (102, "a", 300, 400),
         (103, "b", 7, 7), (104, "b", 9, 2), (105, "b", None, 50)],
        "iid LONG, k STRING, lo LONG, hi LONG",
    )
    return points, intervals


def _brute(points, intervals):
    p, i = points.alias("bp"), intervals.alias("bi")
    cond = (
        (F.col("bp.k") == F.col("bi.k"))
        & (F.col("bp.p") >= F.col("bi.lo"))
        & (F.col("bp.p") <= F.col("bi.hi"))
    )
    return {
        (r["pid"], r["iid"])
        for r in p.join(i, cond).select("pid", "iid").collect()
    }


def test_inner_matches_brute_force_nonequi(spark, pi):
    points, intervals = pi
    got = {
        (r["pid"], r["iid"])
        for r in range_join(points, intervals, "p", "lo", "hi", keys=["k"]).collect()
    }
    assert got == _brute(points, intervals)
    # multi-match (p=5 in both a-intervals), inverted interval 104 and
    # NULL bounds/point match nothing
    assert (1, 100) in got and (1, 101) in got
    assert all(iid != 104 for _, iid in got)
    assert all(pid != 5 for pid, _ in got)


@pytest.mark.parametrize("w", [1, 3, 1000])
def test_cell_width_never_changes_results(spark, pi, w):
    points, intervals = pi
    got = {
        (r["pid"], r["iid"])
        for r in range_join(
            points, intervals, "p", "lo", "hi", keys=["k"], cell_width=w
        ).collect()
    }
    assert got == _brute(points, intervals)


def test_left_keeps_unmatched_and_null_payload_rows_exactly_once(spark):
    # pid=2 carries a NULL payload column AND matches — a NULL-unsafe
    # anti-join would emit it twice (matched + spurious unmatched)
    points = spark.createDataFrame(
        [(1, "x", 50), (2, None, 5), (3, "y", 999)],
        "pid LONG, tag STRING, p LONG",
    )
    intervals = spark.createDataFrame(
        [(10, 0, 10), (11, 40, 60)], "iid LONG, lo LONG, hi LONG"
    )
    out = range_join(points, intervals, "p", "lo", "hi", how="left").collect()
    rows = [(r["pid"], r["iid"]) for r in out]
    assert sorted(rows) == [(1, 11), (2, 10), (3, None)]


def test_negative_coordinates_use_floor_cells(spark):
    points = spark.createDataFrame([(1, -5), (2, -1), (3, 0)], "pid LONG, p LONG")
    intervals = spark.createDataFrame([(10, -7, -1)], "iid LONG, lo LONG, hi LONG")
    got = {
        (r["pid"], r["iid"])
        for r in range_join(points, intervals, "p", "lo", "hi", cell_width=4).collect()
    }
    assert got == {(1, 10), (2, 10)}


def test_max_cell_drops_hot_cells_and_collisions_raise(spark, pi):
    points, intervals = pi
    hot = spark.createDataFrame(
        [(200 + i, "a", 0, 9) for i in range(5)] + [(300, "a", 100, 109)],
        "iid LONG, k STRING, lo LONG, hi LONG",
    )
    pts = spark.createDataFrame([(1, "a", 5), (2, "a", 105)], "pid LONG, k STRING, p LONG")
    got = {
        (r["pid"], r["iid"])
        for r in range_join(
            pts, hot, "p", "lo", "hi", keys=["k"], cell_width=10, max_cell=3
        ).collect()
    }
    assert got == {(2, 300)}  # the 5-interval cell was dropped, the quiet one kept

    with pytest.raises(ValueError):
        range_join(points, intervals.withColumnRenamed("iid", "pid"),
                   "p", "lo", "hi", keys=["k"])
    with pytest.raises(ValueError):
        range_join(points, intervals, "p", "lo", "hi", how="full")
    with pytest.raises(ValueError):
        range_join(points, intervals, "p", "lo", "hi", cell_width=0)


def test_plan_has_no_nested_loop_join(spark, pi):
    points, intervals = pi
    plan = (
        range_join(points, intervals, "p", "lo", "hi", keys=["k"], cell_width=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_reserved_cell_column_raises(spark, pi):
    points, intervals = pi
    with pytest.raises(ValueError):
        range_join(points.withColumn("_cell", F.lit(1)), intervals, "p", "lo", "hi")


def test_default_width_memo_gating(spark, pi):
    """The default cell width comes from a live scalar scan on every
    build (no memo): exact at the default width, stable across repeat
    builds, and exact with ``max_cell`` set, where the width also picks
    which cells get capped."""
    points, intervals = pi
    brute = _brute(points, intervals)

    def pairs(**kw):
        return {
            (r["pid"], r["iid"])
            for r in range_join(
                points, intervals, "p", "lo", "hi", keys=["k"], **kw
            ).collect()
        }

    assert pairs() == brute
    assert pairs() == brute
    assert pairs(max_cell=10) == brute
