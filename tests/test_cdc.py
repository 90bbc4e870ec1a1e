"""CDC apply operator tests (operators/cdc.py): op semantics, guards."""

import pytest
from pyspark.sql import functions as F

from database_migration_spark.operators.cdc import (
    apply_cdc,
    cdc_counts,
    net_changes,
)

BASE = "k LONG, v STRING"
STREAM = "k LONG, v STRING, seq LONG, op STRING"


def _base(spark):
    return spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (4, "d")], BASE
    )


def test_apply_cdc_full_op_semantics(spark):
    base = _base(spark)
    stream = spark.createDataFrame(
        [
            (1, "a1", 10, "U"),     # update
            (1, "a2", 20, "U"),     # later update wins
            (2, "b", 10, "D"),      # delete
            (3, "c1", 10, "U"),     # update...
            (3, "c1", 20, "D"),     # ...then delete: net delete
            (5, "e", 10, "I"),      # fresh insert
            (6, "f0", 10, "I"),     # insert...
            (6, "f1", 20, "U"),     # ...then update: net image f1
        ],
        STREAM,
    )
    got = {r.k: r.v for r in apply_cdc(base, stream, ["k"]).collect()}
    # 1 updated twice -> a2; 2 deleted; 3 updated-then-deleted -> gone;
    # 4 untouched passthrough; 5 inserted; 6 inserted-then-updated -> f1
    assert got == {1: "a2", 4: "d", 5: "e", 6: "f1"}


def test_net_changes_last_writer_and_guards(spark):
    stream = spark.createDataFrame(
        [(1, "x", 5, "U"), (1, "y", 9, "U"), (2, "z", 1, "I")], STREAM
    )
    net = {r.k: (r.v, r.op) for r in net_changes(stream, ["k"]).collect()}
    assert net == {1: ("y", "U"), 2: ("z", "I")}

    # duplicate (key, seq): loud
    dup = spark.createDataFrame([(1, "x", 5, "U"), (1, "y", 5, "U")], STREAM)
    with pytest.raises(ValueError, match="multiple events at seq"):
        net_changes(dup, ["k"])
    # the documented opt-out skips the aggregate
    assert net_changes(dup, ["k"], validate_unique=False).count() == 1

    # unknown op: loud — a NULL op too (~isin() is NULL, not true, for
    # it, so without the isNull disjunct it would act as a DELETE)
    for op in ("X", None):
        bad = spark.createDataFrame([(1, "x", 5, op)], STREAM)
        with pytest.raises(ValueError, match="unknown CDC op"):
            net_changes(bad, ["k"])


def test_apply_cdc_requires_full_row_image(spark):
    base = _base(spark)
    partial = spark.createDataFrame(
        [(1, 10, "U")], "k LONG, seq LONG, op STRING"
    )
    with pytest.raises(ValueError, match="full row image"):
        apply_cdc(base, partial, ["k"])


def test_cdc_counts_events_vs_net(spark):
    stream = spark.createDataFrame(
        [
            (1, "a1", 10, "U"), (1, "a2", 20, "U"),   # 2 U events, 1 net U
            (2, "b", 10, "D"),                          # 1 D event, 1 net D
            (3, "c", 10, "I"), (3, "c2", 20, "U"),     # I then U: net U
        ],
        STREAM,
    )
    got = {r.op: (r.events, r.net_keys) for r in cdc_counts(stream, ["k"]).collect()}
    assert got == {"U": (3, 2), "D": (1, 1), "I": (1, 0)}


def test_apply_cdc_plan_shape(spark):
    """The base must never window or sort globally: the stream's per-key
    reduce must carry a WindowGroupLimit (map-side top-1 before its
    shuffle) and read from the persisted net relation in both branches;
    the apply itself is a union + key anti-join."""
    base = _base(spark)
    stream = spark.createDataFrame([(1, "a1", 10, "U")], STREAM)
    out = apply_cdc(base, stream, ["k"])
    plan = out._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        out._jdf.queryExecution(), "simple"
    )
    assert "LeftAnti" in plan
    # multi-consumer rule: BOTH branches read the persisted net relation
    # (the Window text below each InMemoryRelation is the cached plan's
    # description, not a second execution)
    assert plan.count("InMemoryTableScan") == 2
    # the bounded per-key top-1: partial group-limit below the exchange
    assert "WindowGroupLimit" in plan
    spark.catalog.clearCache()
