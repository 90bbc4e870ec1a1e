"""The correctness checks fail on planted wrong results (no Spark)."""

import os
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import fixture, workloads
from perfbench.checks import compare_rows, frame_rows


def test_compare_rows_is_order_and_column_order_insensitive():
    got = frame_rows(["b", "a"], [(2, 1.5), (1, None)])
    want = frame_rows(["a", "b"], [(None, 1), (1.5, 2)])
    assert compare_rows(got, want) is None


def test_compare_rows_names_what_differs():
    want = frame_rows(["k", "v"], [(1, "x"), (2, "y")])
    assert "rows" in compare_rows(frame_rows(["k", "v"], [(1, "x")]), want)
    assert "sorted row 1" in compare_rows(
        frame_rows(["k", "v"], [(1, "x"), (2, "z")]), want)
    assert "columns" in compare_rows(
        frame_rows(["k", "w"], [(1, "x"), (2, "y")]), want)


def test_job_log_steps_parses_and_degrades():
    rows = [
        {"elapsed_s": 0.0, "step": "read orders", "status": "start"},
        {"elapsed_s": 1.5, "step": "copy orders", "status": "done"},
        {"elapsed_s": 4.0, "step": "validate orders", "status": "ok"},
    ]
    steps, skipped = workloads.job_log_steps(rows)
    assert steps == {"runner.copy_s": [1.5], "runner.validate_s": [2.5]}
    assert skipped == []
    steps, skipped = workloads.job_log_steps([{"when": 1, "what": "copy"}])
    assert steps == {"runner.copy_s": [], "runner.validate_s": []}
    assert len(skipped) == 1


def _migrate_lap(tmp_path, deviations=0, target_rows=3):
    wl = workloads.MigrateValidate()
    wl.tables = ("orders",)
    wl.footers = {"orders": 3}
    wl.rows = 3
    wl.absent = set()
    wl.target = str(tmp_path / "target")
    os.makedirs(os.path.join(wl.target, "orders"))
    pq.write_table(pa.table({"k": list(range(target_rows))}),
                   os.path.join(wl.target, "orders", "part-0.parquet"))
    wl.report = SimpleNamespace(tables=[SimpleNamespace(
        table="orders", deviations=deviations)])
    wl.logger = SimpleNamespace(rows=[
        {"elapsed_s": 0.0, "step": "read orders"},
        {"elapsed_s": 1.0, "step": "copy orders"},
        {"elapsed_s": 2.0, "step": "validate orders"},
    ])
    out = workloads.LapOutcome(ops=1)
    wl.after_lap(None, out)
    return out


def test_migrate_check_passes_a_clean_lap(tmp_path):
    out = _migrate_lap(tmp_path)
    assert out.failures == []
    assert out.layer == {"runner.copy_s": [1.0], "runner.validate_s": [1.0]}


def test_migrate_check_fails_on_deviation_or_lost_rows(tmp_path):
    assert "DEVIATION" in _migrate_lap(tmp_path / "a", deviations=2).failures[0]
    assert "footers" in _migrate_lap(tmp_path / "b", target_rows=2).failures[0]


class FakeFrame:
    def __init__(self, cols, rows, files=()):
        self.columns, self._rows, self._files = cols, rows, files

    def collect(self):
        return self._rows

    def inputFiles(self):
        return list(self._files)


def _query_check(tmp_path, rows):
    root = tmp_path / "fixture"
    root.mkdir()
    for name, table in fixture.build_tables(
            {"orders": 10, "lineitem": 10, "customer": 5, "events": 5,
             "documents": 4, "embeddings": 2}).items():
        fixture.write_table(table, str(root / f"{name}.parquet"))
    wl = workloads.QueryMix()
    wl.names = ("n_orders",)
    wl.queries = {"n_orders": lambda spark, d: FakeFrame(
        ["n"], rows, [f"file:{d}/orders.parquet"])}
    wl.oracles = {"n_orders": "SELECT count(*) AS n FROM orders"}
    spark = SimpleNamespace(catalog=SimpleNamespace(clearCache=lambda: None))
    ctx = workloads.Context(spark, None, str(root), str(tmp_path), 0)
    return wl, wl.check(ctx)


def test_query_check_passes_the_right_answer(tmp_path):
    wl, failures = _query_check(tmp_path, [(10,)])
    assert failures == []
    assert wl.rows == 10  # rows of the one scanned fixture file


def test_query_check_fails_a_planted_wrong_answer(tmp_path):
    _wl, failures = _query_check(tmp_path, [(11,)])
    assert len(failures) == 1 and failures[0].startswith("n_orders:")


def test_query_check_counts_a_raising_query(tmp_path):
    def boom(spark, d):
        raise RuntimeError("planted")

    wl, _ = _query_check(tmp_path, [(10,)])
    wl.queries = {"n_orders": boom}
    spark = SimpleNamespace(catalog=SimpleNamespace(clearCache=lambda: None))
    ctx = workloads.Context(spark, None, str(tmp_path / "fixture"),
                            str(tmp_path), 0)
    (failure,) = wl.check(ctx)
    assert "planted" in failure
