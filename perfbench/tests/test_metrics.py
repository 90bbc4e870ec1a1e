"""Metric arithmetic and /proc parsing, on fixture text (no Spark)."""

import pytest

from perfbench import metrics, procstat

# /proc/<pid>/stat of a process whose name holds a space and a parenthesis;
# utime=250 stime=50 cutime=100 cstime=0 ticks
PID_STAT = (
    "4511 (java (main) x) S 4467 4467 17 0 -1 4194560 1 0 0 0 "
    "250 50 100 0 20 0 60 0 1234 5678 90 18446744073709551615"
)
PID_IO = """rchar: 56942846
wchar: 290789
syscr: 31098
syscw: 1572
read_bytes: 0
write_bytes: 651264
cancelled_write_bytes: 49152
"""
STAT_BEFORE = "cpu  100 0 50 9000 10 0 5 40 0 0\ncpu0 25 0 12 2250 2 0 1 10 0 0\n"
STAT_AFTER = "cpu  300 0 90 9400 10 0 9 340 0 0\ncpu0 75 0 22 2350 2 0 2 85 0 0\n"


def test_pid_stat_counts_user_sys_and_reaped_children():
    ppid, cpu = procstat.parse_pid_stat(PID_STAT)
    assert ppid == 4467
    assert cpu == pytest.approx(400 / procstat.CLK_TCK)


def test_wchar_and_missing_wchar():
    assert procstat.parse_io_wchar(PID_IO) == 290789
    with pytest.raises(ValueError):
        procstat.parse_io_wchar("rchar: 1\n")


def test_steal_delta_from_proc_stat():
    steal = procstat.parse_steal(STAT_AFTER) - procstat.parse_steal(STAT_BEFORE)
    assert steal == pytest.approx(300 / procstat.CLK_TCK)


def test_tree_cpu_sums_descendants_only():
    def stat(pid, ppid, ticks):
        return f"{pid} (p) S {ppid} 0 0 0 -1 0 0 0 0 0 {ticks} 0 0 0 20 0 1 0"

    stats = {
        10: stat(10, 1, 100),  # the root
        11: stat(11, 10, 200),  # its child (the JVM)
        12: stat(12, 11, 50),  # a grandchild (a Python worker)
        13: stat(13, 1, 999),  # unrelated
    }
    assert procstat.tree_cpu(stats, 10) == pytest.approx(350 / procstat.CLK_TCK)


def test_sample_delta():
    a = procstat.Sample(wall=1.0, cpu_s=10.0, wchar=1000, steal_s=2.0, load1=1.5)
    b = procstat.Sample(wall=4.5, cpu_s=19.0, wchar=5000, steal_s=2.5, load1=3.0)
    d = b.delta(a)
    assert d == {"wall_s": 3.5, "cpu_s": 9.0, "wchar": 4000, "steal_s": 0.5,
                 "load1": 3.0}


def test_medians():
    assert metrics.median([3.0, 1.0, 2.0]) == 2.0
    assert metrics.median([4.0, 1.0, 2.0, 3.0]) == 2.5
    with pytest.raises(ValueError):
        metrics.median([])


def test_rows_per_s_and_per_unit():
    assert metrics.rows_per_s(86_500, 7.0) == pytest.approx(12_357.142857)
    with pytest.raises(ValueError):
        metrics.rows_per_s(10, 0.0)
    with pytest.raises(ValueError):
        metrics.per_unit(10, 0)


def test_timing_summary_absent_boundary_reads_zero():
    assert metrics.timing_summary("cli.sync_s", []) == {
        "cli.sync_s": 0.0, "cli.sync_s.calls": 0, "cli.sync_s.max": 0.0}
    s = metrics.timing_summary("cli.sync_s", [1.0, 3.0, 2.0])
    assert s == {"cli.sync_s": 2.0, "cli.sync_s.calls": 3, "cli.sync_s.max": 3.0}


def test_lap_end_to_end():
    laps = [
        {"wall_s": 6.0, "cpu_s": 20.0, "wchar": 1_000_000},
        {"wall_s": 8.0, "cpu_s": 24.0, "wchar": 3_000_000},
    ]
    out = metrics.lap_end_to_end(laps, rows=100_000, live_rows=50_000,
                                 store_bytes=2_000_000)
    assert out["lap_s"] == 7.0
    assert out["cpu_s"] == 22.0
    assert out["write_bytes_per_row"] == pytest.approx(20.0)
    assert out["rows_per_s"] == pytest.approx(100_000 / 7.0)
    assert out["store_bytes_per_row"] == pytest.approx(40.0)
    assert "store_bytes_per_row" not in metrics.lap_end_to_end(
        laps, rows=1, live_rows=None, store_bytes=None)
