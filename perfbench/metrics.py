"""Metric arithmetic shared by the runner and its tests."""

from __future__ import annotations

import statistics


def median(values) -> float:
    values = list(values)
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def per_unit(total: float, units: int) -> float:
    if units <= 0:
        raise ValueError(f"per_unit over {units} units")
    return total / units


def rows_per_s(rows: int, lap_s: float) -> float:
    if lap_s <= 0:
        raise ValueError(f"rows_per_s over a lap of {lap_s} s")
    return rows / lap_s


def timing_summary(name: str, durations) -> dict[str, float]:
    """``name`` (median per call), ``name.calls`` and ``name.max`` for one
    timed layer boundary. A boundary never crossed reports 0 calls and 0 s."""
    durations = list(durations)
    if not durations:
        return {name: 0.0, f"{name}.calls": 0, f"{name}.max": 0.0}
    return {
        name: median(durations),
        f"{name}.calls": len(durations),
        f"{name}.max": max(durations),
    }


def lap_end_to_end(laps: list[dict], rows: int, live_rows: int | None,
                   store_bytes: int | None) -> dict[str, float]:
    """End-to-end metrics from the measured laps' counter deltas.

    ``rows`` is the lap's input size; ``live_rows`` and ``store_bytes``
    describe the written stores at lap end (``None`` where a workload
    writes no store)."""
    out = {
        "lap_s": median(l["wall_s"] for l in laps),
        "cpu_s": median(l["cpu_s"] for l in laps),
        "write_bytes_per_row": median(per_unit(l["wchar"], rows) for l in laps),
    }
    out["rows_per_s"] = rows_per_s(rows, out["lap_s"])
    if store_bytes is not None and live_rows is not None:
        out["store_bytes_per_row"] = per_unit(store_bytes, live_rows)
    return out
