"""Per-layer metric names, units and their aggregation over measured laps.

Layers are named after the package modules the benchmark calls into.
Every timed boundary reports ``<name>`` (median seconds per call),
``<name>.calls`` (calls per measured lap) and ``<name>.max`` (slowest call).
A boundary the workload never crosses reports zeros.
"""

from __future__ import annotations

from perfbench.metrics import median, timing_summary
from perfbench.trace import SPARK_COUNTERS

# span name -> metric name
TIMED = {
    "session.start": "session.start_s",
    "sources.scan_catalog": "sources.scan_catalog_s",
    "sources.read": "sources.read_s",
    "runner.copy_s": "runner.copy_s",
    "runner.validate_s": "runner.validate_s",
    "cli.sync": "cli.sync_s",
    "cli.cdc": "cli.cdc_s",
    "cli.scd2": "cli.scd2_s",
    "cli.dedup_append": "cli.dedup_append_s",
    "cli.dedup_probe": "cli.dedup_probe_s",
    "cli.layout_append": "cli.layout_append_s",
    "queries.build": "queries.build_s",
    "queries.action": "queries.action_s",
}
PER_LAP = (
    ("queries.build_jobs", "count"),
    *((name, "s" if name.endswith("_s") else
       "B" if name.endswith("_bytes") else "count") for name in SPARK_COUNTERS),
    ("jvm.jit_s", "s"), ("jvm.gc_s", "s"),
    ("codegen.compiles", "count"), ("codegen.compile_s", "s"),
    ("store.bytes", "B"), ("store.files", "count"),
    ("host.steal_s", "s"), ("host.load1", "procs"),
)

UNITS = {
    "setup_s": "s", "lap_s": "s", "rows_per_s": "rows/s", "cpu_s": "s",
    "write_bytes_per_row": "B/row", "store_bytes_per_row": "B/row",
    "trace.lap_s": "s",
    **{name: unit for name, unit in PER_LAP},
}
for _m in TIMED.values():
    UNITS.update({_m: "s", f"{_m}.calls": "count", f"{_m}.max": "s"})

PER_LAYER_NAMES = [
    *(n for m in TIMED.values() for n in (m, f"{m}.calls", f"{m}.max")),
    *(name for name, _unit in PER_LAP),
    "trace.lap_s",
]


def per_layer(tracer, measured: list[dict], usage: tuple) -> dict:
    """Per-layer metrics from the tracer's spans, the measured laps and
    the workload's (bytes, files, live rows) store usage at lap end.

    Spans recorded during set-up (lap -1) count for boundaries that are
    only crossed there (session start, the catalog scan)."""
    lap_ids = [l["lap"] for l in measured]
    durations: dict[str, dict[int, list[float]]] = {}
    for s in tracer.spans:
        durations.setdefault(s.name, {}).setdefault(s.lap, []).append(s.seconds)
    for l in measured:
        for name, values in l["layer"].items():
            durations.setdefault(name, {}).setdefault(l["lap"], []).extend(values)

    out: dict = {}
    absent: list[str] = []
    for span, metric in TIMED.items():
        by_lap = durations.get(span, {})
        in_laps = [v for i in lap_ids for v in by_lap.get(i, [])]
        if in_laps:
            summary = timing_summary(metric, in_laps)
            summary[f"{metric}.calls"] = len(in_laps) / len(lap_ids)
        else:
            summary = timing_summary(metric, by_lap.get(-1, []))
        out.update(summary)

    counters = [tracer.counters(i) for i in lap_ids]
    for name in SPARK_COUNTERS:
        out[name] = median(c[name] for c in counters)
    build = [
        sum(s.counters.get("spark.jobs", 0) for s in tracer.spans
            if s.lap == i and s.name == "queries.build")
        for i in lap_ids
    ]
    out["queries.build_jobs"] = median(build)
    for name in ("jvm.jit_s", "jvm.gc_s", "codegen.compiles", "codegen.compile_s"):
        values = [l[name] for l in measured if name in l]
        out[name] = median(values) if values else 0.0
        if not values:
            absent.append(name)
    out["host.steal_s"] = median(l["steal_s"] for l in measured)
    out["host.load1"] = median(l["load1"] for l in measured)
    out["store.bytes"], out["store.files"] = usage[0], usage[1]
    out["absent"] = absent
    return out
