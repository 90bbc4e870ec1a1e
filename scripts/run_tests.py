#!/usr/bin/env python
"""Parallel pytest runner — the full-suite gate in a fraction of the wall
clock.

The suite's cost is ~serial tiny-Spark-job latency, not CPU: one session
leaves most of the machine idle while jobs queue one at a time.
pytest-xdist is not a dependency, so this runner does the same thing at
file granularity: greedy-pack the test FILES into N buckets by measured
wall weight (heavy files first), run one `pytest` subprocess per bucket
concurrently — each builds its own local[8] SparkSession (unless
SPARK_GRAFT_CPUS is set) whose driver heap is the host default heap
(`session.local_defaults()`) divided by N (unless SPARK_GRAFT_DRIVER_MEM
is set), so the N heaps together fit what one session may take — and
aggregate exit codes. Zero tests are skipped or deleted; the surface is
identical to `pytest tests/ -q`.

Isolation notes (why file granularity is safe here):
- embedded-Derby DBs and parquet scratch live under per-test tmp_path;
- the Spark UI is disabled (no port contention) and driver ports are
  ephemeral;
- `spark-warehouse`/`derby.log` in CWD are written by at most one
  session's catalog; no test asserts on them.

Usage: python scripts/run_tests.py [-n WORKERS] [extra pytest args...]
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
TESTS = ROOT / "tests"
sys.path.insert(0, str(ROOT))

# measured wall seconds per file (round-8 `--durations` profile; files not
# listed get DEFAULT_WEIGHT). Only used for packing balance — staleness
# degrades balance, never correctness.
WEIGHTS = {
    "test_streaming.py": 116,
    "test_manifest.py": 102,
    "test_dedup.py": 90,
    "test_cli.py": 85,
    "test_dedup_similarity.py": 70,
    "test_drift.py": 61,
    "test_multimodal.py": 55,
    "test_scd2.py": 44,
    "test_registry_builds.py": 41,
    "test_advisor.py": 21,
    "test_validate.py": 17,
    "test_retrieval.py": 15,
    "test_profile.py": 15,
    "test_incremental_agg.py": 13,
    "test_rowdiff.py": 10,
    "test_cdc.py": 10,
}
DEFAULT_WEIGHT = 8


def pack(files: list[Path], n: int) -> list[list[Path]]:
    buckets: list[tuple[float, list[Path]]] = [(0.0, []) for _ in range(n)]
    for f in sorted(files, key=lambda f: -WEIGHTS.get(f.name, DEFAULT_WEIGHT)):
        w, members = min(buckets, key=lambda b: b[0])
        i = buckets.index((w, members))
        members.append(f)
        buckets[i] = (w + WEIGHTS.get(f.name, DEFAULT_WEIGHT), members)
    return [b[1] for b in buckets if b[1]]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("-n", type=int, default=4, help="parallel pytest workers")
    ap.add_argument("rest", nargs="*", help="extra pytest args (e.g. -q)")
    args = ap.parse_args()

    files = sorted(TESTS.glob("test_*.py"))
    groups = pack(files, args.n)
    env = dict(os.environ)
    # each worker gets a small local[8] session (small sessions keep
    # per-job latency low) and an equal share of the host default heap:
    # N full-size heaps would ask for N times what the host can back
    env.setdefault("SPARK_GRAFT_CPUS", "8")
    if "SPARK_GRAFT_DRIVER_MEM" not in env:
        from database_migration_spark.session import local_defaults

        heap_mb = int(local_defaults()[1].rstrip("m"))
        env["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb // len(groups)}m"

    t0 = time.time()
    procs = []
    for i, group in enumerate(groups):
        cmd = [sys.executable, "-m", "pytest", "-q",
               *(args.rest or []), *(str(f) for f in group)]
        procs.append((i, subprocess.Popen(
            cmd, env=env,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        )))
    rc = 0
    for i, p in procs:
        out, _ = p.communicate()
        tail = [ln for ln in out.splitlines() if ln.strip()][-6:]
        print(f"--- worker {i} (rc={p.returncode}) ---")
        print("\n".join(tail))
        if p.returncode != 0:
            rc = 1
            # full output only for the failing worker
            print(out)
    print(f"=== {len(procs)} workers, wall {time.time() - t0:.0f}s, rc={rc} ===")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
