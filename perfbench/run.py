"""Benchmark runner: one workload, one process, one Spark session.

    python3 perfbench/run.py --workload migrate_validate --seed 1 \
        --seconds 5 --trace 0

Run from the repository root. It pins the run environment, builds
the session through the package's ``get_spark``, sets the workload up, runs
laps until ``--seconds`` have passed (at least one), then checks the
results. It prints one line per lap and, as the last line, one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones. See README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import fcntl  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

WORKLOAD_NAMES = ("migrate_validate", "change_epochs", "query_mix")
OTHER_SPARK_WAIT_S = 60
SPARK_SUBMIT = b"org.apache.spark.deploy.SparkSubmit"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_memory_mb(meminfo: str) -> int:
    for line in meminfo.splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1]) // 1024
    raise ValueError("no MemTotal in /proc/meminfo")


def pinned_environment(run_dir: str) -> dict[str, str]:
    """The deployment settings a run pins, instead of the package defaults
    of 32 cores and a 48 GB heap."""
    with open("/proc/meminfo") as fh:
        mem_mb = host_memory_mb(fh.read())
    heap_mb = max(1024, min(3072, mem_mb // 4))
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }


def spark_jvms() -> list[int]:
    """Pids of running Spark driver JVMs."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as fh:
                if SPARK_SUBMIT in fh.read():
                    out.append(int(name))
        except OSError:
            pass
    return out


def wait_for_other_spark() -> int:
    """Wait (bounded) until no other Spark JVM runs on the host; return how
    many were still running when the wait ended."""
    deadline = time.monotonic() + OTHER_SPARK_WAIT_S
    others = spark_jvms()
    while others and time.monotonic() < deadline:
        time.sleep(1.0)
        others = spark_jvms()
    return len(others)


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    from perfbench import procstat

    parents = {pid: procstat.parse_pid_stat(text)[0]
               for pid, text in procstat.read_stats().items()}
    children = procstat.descendants(parents, os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in children if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.2)
    for p in children:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def lap_line(i: int, d: dict) -> str:
    return (
        f"lap {i:2d} wall={d['wall_s']:.3f}s cpu={d['cpu_s']:.2f}s "
        f"steal={d['steal_s']:.2f}s jit={d.get('jvm.jit_s', float('nan')):.2f}s "
        f"codegen={d.get('codegen.compiles', float('nan')):.0f} "
        f"load1={d['load1']:.2f}"
    )


def record_lap_s(workload: str, lap_s: float) -> None:
    os.makedirs(os.path.join(WORK, "lap_s"), exist_ok=True)
    with open(os.path.join(WORK, "lap_s", f"{workload}.json"), "w") as fh:
        json.dump({"lap_s": lap_s}, fh)


def tracing_overhead(workload: str, traced_lap_s: float) -> str:
    """Traced ``lap_s`` minus the last untraced run's, in this checkout."""
    try:
        with open(os.path.join(WORK, "lap_s", f"{workload}.json")) as fh:
            plain = json.load(fh)["lap_s"]
    except (OSError, ValueError, KeyError):
        return ("tracing overhead: unknown (no untraced run of this workload "
                "in this checkout yet)")
    return (f"tracing overhead: {traced_lap_s - plain:.3f} s per lap (traced "
            f"lap_s {traced_lap_s:.3f} - untraced lap_s {plain:.3f})")


def run(args, run_dir: str, env: dict, excluded_s: float, fixture_dir: str):
    from perfbench import metrics, layers
    from perfbench.procstat import Sampler
    from perfbench.trace import JvmCounters, Tracer
    from perfbench.workloads import Context, WORKLOADS

    from database_migration_spark import get_spark

    run_id = os.path.basename(run_dir)
    tracer = Tracer(None, run_id, enabled=False)
    with tracer.span("session.start"):
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={env['TMPDIR']}",
                "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            },
        )
    try:
        tracer.spark = spark
        tracer.enabled = bool(args.trace)
        jvm = JvmCounters(spark)
        sampler = Sampler(os.getpid(), jvm.pid)
        ctx = Context(spark, tracer, fixture_dir, run_dir, args.seed)
        wl = WORKLOADS[args.workload]()
        wl.setup(ctx)
        setup_s = time.perf_counter() - T_START - excluded_s
        print(f"setup_s={setup_s:.3f} (waiting for other runs and fixture "
              f"generation, {excluded_s:.3f}s, excluded)", flush=True)

        laps: list[dict] = []

        def one_lap(i: int) -> dict:
            tracer.lap = i
            j0, s0 = jvm.read(), sampler.sample(time.perf_counter())
            out = wl.lap(ctx, i)
            s1, j1 = sampler.sample(time.perf_counter()), jvm.read()
            d = s1.delta(s0)
            d.update(JvmCounters.delta(j1, j0))
            wl.after_lap(ctx, out)
            d.update(lap=i, ops=out.ops, failures=out.failures, layer=out.layer)
            print(lap_line(i, d), flush=True)
            for f in out.failures:
                print(f"  FAILED {f}", flush=True)
            return d

        # no warm-up: the first lap is what a fresh driver process pays,
        # JIT and codegen included (README: why)
        t_measure = time.perf_counter()
        while not laps or time.perf_counter() - t_measure < args.seconds:
            laps.append(one_lap(len(laps)))
        failures = [f"check: {m}" for m in wl.check(ctx)]
        attempted = getattr(wl, "check_ops", 0) + sum(l["ops"] for l in laps)
        for l in laps:
            failures.extend(f"lap {l['lap']}: {f}" for f in l["failures"])

        if args.trace:
            result = layers.per_layer(tracer, laps, wl.usage)
            result["trace.lap_s"] = t_lap = metrics.median(
                l["wall_s"] for l in laps)
            print(tracing_overhead(args.workload, t_lap), flush=True)
            absent = sorted(set(result.pop("absent", [])) |
                            getattr(wl, "absent", set()))
            if absent:
                print(f"absent layer metrics: {absent}", flush=True)
            os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
            tracer.write(os.path.join(WORK, "spans", f"{run_id}.jsonl"))
        else:
            used, _files, live = wl.usage
            result = metrics.lap_end_to_end(laps, wl.rows, live, used)
            result["setup_s"] = setup_s
            record_lap_s(args.workload, result["lap_s"])
            print(f"rows per lap: {wl.rows}; laps: "
                  f"{len(laps)}", flush=True)
    finally:
        stop_spark(spark)
    return result, attempted, failures


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [m for m in ("pyspark", "duckdb", "pyarrow", "numpy",
                           "database_migration_spark")
               if importlib.util.find_spec(m) is None]
    if missing:
        print(f"error: cannot import {missing}; run from the repository "
              "root", file=sys.stderr)
        return 2
    from perfbench import fixture, layers

    os.makedirs(WORK, exist_ok=True)
    run_dir = os.path.join(
        WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    lock = open(os.path.join(WORK, "run.lock"), "w")
    t_wait = time.perf_counter()
    fcntl.flock(lock, fcntl.LOCK_EX)
    try:
        others = wait_for_other_spark()
        wait_s = time.perf_counter() - t_wait
        env = pinned_environment(run_dir)
        for k in ("local", "tmp"):
            os.makedirs(os.path.join(run_dir, k), exist_ok=True)
        os.environ.update(env)
        print("env " + json.dumps({**{k: env[k] for k in (
            "SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")},
            "other_spark_jvms": others, "run_dir": "<checkout>/" +
            os.path.relpath(run_dir, ROOT)}), flush=True)
        t = time.perf_counter()
        fixture_dir = fixture.ensure_fixture(WORK)
        fixture_s = time.perf_counter() - t
        try:
            values, attempted, failures = run(args, run_dir, env,
                                              wait_s + fixture_s,
                                              fixture_dir)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    finally:
        fcntl.flock(lock, fcntl.LOCK_UN)
        lock.close()
    for f in failures:
        print(f"FAILED {f}", file=sys.stderr)
    units = layers.UNITS
    result = {
        "correct": not failures,
        "attempted": max(1, attempted),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    print(json.dumps(result))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
