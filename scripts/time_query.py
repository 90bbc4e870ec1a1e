"""Bench-style single-query timer for the optimization loop: clearCache +
gc, one warm-up lap, min of 3 measured laps to the noop sink — the same
methodology as bench.py, scoped to the named queries so an iteration on
one operator doesn't pay the full sweep. A `--split` mode additionally
reports build (plan construction) vs exec (noop action on the pre-built
DataFrame) so driver-side py4j storms are visible separately.

Usage: python scripts/time_query.py [--split] name [name ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    from database_migration_spark import get_spark
    from database_migration_spark import queries as Q

    args = [a for a in sys.argv[1:] if a != "--split"]
    split = "--split" in sys.argv[1:]
    spark = get_spark(app_name="time_query")
    registry = Q.queries()
    Q.table(spark, SF_DIR, "region").count()  # warm the JVM once
    for name in args:
        fn = registry[name]
        laps = []
        # bench.py methodology: clearCache + gc ONCE per query, then a
        # warm-up lap and min-of-laps with operator-internal persists
        # surviving across laps (that is what the grading driver times)
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        for lap in range(4):
            t0 = time.time()
            df = fn(spark, SF_DIR)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            laps.append((t2 - t0, t1 - t0, t2 - t1))
        best = min(laps[1:], key=lambda x: x[0])
        msg = f"{name}: {best[0]:.2f}s"
        if split:
            msg += f" (build {best[1]:.2f} + exec {best[2]:.2f})"
            msg += "  laps=" + ",".join(f"{l[0]:.2f}" for l in laps)
        print(msg)
    print(f"load1={os.getloadavg()[0]:.1f}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
