"""Parallelism repair for CPU-heavy operators.

A parquet file with a single row group scans as ONE task no matter how many
cores exist — common with small/medium dimension files and exactly our local
fixtures. Operators whose per-row cost is high (regex passes, shingling,
dot products, wide metric aggregates) repartition first: the shuffle moves
only the (small) input once, and the expensive compute then uses every core.

At production scale this is a no-op: inputs already have >= parallelism
partitions, and the guard below skips the shuffle entirely. It is never a
substitute for proper partitioning of large tables — it exists for the
small-input/expensive-compute shape.

The driver side has the same shape one level up: a per-table loop of small
jobs leaves the cores idle between stages. :func:`map_tables` runs such a
loop's independent items on a bounded thread pool, so their job chains
overlap.
"""

from __future__ import annotations

import os
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.util import inheritable_thread_target


# spark.sql.files.maxPartitionBytes' default: the input volume Spark
# itself hands one scan task — the unit fan floors are expressed in
SPLIT_BYTES = 128 * 1024 * 1024


def fan_out(
    df: DataFrame,
    n: int | None = None,
    key: str | Column | list[str] | None = None,
    min_bytes: int = 0,
) -> DataFrame:
    """Repartition up to the cluster's default parallelism — only when the
    input is small enough that its scan cannot feed every core.

    The decision is the exact partition-count check: one plan→RDD
    conversion, which both catches a 1-partition input (a single-row-group
    file, an unpartitioned JDBC read) and prevents a redundant shuffle on
    an already-wide one.

    ``min_bytes`` opts a caller out of fanning SMALL inputs: when
    Catalyst's size estimate (``sizeInBytes`` of the optimized plan) is
    under the floor, the input passes through untouched — no shuffle, and
    no partition probe either. The estimate is an UPPER bound (a join's is
    the product of its children's; a source without statistics, such as a
    JDBC relation, reports Long.MaxValue), so it can show that an input is
    small but never that it is big: above the floor, the partition probe
    decides as it does without one. For cheap scan+agg shapes (a global
    count_distinct, the metric plans' Expand) the fan's extra exchange
    costs more than single-task partial aggregation saves until one task's
    share becomes the straggler — measured r12: lineitem PK distinct
    0.63 s unfanned vs 0.80 s fanned at sf0.1. Floors derive from
    :data:`SPLIT_BYTES`.

    ``key`` (a high-cardinality column / column list) switches the
    shuffle from round-robin to HASH partitioning. Round-robin pays a
    full local SORT of every row first (``sortBeforeRepartition`` —
    Spark's retry-determinism guard), serialized onto the single scan
    task for single-row-group files; hash partitioning is retry-
    deterministic by construction (row→partition depends only on row
    content), skips the sort, and — when ``key`` matches a downstream
    groupBy/join key — lets EnsureRequirements elide the next exchange.
    Measured r12: lineitem wide-agg 0.80 s (rr) → 0.50 s (hash on
    l_orderkey). Keep round-robin (key=None) for tiny relations feeding
    per-row-expensive stages (image decode), where its perfectly even
    spread beats hash's multinomial balance.
    """
    target = n or df.sparkSession.sparkContext.defaultParallelism
    if not _should_fan(df, target, min_bytes):
        return df
    if key is not None:
        cols = key if isinstance(key, list) else [key]
        return df.repartition(target, *cols)
    return df.repartition(target)


def _should_fan(df: DataFrame, target: int, min_bytes: int = 0) -> bool:
    """The fan decision — see :func:`fan_out`'s docstring."""
    if min_bytes and size_estimate(df) < min_bytes:
        return False  # known-small under the caller's floor
    return df.rdd.getNumPartitions() < target


def size_estimate(df: DataFrame) -> int:
    """Catalyst's ``sizeInBytes`` for ``df``'s optimized plan — an upper
    bound on its volume, not a measurement (see :func:`fan_out`)."""
    # py4j hands a Scala BigInt back as a Python int; str() reads either
    return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))


def map_tables(spark: SparkSession, fn, items) -> list:
    """``[fn(x) for x in items]``, run on a bounded driver thread pool.

    Each call inherits the calling thread's Spark local properties (job
    group, scheduler pool, job tags) through ``inheritable_thread_target``,
    wrapped per item so no two threads share one properties object. At
    most ``min(len(items), defaultParallelism, usable host cores)`` run at
    once — the last bound keeps a large cluster from getting one driver
    thread per table; one worker is the serial loop. Results come back in
    input order. The first failure seen propagates unchanged, items not
    yet started are cancelled, and the running ones finish before this
    returns, so no pool thread outlives the call.

    ``fn`` must not change driver state that another item reads — in
    particular no session conf value: ``spark.conf`` is session-wide, not
    per thread.
    """
    items = list(items)
    if not items:
        return []
    workers = min(
        len(items),
        spark.sparkContext.defaultParallelism,
        len(os.sched_getaffinity(0)),
    )
    pool = ThreadPoolExecutor(workers, thread_name_prefix="map_tables")
    try:
        futures = [
            pool.submit(inheritable_thread_target(spark)(fn), x) for x in items
        ]
        wait(futures, return_when=FIRST_EXCEPTION)
        for f in futures:
            if f.done() and f.exception() is not None:
                raise f.exception()
        return [f.result() for f in futures]
    finally:
        pool.shutdown(cancel_futures=True)
