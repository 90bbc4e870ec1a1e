"""Change-data-capture apply: op-coded (I/U/D) ordered change streams.

Reference seam: the delta_import family syncs via watermark + MERGE on PK
(delta_import_on_primary_keys.sql:374-435, :399-401), which handles new
and updated rows but cannot express a DELETE — a row that vanished from
the source never arrives through a `>= watermark` load. A CDC feed closes
that gap with explicit opcodes; this module is the executor for that feed
shape (Debezium/DMS-style per-key last-writer-wins), the natural next
step for a user of the `sync` workflow whose source emits a change log.

Semantics:
- per key, events order by ``seq_col``; the FINAL event decides the key's
  fate: ``D`` → absent from the result, ``I``/``U`` → the final image's
  attributes. Keys the stream never mentions pass through from the base.
- a key with two events at the same seq has no defined winner; the
  default ``validate_unique=True`` spends one aggregate on the stream
  (which is delta-sized) to fail loudly instead of letting a nondeter-
  ministic row win (the scd2_merge guard precedent).

Scale shape: the stream reduces per-key FIRST — one window over the
DELTA-sized stream, never over the base — then one MERGE-style key join
applies net images and deletes: the base never sorts, never windows, and
shuffles once on the key. At 100 TB with a transactional table format the
same net-change relation feeds ``MERGE INTO … WHEN MATCHED AND op='D'
THEN DELETE``; here it materializes the new version like delta_sync's
join rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import Window

OPS = ("I", "U", "D")


def net_changes(
    stream: DataFrame,
    keys: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    validate_unique: bool = True,
) -> DataFrame:
    """Per-key net effect of an op-coded stream: exactly one row per key —
    the event with the highest ``seq_col`` (its op + attribute columns).

    The window partitions by key over the delta-sized stream only. Ops
    outside I/U/D raise; duplicate (key, seq) pairs raise under
    ``validate_unique`` (one aggregate over the stream).
    """
    # the NULL disjunct is load-bearing: ~isin() is NULL (not true) for a
    # NULL op, which would slip past the guard and then act as a DELETE
    # downstream (op != 'D' is NULL → excluded from upserts while the key
    # still anti-joins out of the base) — review finding, r12 session 6
    bad = (
        stream.where(F.col(op_col).isNull() | ~F.col(op_col).isin(*OPS))
        .limit(1)
        .collect()
    )
    if bad:
        raise ValueError(
            f"unknown CDC op {bad[0][op_col]!r} — expected one of {OPS}"
        )
    if validate_unique:
        dup = (
            stream.groupBy(*keys, seq_col)
            .count()
            .where(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            kv = {k: dup[0][k] for k in keys}
            raise ValueError(
                f"CDC stream has multiple events at seq={dup[0][seq_col]!r} "
                f"for key {kv} — no defined winner; de-duplicate upstream "
                "or disambiguate the sequence column"
            )
    w = Window.partitionBy(*keys).orderBy(F.col(seq_col).desc())
    return (
        stream.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def apply_cdc(
    base: DataFrame,
    stream: DataFrame,
    keys: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
    validate_unique: bool = True,
    persist: bool = True,
) -> DataFrame:
    """The new table version after applying the stream's net changes.

    Column contract: the result has exactly the base's columns. Stream
    attribute columns are matched to base columns by name; stream columns
    that aren't base columns (the seq/op bookkeeping) are dropped; a base
    attribute the stream lacks raises (a partial-image feed needs a
    column-pruned base or an enriched feed — silent NULL-filling would
    corrupt untouched attributes).

    Plan: net = one window over the delta-sized stream; survivors (I/U)
    replace base rows on key collision and append otherwise, deletes
    anti-join out — one shuffle on the key for each side, the
    delta_sync merge rewrite extended with the delete leg:

        result = net_upserts ∪ (base ⟕anti net_all on keys)

    ``net`` feeds two branches (upserts + the anti-join key set); it is
    persisted MEMORY_AND_DISK by the multi-consumer rule (the window over
    the delta would otherwise run twice). Pass ``persist=False`` from
    long-running foreachBatch loops (per-epoch plans differ, so an
    operator-internal persist leaks one cache entry per epoch — the
    fingerprint_store/incremental_dedup precedent) and persist/unpersist
    in the harness instead.
    """
    missing = [c for c in base.columns if c not in stream.columns]
    if missing:
        raise ValueError(
            f"stream lacks base attribute column(s) {missing} — a CDC feed "
            "must carry the full row image for I/U events"
        )
    net = net_changes(stream, keys, seq_col, op_col, validate_unique)
    if persist:
        from pyspark import StorageLevel

        net = net.persist(StorageLevel.MEMORY_AND_DISK)
    touched = net.select(*keys)
    upserts = net.where(F.col(op_col) != "D").select(*base.columns)
    return upserts.unionByName(base.join(touched, keys, "left_anti"))


def cdc_counts(
    stream: DataFrame,
    keys: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Audit rollup of a CDC feed: events and net effects per op — the
    reconciliation row a load pipeline logs next to the apply (events vs
    net shows how much the feed churned within the window). One window +
    one aggregate, both over the delta-sized stream."""
    net = net_changes(stream, keys, seq_col, op_col, validate_unique=False)
    ev = stream.groupBy(op_col).agg(
        F.count(F.lit(1)).cast("long").alias("events")
    )
    nt = net.groupBy(op_col).agg(
        F.count(F.lit(1)).cast("long").alias("net_keys")
    )
    return (
        ev.join(nt, op_col, "full_outer")
        .select(
            F.col(op_col).alias("op"),
            F.coalesce("events", F.lit(0)).alias("events"),
            F.coalesce("net_keys", F.lit(0)).alias("net_keys"),
        )
    )
