"""Type-2 slowly-changing-dimension merge: history-preserving upserts.

The reference's delta import (delta_import/delta_import_on_primary_keys.sql
:374-435) OVERWRITES matched rows — current-state sync. The equally common
warehouse shape it leaves to the user is the history-preserving variant:
when an attribute changes, close the old version (set its ``valid_to``) and
open a new one, so every past state stays queryable "as of" any time. This
module is that operator, Spark-set-based (one full-outer join, no per-row
loops, no window over the whole dimension).

Version columns: ``valid_from`` / ``valid_to`` (NULL = open) and
``is_current``. Timestamps are caller-typed (BIGINT batch ids in the tests
and oracle — exact cross-engine arithmetic per the repo's rules; real
deployments pass timestamps).

Scale shape:
- One shuffle: the full-outer join of the OPEN slice against the update
  batch on the natural key. History rows (``is_current = false``) never
  enter the join — they union back untouched, so cost tracks
  |open| + |batch|, not |history| (which dominates a years-old dimension).
- At 100 TB, write the dimension partitioned by ``is_current`` (or
  ``valid_to IS NULL``): the merge rewrites only the open partition, and
  as-of queries prune to closed partitions by ``valid_to`` range.
- A small daily batch broadcasts under the session threshold; a full
  snapshot falls back to a shuffle join — both from the same plan via AQE.
- NULL-safe attribute comparison (``eqNullSafe``) — a NULL→value change is
  a real change, and NULL==NULL is "unchanged", matching MERGE semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from database_migration_spark.functions import store_meta

VERSION_COLS = ("valid_from", "valid_to", "is_current")


def _attrs_equal(left_prefix: str, right_prefix: str, attrs: list[str]) -> Column:
    cond = F.lit(True)
    for a in attrs:
        cond = cond & F.col(f"{left_prefix}.{a}").eqNullSafe(
            F.col(f"{right_prefix}.{a}")
        )
    return cond


def scd2_merge(
    current: DataFrame,
    updates: DataFrame,
    keys: list[str],
    attrs: list[str],
    batch_ts,
    close_missing: bool = False,
    persist: bool = True,
    validate_unique: bool = True,
) -> DataFrame:
    """Merge an update batch into a type-2 dimension, returning the new
    dimension content (keys + attrs + valid_from/valid_to/is_current).

    Row fates (all derived column-wise from ONE full-outer join of the
    open slice vs the batch):

    - matched, attributes NULL-safe-equal → open row kept as-is;
    - matched, attributes differ → old version closed
      (``valid_to = batch_ts``, ``is_current = false``) AND a new open
      version inserted (``valid_from = batch_ts``);
    - key only in the batch → new entity, one open version;
    - key only in the open slice → kept as-is, unless ``close_missing``
      (set it when ``updates`` is a FULL snapshot: a vanished entity's
      open version closes at ``batch_ts`` — soft delete with history).

    Closed history never joins, never rewrites.

    ``persist=False`` opts out of the internal multi-consumer persist for
    foreachBatch callers (per-epoch plans are distinct, so an internal
    persist would leak one cache entry per epoch — the streaming harness
    persists and unpersists explicitly instead).

    PRECONDITION: at most ONE update row per key. A batch with two rows
    for a key would fan the full-outer join out and write duplicate open
    versions into the dimension — silent corruption that compounds every
    later merge. ``validate_unique=True`` (default) spends one aggregate
    on the batch to fail loudly instead; callers that already reduced
    their batch (e.g. a CDC compaction keeping the last event per key —
    which needs an ordering column this operator deliberately does not
    invent) may pass False to skip the check.
    """
    out_cols = list(keys) + list(attrs) + list(VERSION_COLS)
    history = current.where(~F.col("is_current")).select(out_cols)
    # side presence is detected via these literal markers, NOT key
    # nullness: the join is eqNullSafe precisely so NULL key values are
    # legal, and a row with a NULL first key column would otherwise match
    # no fate branch and silently vanish from the dimension
    open_ = (
        current.where(F.col("is_current"))
        .select(out_cols)
        .withColumn("_p", F.lit(True))
        .alias("o")
    )
    upd = (
        updates.select(list(keys) + list(attrs))
        .withColumn("_p", F.lit(True))
        .alias("u")
    )
    if validate_unique:
        dup = (
            updates.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("_c"))
            .where(F.col("_c") > 1)
            .limit(3)
            .collect()
        )
        if dup:
            sample = [tuple(r[k] for k in keys) for r in dup]
            raise ValueError(
                f"scd2_merge: update batch has multiple rows per key, e.g. "
                f"{sample} — reduce to one row per key first (pick the last "
                "event per key by your ordering column), or pass "
                "validate_unique=False if already reduced"
            )

    on = [open_[k].eqNullSafe(upd[k]) for k in keys]
    cond = on[0]
    for c in on[1:]:
        cond = cond & c
    from pyspark import StorageLevel

    # three consumers (kept / closed_now / opened_now project different
    # fates from the same join) — the multi-consumer rule: without the
    # persist the open-vs-batch join executes once per union branch
    j = open_.join(upd, cond, "full_outer")
    if persist:
        j = j.persist(StorageLevel.MEMORY_AND_DISK)

    in_open = F.col("o._p").isNotNull()
    in_upd = F.col("u._p").isNotNull()
    changed = in_open & in_upd & ~_attrs_equal("o", "u", list(attrs))
    unchanged = in_open & in_upd & _attrs_equal("o", "u", list(attrs))
    ts = F.lit(batch_ts).cast(current.schema["valid_from"].dataType)

    # surviving open rows: unchanged keep their version; open-only rows
    # keep or close per close_missing
    open_only_keep = in_open & ~in_upd if not close_missing else F.lit(False)
    kept = j.where(unchanged | open_only_keep).select(
        *[F.col(f"o.{c}").alias(c) for c in keys + attrs],
        F.col("o.valid_from").alias("valid_from"),
        F.col("o.valid_to").alias("valid_to"),
        F.col("o.is_current").alias("is_current"),
    )
    closing = changed | ((in_open & ~in_upd) if close_missing else F.lit(False))
    closed_now = j.where(closing).select(
        *[F.col(f"o.{c}").alias(c) for c in keys + attrs],
        F.col("o.valid_from").alias("valid_from"),
        ts.alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    opened_now = j.where(changed | (in_upd & ~in_open)).select(
        *[F.col(f"u.{c}").alias(c) for c in keys + attrs],
        ts.alias("valid_from"),
        F.lit(None).cast(current.schema["valid_to"].dataType).alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return (
        history.unionByName(kept)
        .unionByName(closed_now)
        .unionByName(opened_now)
    )


def scd2_bootstrap(
    snapshot: DataFrame, keys: list[str], attrs: list[str], ts
) -> DataFrame:
    """First load: every snapshot row becomes an open version."""
    t = "bigint" if isinstance(ts, int) else "timestamp"
    return snapshot.select(
        *[F.col(c) for c in list(keys) + list(attrs)],
        F.lit(ts).cast(t).alias("valid_from"),
        F.lit(None).cast(t).alias("valid_to"),
        F.lit(True).alias("is_current"),
    )


def check_close_missing(dim_path: str, partitions, close_missing: bool) -> None:
    """Raise when ``close_missing`` meets a key-hash layout, given as the
    argument OR stored with the dimension: a snapshot feed touches every
    key, so there is nothing to prune, and the surgical merge would
    silently drop the soft deletes."""
    if close_missing and (
        partitions is not None
        or store_meta.read(dim_path, "target") is not None
    ):
        raise ValueError(
            "close_missing (--close-missing) touches every dimension key "
            "— partition-surgical maintenance cannot help; use the "
            "unpartitioned layout (no partitions, unpartitioned store) "
            "for snapshot feeds"
        )


def as_of(dim: DataFrame, ts) -> DataFrame:
    """The dimension as it stood at ``ts``: versions whose interval covers
    it — ``valid_from <= ts < coalesce(valid_to, +inf)``. With the
    dimension partitioned on ``valid_to`` ranges this prunes to the
    covering partitions."""
    t = F.lit(ts)
    return dim.where(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    )
