"""Streaming upgrade path for the incremental primitives (SURVEY §2.10).

The reference is batch-incremental only (watermark column + MERGE). These
wrappers show the same semantics on Structured Streaming:

- :func:`windowed_event_agg` — event-time windowed aggregation with a late-
  data watermark (the streaming analogue of events_hourly_agg);
- :func:`stream_merge_upsert` — ``foreachBatch`` + join-rewrite MERGE: each
  micro-batch upserts into a parquet target by PK, which is exactly
  DELTA_IMPORT's staging→MERGE loop running continuously
  (delta_import_on_primary_keys.sql:399-401).

At scale the foreachBatch target should be a transactional table format
(Delta/Iceberg — not in this environment); the parquet rewrite here keeps
semantics observable and testable: idempotent per batch, staged rows win.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_migration_spark.functions import store_meta
from database_migration_spark.operators.delta_sync import merge_upsert


def windowed_event_agg(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
    keys: list[str] | None = None,
) -> DataFrame:
    """Watermarked tumbling/sliding window aggregation over a streaming DF."""
    keys = keys or ["event_type"]
    w = (
        F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(w.alias("win"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *keys, "n_events", "sum_value",
        )
    )


def stream_merge_upsert(
    stream: DataFrame,
    target_path: str,
    keys: list[str],
    checkpoint: str,
    spark: SparkSession | None = None,
):
    """writeStream.foreachBatch upserting each micro-batch into a parquet
    target by PK. Returns the StreamingQuery (caller stops it).

    This is the minimal FULL-REWRITE form — right for small dimensions.
    For large targets prefer :func:`stream_cdc_apply` with
    ``partitions=N``: it subsumes this stream with a partition-surgical
    rewrite (per-epoch cost ∝ |delta| + |touched partitions|, measured 8×
    at 15 M keys — SCALE.md round 9) and adds cross-batch seq fences."""

    from database_migration_spark.functions.io import keyed_epoch

    def upsert(batch: DataFrame, epoch_id: int) -> None:
        keyed_epoch(
            batch.sparkSession, target_path,
            target_path + f".epoch{epoch_id}", keys, None, batch,
            lambda target, delta: delta if target is None
            else merge_upsert(target, delta, keys),
        )

    return (
        stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )


def stream_dedup_exact(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: drop any document whose normalized-text
    fingerprint was already seen within the watermark horizon
    (dropDuplicatesWithinWatermark — state is bounded by the horizon, so
    it runs forever on an unbounded corpus feed; an unbounded
    dropDuplicates would grow state with the corpus). The fingerprint is
    the same md5-of-normalized-text key the batch exact_dedup groups on,
    so batch and streaming paths agree on what a duplicate is."""
    from database_migration_spark.functions.text_exprs import normalize_text

    fp = F.md5(normalize_text(F.col(text_col)))
    return (
        stream.withColumn("fingerprint", fp)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fingerprint"])
    )


def stream_incremental_dedup(
    stream: DataFrame,
    store_fp: DataFrame | None,
    decisions_sink,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int | None = None,
    num_perm: int | None = None,
    bands: int | None = None,
    min_agree_permille: int = 750,
    checkpoint: str | None = None,
    store_index_path: str | None = None,
    buckets: int | None = None,
):
    """Continuous crawl ingestion deduplicated against the historical
    corpus: each micro-batch is fingerprinted (content hash + minhash
    signature) and decided against the persisted ``store_fp`` relation via
    ``operators.dedup.incremental_dedup`` — exact / near / new, without
    ever re-reading historical text.

    foreachBatch is the right harness (same reasoning as
    :func:`stream_merge_upsert`): the decision is a batch join against a
    static store, not an aggregation over the stream, so per-batch batch
    semantics apply cleanly. ``decisions_sink(decisions_df, epoch_id)``
    receives the (id, status, match_id) table per batch; a production sink
    appends the batch's 'new' fingerprints back to the store so later
    batches dedup against them too (the store grows by O(num_perm) per
    accepted doc, never by text). The sink receives ``epoch_id``
    precisely so it can make itself replay-idempotent: foreachBatch is
    at-least-once, and an APPENDING sink that ignores redelivered epochs
    writes duplicate decision/fingerprint rows (the additive-fold lesson
    — see :func:`fold_incremental_agg`'s epoch watermark for the
    pattern).

    Cache lifecycle: every epoch's batch has a distinct logical plan, so
    the batch-side persists the operators would normally add can never be
    reused and would accumulate one orphaned cache entry per epoch for the
    stream's whole life. This harness therefore persists exactly one
    batch-side relation per epoch (the fingerprint table, 3 consumers) and
    unpersists it after the sink returns — so the sink MUST materialize
    the decisions (collect/write) before returning, not hold the lazy
    frame; ``store_fp`` is persisted ONCE here and reused across epochs.

    Batch-internal duplicates: handled by chaining
    :func:`stream_dedup_exact` upstream (exact within the watermark
    horizon), mirroring the batch pipeline's exact-then-incremental order.

    ``store_index_path`` (mutually exclusive with ``store_fp``) points at a
    :func:`~database_migration_spark.operators.dedup.write_fingerprint_index`
    layout instead of an in-memory store relation: each micro-batch probe
    then partition-prunes the store — the right economics when the store
    is corpus-scale and batches are small (the plain path re-reads the
    whole store every epoch). The batch then signs with the index's
    stored shingle k, seed and num_perm, and probes with its stored bands
    and buckets; an explicit value that contradicts the index raises. A
    None parameter otherwise takes ``dedup.INDEX_DEFAULTS``.
    """
    from pyspark import StorageLevel

    from database_migration_spark.operators.dedup import (
        INDEX_DEFAULTS,
        fingerprint_store,
        incremental_dedup,
        incremental_dedup_indexed,
    )

    if (store_fp is None) == (store_index_path is None):
        raise ValueError("exactly one of store_fp / store_index_path required")
    given = {"shingle_k": k, "seed": None, "num_perm": num_perm,
             "bands": bands, "buckets": buckets}
    if store_index_path is not None:
        p = store_meta.resolve(
            store_index_path, "minhash", given, INDEX_DEFAULTS
        )
    else:
        p = {n: INDEX_DEFAULTS[n] if v is None else v for n, v in given.items()}
    k, seed, num_perm = p["shingle_k"], p["seed"], p["num_perm"]
    bands, buckets = p["bands"], p["buckets"]
    if store_fp is not None:
        store_fp = store_fp.persist(StorageLevel.MEMORY_AND_DISK)

    def decide(batch: DataFrame, epoch_id: int) -> None:
        if not batch.head(1):
            return
        batch_fp = fingerprint_store(
            batch,
            text_col=text_col,
            id_col=id_col,
            k=k,
            num_perm=num_perm,
            seed=seed,
            persist=False,  # micro-batch: one redundant normalize beats a leak
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            if store_index_path is not None:
                decisions = incremental_dedup_indexed(
                    batch.sparkSession,
                    store_index_path,
                    batch_fp,
                    num_perm=num_perm,
                    bands=bands,
                    min_agree_permille=min_agree_permille,
                    buckets=buckets,
                    persist_inputs=False,
                )
            else:
                decisions = incremental_dedup(
                    batch_fp,
                    store_fp,
                    num_perm=num_perm,
                    bands=bands,
                    min_agree_permille=min_agree_permille,
                    persist_inputs=False,
                )
            decisions_sink(decisions, epoch_id)
        finally:
            batch_fp.unpersist(blocking=False)

    writer = stream.writeStream.foreachBatch(decide).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def stream_image_dedup(
    stream: DataFrame,
    index_path: str,
    decisions_sink,
    payload_col: str = "payload",
    id_col: str = "media_id",
    max_hamming: "int | None" = None,
    buckets: "int | None" = None,
    checkpoint: "str | None" = None,
):
    """Continuous crawl ingestion of IMAGES deduplicated against the
    historical corpus — the media leg of :func:`stream_incremental_dedup`
    (round 12: the hamming signature index gave images the text store's
    lifecycle; this is its streaming harness). Each micro-batch dHashes
    its payloads map-side (multimodal.perceptual_dhash — 16-byte
    signatures, pixels never shuffle) and probes the
    ``dedup.write_hamming_index`` layout with partition-pruned reads
    (``hamming_dedup_indexed``); layout parameters resolve from the
    stored ``_index_meta.json``, contradictions raise.

    ``decisions_sink(decisions_df, epoch_id)`` receives per batch:
    (id, status, match_id, min_hamming, sig_lo, sig_hi) — undecodable
    payloads ride along as ``status='decode_error'`` rows (visible, not
    dropped), and 'new' rows carry their signatures so a production
    sink can append them straight back via ``append_hamming_index``
    (the crawl-loop maintenance step). The sink receives ``epoch_id``
    so it can make itself replay-idempotent (foreachBatch is
    at-least-once — the additive-fold lesson), and it MUST materialize
    the decisions before returning: this harness persists exactly one
    batch-side relation per epoch (the signature table — probe + output
    join) and unpersists it after the sink returns (the foreachBatch
    persist-leak rule)."""
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from database_migration_spark.operators.dedup import (
        hamming_dedup_indexed,
    )
    from database_migration_spark.operators.multimodal import (
        perceptual_dhash,
    )

    def decide(batch: DataFrame, epoch_id: int) -> None:
        if not batch.head(1):
            return
        sigs_all = perceptual_dhash(
            batch, payload_col=payload_col, id_col=id_col
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            ok = sigs_all.where(F.col("error").isNull()).select(
                "id", "sig_lo", "sig_hi"
            )
            decided = hamming_dedup_indexed(
                batch.sparkSession,
                index_path,
                ok,
                max_hamming=max_hamming,
                buckets=buckets,
                persist_inputs=False,
            ).join(ok, "id")
            errors = sigs_all.where(F.col("error").isNotNull()).select(
                "id",
                F.lit("decode_error").alias("status"),
                F.lit(-1).cast("long").alias("match_id"),
                F.lit(-1).cast("long").alias("min_hamming"),
                F.lit(None).cast("long").alias("sig_lo"),
                F.lit(None).cast("long").alias("sig_hi"),
            )
            decisions_sink(decided.unionByName(errors), epoch_id)
        finally:
            sigs_all.unpersist(blocking=False)

    writer = stream.writeStream.foreachBatch(decide).outputMode("append")
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def stream_scd2(
    stream: DataFrame,
    dim_path: str,
    keys: list[str],
    attrs: list[str],
    checkpoint: str,
    batch_ts_of=None,
    close_missing: bool = False,
    partitions: int | None = None,
):
    """Continuous type-2 SCD dimension maintenance: each micro-batch of
    entity updates is merged history-preservingly into the parquet
    dimension at ``dim_path`` via ``operators.scd2.scd2_merge`` — changed
    entities get their open version closed and a new one opened, so the
    dimension stays as-of-queryable while the stream runs.

    foreachBatch is the right harness (the same reasoning as
    :func:`stream_merge_upsert`): the merge is a batch join against a
    static stored dimension, not a stream aggregation. The first
    non-empty batch bootstraps the dimension.

    ``batch_ts_of(epoch_id, batch)`` supplies each batch's version
    timestamp; the default is the epoch id itself (BIGINT version
    counter — exact, deterministic, restart-monotonic via the
    checkpoint). Mixing the two conventions corrupts interval queries, so
    pick one per dimension.

    A micro-batch carrying MULTIPLE update rows for one key fails the
    epoch loudly (scd2_merge's uniqueness guard) rather than writing
    duplicate open versions — reduce upstream (e.g.
    ``stream.dropDuplicatesWithinWatermark([*keys])`` for at-least-once
    sources, or a last-event-per-key compaction keyed on your CDC
    ordering column) before handing the stream here.

    Cache lifecycle: the merge runs with ``persist=False`` — per-epoch
    plans are distinct, so scd2_merge's internal multi-consumer persist
    would leak one cache entry per epoch for the stream's life (the
    stream_incremental_dedup lesson). The cost is that the open-vs-batch
    join's post-shuffle stages re-run once per fate branch inside the
    single staged write (the shuffle itself is reused) — bounded by
    |open| + |batch| per epoch, and leak-free.

    Storage: stage-then-swap parquet rewrite of the whole dimension, like
    :func:`stream_merge_upsert` — or, with ``partitions=N``, a key-hash
    ``partitionBy(_pt)`` layout where each epoch rewrites ONLY the
    partitions the batch's keys touch (sound because ``scd2_merge``
    passes every non-batch key through untouched — including its closed
    history, which lives in the same key partition). ``close_missing``
    is incompatible with the surgical layout (a full snapshot touches
    EVERY key, so there is nothing to prune) and raises at construction.
    A transactional format (Delta/Iceberg) replaces both with MERGE INTO.
    """
    from database_migration_spark.functions.io import keyed_epoch
    from database_migration_spark.operators.scd2 import (
        check_close_missing,
        scd2_bootstrap,
        scd2_merge,
    )

    check_close_missing(dim_path, partitions, close_missing)

    def apply(batch: DataFrame, epoch_id: int) -> None:
        if not batch.head(1):
            return
        ts = int(epoch_id) if batch_ts_of is None else batch_ts_of(epoch_id, batch)

        def merge(dim, delta):
            if dim is None:
                return scd2_bootstrap(delta, keys, attrs, ts)
            return scd2_merge(
                dim, delta, keys, attrs, ts,
                close_missing=close_missing, persist=False,
            )

        keyed_epoch(
            batch.sparkSession, dim_path, dim_path + f".epoch{epoch_id}",
            keys, partitions, batch, merge,
        )

    return (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )


def stream_incremental_agg(
    stream: DataFrame,
    state_path: str,
    keys: list[str],
    measures: list[str],
    checkpoint: str,
    signed: bool = False,
    sign_col: str | None = None,
    distinct_cols: list[str] | None = None,
):
    """Continuous materialized-summary maintenance: each micro-batch folds
    into the per-group partial-aggregate state stored at ``state_path``
    via ``operators.incremental_agg`` — delta-sized work per epoch, the
    scanned history never re-read. This is the derived-table counterpart
    of :func:`stream_merge_upsert` (which keeps BASE tables current the
    way the reference's DELTA_IMPORT loop does,
    delta_import_on_primary_keys.sql:399-401): together they keep a fact
    table AND its summary continuously fresh from one CDC feed.

    ``distinct_cols`` maintains per-group HLL distinct sketches across
    epochs (insert-only streams; see ``incremental_agg.build_state``).

    ``signed=True`` consumes a retraction stream (``sign_col`` = ±1):
    counts/sums subtract exactly and fully-retracted groups vanish from
    the state, matching a rebuild without those rows; min/max are omitted
    (not retractable from a partial — the standard MV-maintenance trade).

    Every epoch routes through ``merge_states`` — including the bootstrap
    epoch, so the empty-group drop applies uniformly and a restart from
    the checkpoint replays into the identical state.

    **Replay safety**: foreachBatch is at-least-once — a crash between the
    state swap and the checkpoint commit redelivers the SAME epoch, and a
    second fold would double-count it (MERGE-by-PK sinks are naturally
    idempotent; additive folds are not). The state therefore carries the
    last applied epoch id in an ``_epoch`` column, and
    :func:`fold_incremental_agg` skips any epoch ≤ it. The epoch travels
    INSIDE the swapped parquet, so the skip decision and the data commit
    are the same publish step. Corollary: the state and the checkpoint
    are ONE unit — restarting against an existing state with a FRESH
    checkpoint resets batch ids to 0 and every fold would be skipped as
    a replay; delete (or keep) both together.

    State size is |groups|, not |history|; the per-epoch merge shuffle is
    bounded by |groups| + |batch groups|. Storage is the same
    stage-then-swap parquet rewrite as :func:`stream_scd2` (at scale a
    transactional format replaces it with MERGE INTO, and a state
    bucketed on the group keys drops the merge shuffle entirely).
    """

    def fold(batch: DataFrame, epoch_id: int) -> None:
        fold_incremental_agg(
            batch, int(epoch_id), state_path, keys, measures,
            signed=signed, sign_col=sign_col, distinct_cols=distinct_cols,
        )

    return (
        stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )


def fold_incremental_agg(
    batch: DataFrame,
    epoch_id: int,
    state_path: str,
    keys: list[str],
    measures: list[str],
    signed: bool = False,
    sign_col: str | None = None,
    distinct_cols: list[str] | None = None,
) -> bool:
    """One replay-safe fold step (the foreachBatch body of
    :func:`stream_incremental_agg`, exposed for direct testing and for
    batch drivers that manage their own epochs). Returns True if the
    epoch was applied, False if skipped (empty batch or already-applied
    epoch — the at-least-once redelivery case).

    The stored state carries one WATERMARK MARKER row — all group keys
    NULL and ``n_rows = 0`` (impossible for a real group: merge_states
    drops zero-count groups) — so the ``_epoch`` watermark survives even
    when a signed epoch retracts EVERY group and the state has no data
    rows left; without it, the redelivery of exactly that epoch would
    re-apply the retractions against an empty state and mint phantom
    negative groups. Read the state through the convention
    ``where n_rows != 0``."""
    if not batch.head(1):
        return False
    import os

    from database_migration_spark.operators import incremental_agg as IA

    s = batch.sparkSession
    states = []
    if os.path.exists(state_path):
        stored = s.read.parquet(state_path)
        last = stored.select(F.max("_epoch").alias("e")).first()["e"]
        if last is not None and int(epoch_id) <= int(last):
            return False
        states.append(stored.where(F.col("n_rows") != 0).drop("_epoch"))
    states.append(
        IA.build_state(
            batch, keys, measures,
            signed=signed, sign_col=sign_col, distinct_cols=distinct_cols,
        )
    )
    merged = IA.merge_states(states, keys, measures, distinct_cols).withColumn(
        "_epoch", F.lit(int(epoch_id)).cast("long")
    )
    marker = s.range(1).select(
        *[
            F.lit(0).cast("long").alias(f.name) if f.name == "n_rows"
            else F.lit(int(epoch_id)).cast("long").alias(f.name)
            if f.name == "_epoch"
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in merged.schema.fields
        ]
    )
    from database_migration_spark.functions.io import publish_parquet

    publish_parquet(
        merged.unionByName(marker), state_path,
        state_path + f".epoch{epoch_id}",
    )
    return True


def stream_drift_monitor(
    stream: DataFrame,
    reference_path: str,
    cols: list[str],
    sink,
    checkpoint: str,
    n_bins: int | None = None,
):
    """Continuous ingest-quality monitoring: each micro-batch's value
    distributions are scored against a FROZEN reference histogram
    (operators/drift.reference_histogram, written once from a known-good
    corpus snapshot) and the per-column TV distances stream to
    ``sink(scores_df, epoch_id)`` — the schema-on-arrival complement of
    the batch `drift` CLI gate: a feed that silently starts sending a
    new code domain, a nulled-out column, or a shifted numeric range
    shows up as a rising tv_ppm within one micro-batch of landing.

    The reference (bin geometry + shares) is read and persisted ONCE —
    the stream never rescans it; per-epoch work is one stacked scan of
    the batch. Scores are integer-exact ppm, so alerting thresholds mean
    the same thing on every engine and every day. The sink owns replay
    idempotence (it receives epoch_id; see
    :func:`stream_incremental_dedup`'s contract), though duplicate SCORE
    rows are merely noisy, not corrupting — scoring has no state.

    ``n_bins=None`` (the default) resolves the bin count from the
    reference's stored ``_n_bins`` geometry column — the monitor cannot
    disagree with the snapshot it scores against (legacy references
    without the column fall back to 16; an explicit value that
    contradicts the stored geometry raises per epoch, the
    drift_against_reference guard).
    """
    from pyspark import StorageLevel

    from database_migration_spark.operators.drift import (
        drift_against_reference,
    )

    ref = None
    bins = n_bins

    def score(batch: DataFrame, epoch_id: int) -> None:
        nonlocal ref, bins
        if not batch.head(1):
            return
        if ref is None:
            ref = (
                batch.sparkSession.read.parquet(reference_path)
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            if bins is None:
                if "_n_bins" in ref.columns:
                    bins = int(ref.select("_n_bins").limit(1).collect()[0][0])
                else:
                    bins = 16
        sink(drift_against_reference(batch, ref, cols, bins), epoch_id)

    return (
        stream.writeStream.foreachBatch(score)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "click_ts",
    right_ts: str = "purchase_ts",
    gap: str = "60 minutes",
    watermark_delay: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join — the attribution pattern
    (each right-side event joins the left-side events of the same key in
    the preceding ``gap``): purchases←clicks, alerts←probes, fills←orders.

    State-boundedness is the whole design: BOTH sides carry event-time
    watermarks and the join condition bounds right_ts to
    [left_ts, left_ts + gap], so Spark can expire left rows once the
    right watermark passes left_ts + gap (and vice versa) — without the
    interval bound the state store grows forever; Spark rejects an
    unbounded stream-stream outer join outright. At 100 TB/day this is
    the only join shape that runs continuously: state is O(key-rate ×
    (gap + delay)) regardless of stream length.

    ``how='left_outer'`` emits unmatched left rows after the watermark
    closes their interval (attribution "no conversion" rows).

    Non-key columns the two inputs SHARE (both carrying ``amount``, say)
    come out prefixed ``left_``/``right_`` — emitting both under one name
    would make every downstream select-by-name raise
    AMBIGUOUS_REFERENCE."""
    lw = left.withWatermark(left_ts, watermark_delay)
    rw = right.withWatermark(right_ts, watermark_delay)
    cond = (
        (lw[key] == rw[key])
        & (rw[right_ts] >= lw[left_ts])
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {gap}"))
    )
    joined = lw.join(rw, cond, how)
    # one key column out, COALESCED: on an outer join the unmatched side's
    # key is NULL, so dropping either copy outright would lose the key for
    # those rows (right_outer/full_outer no-click purchases)
    shared = (set(left.columns) & set(right.columns)) - {key}
    names = [key]
    names += [f"left_{c}" if c in shared else c
              for c in left.columns if c != key]
    names += [f"right_{c}" if c in shared else c
              for c in right.columns if c != key]
    if len(set(names)) != len(names):
        dup = sorted({n for n in names if names.count(n) > 1})
        raise ValueError(
            f"stream_interval_join output names collide: {dup} — rename "
            "the inputs' columns before joining"
        )
    cols = [F.coalesce(lw[key], rw[key]).alias(key)]
    cols += [lw[c].alias(f"left_{c}" if c in shared else c)
             for c in left.columns if c != key]
    cols += [rw[c].alias(f"right_{c}" if c in shared else c)
             for c in right.columns if c != key]
    return joined.select(*cols)


def read_cdc_target(spark: SparkSession, target_path: str) -> DataFrame:
    """The LIVE view of a :func:`stream_cdc_apply` target: tombstones
    filtered, bookkeeping columns (``_seq``, ``_deleted``, and the
    partition-layout column when present) dropped."""
    from database_migration_spark.functions.io import PT_COL

    t = spark.read.parquet(target_path)
    drop = ["_seq", "_deleted"] + ([PT_COL] if PT_COL in t.columns else [])
    return t.where(~F.col("_deleted")).drop(*drop)


def stream_cdc_apply(
    stream: DataFrame,
    target_path: str,
    keys: list[str],
    checkpoint: str,
    seq_col: str = "seq",
    op_col: str = "op",
    partitions: int | None = None,
):
    """Continuous CDC apply: each micro-batch of op-coded (I/U/D) events
    folds into the parquet target at ``target_path`` — the streaming form
    of ``operators.cdc.apply_cdc``, hardened for the two orderings a real
    change feed violates:

    - WITHIN a batch: ``net_changes`` reduces to one event per key by
      ``seq_col`` (last writer wins), exactly like the batch operator.
    - ACROSS batches: the target stores each key's last applied sequence
      (``_seq``) and deletes persist as TOMBSTONES (``_deleted`` rows)
      rather than physical removals, so a late event older than what is
      already applied is FENCED (seq ≤ stored _seq → ignored), including
      the classic late-update-after-delete: without the tombstone the
      deleted key's fence would vanish with it and a stale update would
      resurrect the row. Result: the target converges to the same state
      for ANY partition of the event stream into batches — pinned by the
      batch-split equivalence pytest.

    Replays are idempotent (re-fencing the same epoch's events against
    the post-apply _seq leaves the target unchanged), so foreachBatch's
    at-least-once delivery is safe. Read the live view through
    :func:`read_cdc_target`; tombstone retention/compaction is the
    caller's policy (drop tombstones older than the feed's max lateness,
    the same horizon a watermark would bound).

    The stream must carry the full row image (base attributes) plus
    ``seq_col`` and ``op_col``; the target's business columns are the
    stream's minus the bookkeeping.

    Storage — two shapes, resolved from the target's stored layout:

    - ``partitions=None`` on a fresh target: plain parquet, stage-then-
      swap FULL rewrite per epoch (the original shape — per-epoch cost
      ∝ |target|, acceptable for small dimensions).
    - ``partitions=N``: the target lays out ``partitionBy(_pt)`` with
      ``_pt = pmod(md5_long(keys), N)`` and each epoch rewrites ONLY the
      partitions the delta touches — derived from the delta's keys alone,
      never by scanning the target. The fence read prunes to those
      partitions at file listing (PartitionFilters), the merged slice
      swaps in per directory, untouched partitions keep their file
      identity: per-epoch cost ∝ |delta| + |touched partitions|, the
      right asymptote for a 100 TB target (round-8 verdict's structural
      item). The layout persists in ``_target_meta.json`` (the index-
      metadata rule); later epochs/restarts resolve it from the store and
      RAISE on explicit contradictions. Crash mid-swap leaves a prefix of
      partitions swapped — each internally consistent, and the epoch's
      replay (checkpoint not yet committed) re-fences both generations to
      the same converged state.

    A transactional format (Delta/Iceberg MERGE INTO) replaces both
    dances at 100 TB; the partitioned shape is the plain-parquet
    equivalent of its partition-level commit.
    """
    from database_migration_spark.functions.io import keyed_epoch
    from database_migration_spark.operators.cdc import net_changes

    def apply(batch: DataFrame, epoch_id: int) -> None:
        if not batch.head(1):
            return
        net = net_changes(batch, keys, seq_col, op_col)
        base_cols = [c for c in batch.columns if c not in (seq_col, op_col)]
        rows = net.select(
            *base_cols,
            F.col(seq_col).cast("long").alias("_seq"),
            (F.col(op_col) == "D").alias("_deleted"),
        )
        keyed_epoch(
            batch.sparkSession, target_path,
            target_path + f".epoch{epoch_id}", keys, partitions, rows,
            lambda tgt, delta: _fence_merge(tgt, delta, keys),
        )

    return (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
        .start()
    )


def _fence_merge(tgt, rows: DataFrame, keys: list[str]) -> DataFrame:
    """The CDC fence + merge against a target (slice): events at or below
    the key's applied ``_seq`` are dropped (stale), survivors replace
    their key's row, unmentioned target rows pass through. A missing
    target (None) is the bootstrap: every row lands."""
    if tgt is None:
        return rows
    fence = tgt.select(*keys, F.col("_seq").alias("_applied_seq"))
    fresh = (
        rows.join(fence, keys, "left")
        .where(
            F.col("_applied_seq").isNull()
            | (F.col("_seq") > F.col("_applied_seq"))
        )
        .drop("_applied_seq")
    )
    return fresh.unionByName(
        tgt.select(*fresh.columns).join(fresh.select(*keys), keys, "left_anti")
    )


def compact_cdc_target(
    spark: SparkSession, target_path: str, min_live_seq: int
) -> dict:
    """Tombstone retention for a :func:`stream_cdc_apply` target: drop
    tombstones whose ``_seq`` is below ``min_live_seq`` — the caller's
    lateness horizon (any event older than this is promised never to
    arrive, the same contract a watermark makes). Live rows are never
    dropped at any seq: the fence they carry still guards against stale
    updates. Returns the before/after tombstone counts.

    On a key-hash-partitioned target (``partitions=`` at
    :func:`stream_cdc_apply`) the pass is partition-surgical: one
    column-pruned scan locates the partitions holding EXPIRED tombstones,
    only those rewrite + swap — untouched partitions keep their file
    identity. A plain target keeps the full stage-then-swap rewrite."""
    from database_migration_spark.functions.io import (
        PT_COL,
        publish_keyed,
        read_keyed,
    )

    # a partitioned store can legally be empty (every key deleted and
    # compacted away): read_keyed reports that as None, before and after
    meta = store_meta.read(target_path, "target") or {}
    t = read_keyed(spark, target_path, bool(meta))
    if t is None:
        return {"tombstones_before": 0, "tombstones_after": 0}
    expired = F.col("_deleted") & (F.col("_seq") < F.lit(int(min_live_seq)))
    before = t.where(F.col("_deleted")).count()
    kept, affected = t.where(~expired), None
    if meta:
        affected = sorted(
            r[0]
            for r in t.where(expired).select(PT_COL).distinct().collect()
        )
        if not affected:  # nothing expired: every tombstone stays
            return {"tombstones_before": before, "tombstones_after": before}
        kept = kept.where(F.col(PT_COL).isin(affected)).drop(PT_COL)
    publish_keyed(
        kept, target_path, target_path + ".compact-tmp",
        meta.get("keys"), meta.get("partitions"), affected,
        bootstrapping=False,
    )
    t = read_keyed(spark, target_path, bool(meta))
    after = 0 if t is None else t.where(F.col("_deleted")).count()
    return {"tombstones_before": before, "tombstones_after": after}


def _run_identity(checkpoint: str) -> str:
    """Stream/run identity for the z-order epoch fence: a random id
    persisted as a marker file INSIDE the checkpoint directory, so its
    lifetime IS the checkpoint's — a wiped or brand-new checkpoint
    (whose epoch ids restart at 0) gets a fresh id and can never match
    a stored ``(run_id, last_epoch)`` fence from an earlier stream
    (ADVICE r11: the bare-epoch fence silently skipped a fresh stream's
    epoch 0 against a layout whose last committed epoch was 0)."""
    import uuid

    rid = store_meta.read(checkpoint, "run_id")
    if rid is None:
        rid = uuid.uuid4().hex[:16]
        # the atomic commit: never a truncated identity
        store_meta.write(checkpoint, "run_id", rid)
    return rid


def stream_zorder_append(
    stream: DataFrame,
    layout_path: str,
    checkpoint: str,
    cols: "list[str] | None" = None,
    bits: "int | None" = None,
    n_files: int = 16,
):
    """Continuous ingestion into a z-ordered layout — the streaming form
    of ``layout.zorder_append``: the write-optimized feed lands already
    READ-optimized (every keyed column's footer span bounded per file),
    instead of the usual ingest-then-recluster two-step.

    The FIRST epoch bootstraps the layout (``zorder_write`` with
    ``cols``/``bits``/``n_files``); every later epoch clusters its batch
    on the STORED grid (``_layout_meta.json`` — contradictory explicit
    ``cols``/``bits`` RAISE, the index-meta rule). Time-ordered streams
    push values past the stored bounds; the quantizer clamp degrades
    pruning gracefully until a ``compact --zorder`` re-clusters — the
    append-lifecycle numbers in SCALE.md are exactly this shape.

    Delivery semantics: a RETRIED epoch (foreachBatch at-least-once) is
    fenced by the ``(run_id, last_epoch)`` pair recorded in the layout
    meta. The run identity lives in a marker file INSIDE the checkpoint
    directory (generated on first use, dies with the checkpoint), so a
    FRESH checkpoint — epoch ids restart at 0 — never collides with a
    stored ``last_epoch`` of 0 from an earlier stream: only the same
    checkpoint replaying the same epoch skips (the meta fence), and the
    fence + descriptor land in ONE atomic meta commit inside
    ``zorder_append``. An epoch interrupted mid-append cannot
    double-write either: appends follow the staged-rename protocol
    (stage sibling → pending file list in the meta → rename in → final
    commit), and a replay first deletes any pending-but-uncommitted
    files via ``clean_pending_append``. The remaining (documented)
    exposure of plain parquet vs a transactional format is
    read-isolation only — a concurrent reader can observe an epoch's
    files between the rename and the final meta commit; row accounting
    and replay are exact. No operator-internal persists (the
    foreachBatch leak rule) — each epoch's batch is consumed once by
    the clustered write plus one count for file sizing inside
    zorder_append."""
    def apply(batch: DataFrame, epoch_id: int) -> None:
        _zorder_epoch(
            batch, epoch_id, layout_path, checkpoint, cols, bits, n_files
        )

    return (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def _zorder_epoch(
    batch: DataFrame,
    epoch_id: int,
    layout_path: str,
    checkpoint: str,
    cols: "list[str] | None",
    bits: "int | None",
    n_files: int,
) -> None:
    """One epoch of ``stream_zorder_append`` — module-level so the
    fence/replay protocol is directly testable outside a live stream."""
    from database_migration_spark.operators.layout import (
        zorder_append,
        zorder_write,
    )

    if not batch.head(1):
        return
    run_id = _run_identity(checkpoint)
    fence = {"run_id": run_id, "last_epoch": int(epoch_id)}
    meta = store_meta.read(layout_path, "layout")
    if meta is None:
        if cols is None:
            raise ValueError(
                "stream_zorder_append bootstrap needs cols=[...] "
                "(no layout exists yet at the target)"
            )
        # bootstrap is idempotent by mode=overwrite; the fence rides
        # zorder_write's single atomic meta commit
        zorder_write(
            batch, layout_path, list(cols), n_files, bits=bits,
            extra_meta=fence,
        )
        return
    stored_run = meta.get("run_id")
    if int(meta.get("last_epoch", -1)) == int(epoch_id) and (
        stored_run == run_id
        # legacy layouts (pre-run-id metas) recorded only the epoch: a
        # matching epoch there IS the replay the old fence covered — a
        # fresh-checkpoint N=0 collision remains possible against a
        # legacy meta until the first new-code commit records run_id,
        # but treating it as new would re-apply the replayed epoch and
        # double-write (review finding: the upgrade must not reopen the
        # window the old fence closed)
        or stored_run is None
    ):
        return  # this checkpoint already committed this epoch
    zorder_append(
        batch, layout_path, cols=cols, bits=bits,
        # a replayed epoch must clean and reuse the SAME stage dir
        pending_id=f"{run_id}-{int(epoch_id)}",
        extra_meta=fence,
        meta=meta,
    )
