"""Structured Streaming tests: watermarked windowed agg + foreachBatch merge."""

import pytest
from pyspark.sql import functions as F

from database_migration_spark.functions import store_meta


@pytest.fixture()
def event_files(spark, tmp_path):
    """Two micro-batch parquet drops of event rows."""
    rows1 = [(1, "2024-01-01 00:01:00", 10, "click", 1.0)]
    rows2 = [
        (2, "2024-01-01 00:02:30", 10, "click", 2.0),
        (3, "2024-01-01 00:07:00", 11, "view", 3.0),
    ]
    src = tmp_path / "stream_src"
    src.mkdir()
    schema = "event_id LONG, ts STRING, user_id LONG, event_type STRING, value DOUBLE"
    for i, rows in enumerate([rows1, rows2]):
        (
            spark.createDataFrame(rows, schema)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(src / f"batch{i}"))
        )
    return src


def test_windowed_event_agg_stream(spark, event_files, tmp_path):
    from database_migration_spark.streaming.delta_stream import windowed_event_agg

    stream = (
        spark.readStream.schema(
            "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(event_files) + "/*")
    )
    agg = windowed_event_agg(stream, window="5 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_agg")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .start()
    )
    q.processAllAvailable()
    rows = {
        (str(r.window_start), r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM win_agg").collect()
    }
    q.stop()
    assert rows[("2024-01-01 00:00:00", "click")] == (2, 3.0)
    assert rows[("2024-01-01 00:05:00", "view")] == (1, 3.0)


def test_stream_merge_upsert(spark, tmp_path):
    from database_migration_spark.streaming.delta_stream import stream_merge_upsert

    src = tmp_path / "merge_src"
    src.mkdir()
    schema = "id LONG, v STRING"
    spark.createDataFrame([(1, "a"), (2, "b")], schema).coalesce(1).write.parquet(
        str(src / "b0")
    )
    spark.createDataFrame([(2, "B"), (3, "c")], schema).coalesce(1).write.parquet(
        str(src / "b1")
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    target = str(tmp_path / "merge_target")
    q = stream_merge_upsert(stream, target, ["id"], str(tmp_path / "ck2"))
    q.processAllAvailable()
    q.stop()
    out = {r.id: r.v for r in spark.read.parquet(target).collect()}
    # staged rows win on collision; both batches merged by PK
    assert out[1] == "a" and out[3] == "c"
    assert out[2] in ("b", "B")  # batch order is nondeterministic across files
    assert len(out) == 3


def test_watermark_drops_late_events(spark, tmp_path):
    """Append mode + watermark: a window emits once the watermark passes its
    end, and an event arriving BEHIND the watermark is dropped — the
    late-data semantics the reference's batch MERGE can't express."""
    from database_migration_spark.streaming.delta_stream import windowed_event_agg

    src = tmp_path / "late_src"
    src.mkdir()
    schema = "event_id LONG, ts STRING, user_id LONG, event_type STRING, value DOUBLE"
    batches = [
        # window [00:00, 00:05): two on-time clicks
        [(1, "2024-01-01 00:01:00", 10, "click", 1.0),
         (2, "2024-01-01 00:02:00", 10, "click", 2.0)],
        # advances the watermark to 00:30 - 10min = 00:20 > 00:05
        [(3, "2024-01-01 00:30:00", 11, "click", 4.0)],
        # watermark advancement propagates with one batch of lag — this
        # batch runs with wm=00:20 active and finalizes the first window
        [(4, "2024-01-01 00:40:00", 11, "click", 5.0)],
        # far behind the watermark -> dropped, not re-aggregated
        [(5, "2024-01-01 00:03:00", 12, "click", 100.0)],
    ]
    import os
    import time

    base = time.time() - 1000
    for i, rows in enumerate(batches):
        d = src / f"b{i}"
        (
            spark.createDataFrame(rows, schema)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(d))
        )
        # the file source processes oldest-mtime first; pin arrival order so
        # the watermark has advanced BEFORE the late batch arrives
        for root, _dirs, files in os.walk(d):
            for f in files:
                os.utime(os.path.join(root, f), (base + i * 60, base + i * 60))
    stream = (
        spark.readStream.schema(
            "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    agg = windowed_event_agg(stream, window="5 minutes", watermark="10 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("late_agg")
        .outputMode("append")  # only watermark-finalized windows emit
        .option("checkpointLocation", str(tmp_path / "ck_late"))
        .start()
    )
    q.processAllAvailable()
    emitted = [
        (str(r.window_start), r.n_events, r.sum_value)
        for r in spark.sql("SELECT * FROM late_agg").collect()
        if str(r.window_start) == "2024-01-01 00:00:00"
    ]
    q.stop()
    # the finalized first window contains ONLY the two on-time events, and
    # the late value=100 event neither re-opened it nor emitted a new row
    assert emitted == [("2024-01-01 00:00:00", 2, 3.0)]


def test_stream_dedup_exact_drops_cross_batch_duplicate(spark, tmp_path):
    from database_migration_spark.streaming.delta_stream import stream_dedup_exact

    src = tmp_path / "dedup_src"
    src.mkdir()
    schema = "doc_id LONG, ts STRING, text STRING"
    batches = [
        [(1, "2024-01-01 00:01:00", "Hello   World"), (2, "2024-01-01 00:01:30", "unique one")],
        # normalized duplicate of doc 1 (case/whitespace differ), plus a fresh doc
        [(3, "2024-01-01 00:02:00", "hello world"), (4, "2024-01-01 00:03:00", "another")],
    ]
    for i, rows in enumerate(batches):
        (
            spark.createDataFrame(rows, schema)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(src / f"batch{i}"))
        )
    stream = (
        spark.readStream.schema("doc_id LONG, ts TIMESTAMP, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    out = stream_dedup_exact(stream, text_col="text", ts_col="ts")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_dedup"))
        .start()
    )
    q.processAllAvailable()
    ids = sorted(r.doc_id for r in spark.sql("SELECT doc_id FROM dedup_out").collect())
    q.stop()
    assert ids == [1, 2, 4]  # doc 3 is the normalized dup of doc 1


def test_stream_ingest_vs_manifest_same_directory(spark, tmp_path):
    """Checkpoint path (Structured Streaming file source) vs manifest path
    (ManifestLoader) driving the SAME directory through an append + error +
    fix/re-upload sequence.

    Equivalence holds for append-only feeds: both paths ingest the identical
    file set exactly once across incremental batches. The error-retry step
    then asserts the documented DIVERGENCE: the manifest reloads a file whose
    mtime advances (waiting for update → done), while the checkpointed file
    source keys seen-files by path and never reprocesses a modified file —
    the precise reason ManifestLoader exists (manifest.py module docstring;
    reference s3_to_exasol.sql:238-244 FILE_LAST_MODIFIED re-import)."""
    import os
    import time as _t

    from database_migration_spark.streaming.manifest import (
        ST_DONE,
        ManifestLoader,
        stream_ingest,
    )

    src = tmp_path / "feed"
    src.mkdir()
    for i in range(3):
        (src / f"f{i}.csv").write_text(f"a,b\n{i},x{i}\n")

    # --- checkpoint path
    sdf = stream_ingest(
        spark, str(src), schema="a STRING, b STRING",
        file_format="csv", options={"header": "true"},
    )
    q = (
        sdf.selectExpr("a", "b", "_metadata.file_path AS fp")
        .writeStream.format("memory").queryName("ingest_eq")
        .option("checkpointLocation", str(tmp_path / "ck_eq"))
        .start()
    )
    q.processAllAvailable()

    # --- manifest path
    ld = ManifestLoader(
        spark, str(tmp_path / "m_eq.parquet"), file_format="csv",
        read_options={"header": "true"},
    )
    rep1 = ld.load(str(src))

    def stream_files():
        return sorted(
            os.path.basename(r.fp)
            for r in spark.sql("SELECT DISTINCT fp FROM ingest_eq").collect()
        )

    def manifest_done():
        return sorted(
            os.path.basename(r.file_name)
            for r in ld.read_manifest().where(f"status = '{ST_DONE}'").collect()
        )

    # batch 1: identical file sets, all done exactly once
    assert stream_files() == ["f0.csv", "f1.csv", "f2.csv"]
    assert manifest_done() == stream_files()
    assert sorted(os.path.basename(f) for f in rep1.loaded_files) == stream_files()

    # batch 2 (append-only): a new file arrives — both paths pick up ONLY it
    (src / "f3.csv").write_text("a,b\n3,x3\n")
    q.processAllAvailable()
    rep2 = ld.load(str(src))
    assert stream_files() == ["f0.csv", "f1.csv", "f2.csv", "f3.csv"]
    assert manifest_done() == stream_files()
    assert [os.path.basename(f) for f in rep2.loaded_files] == ["f3.csv"]
    # exactly-once on both sides: each file contributes exactly one row
    n = spark.sql("SELECT count(*) c FROM ingest_eq").collect()[0].c
    assert n == 4

    # batch 3 (re-upload): f1 modified with advanced mtime
    (src / "f1.csv").write_text("a,b\n1,CHANGED\n")
    os.utime(src / "f1.csv", (_t.time() + 60, _t.time() + 60))
    q.processAllAvailable()
    rep3 = ld.load(str(src))
    q.stop()
    # manifest path reloads it (the update-in-place semantics)…
    assert [os.path.basename(f) for f in rep3.loaded_files] == ["f1.csv"]
    assert manifest_done() == ["f0.csv", "f1.csv", "f2.csv", "f3.csv"]
    # …the checkpointed source does not (path already committed): row count
    # unchanged, CHANGED content never ingested
    n = spark.sql("SELECT count(*) c FROM ingest_eq").collect()[0].c
    assert n == 4
    assert spark.sql("SELECT count(*) c FROM ingest_eq WHERE b='CHANGED'").collect()[0].c == 0


def test_stream_incremental_dedup_matches_batch_decisions(spark, tmp_path):
    """Two micro-batches decided against a static fingerprint store must
    produce exactly the decisions the batch operator produces on the same
    docs — stream/batch equivalence for the incremental-dedup path."""
    from database_migration_spark.operators.dedup import (
        fingerprint_store,
        incremental_dedup,
    )
    from database_migration_spark.streaming.delta_stream import (
        stream_incremental_dedup,
    )

    store_docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "completely unrelated store content about database migration"),
        ],
        "doc_id LONG, text STRING",
    )
    store_fp = fingerprint_store(store_docs, k=5)

    src = tmp_path / "inc_src"
    src.mkdir()
    batches = [
        # exact re-upload of store doc 1 + a fresh doc
        [(10, "the quick brown fox jumps over the lazy dog again and again"),
         (11, "entirely fresh text that matches nothing in the store at all")],
        # near-dup of store doc 1
        [(12, "the quick brown fox jumps over the lazy cat again and again")],
    ]
    for i, rows in enumerate(batches):
        (
            spark.createDataFrame(rows, "doc_id LONG, text STRING")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(src / f"batch{i}"))
        )
    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    got: dict[int, tuple[str, int]] = {}

    def sink(decisions, epoch_id):
        for r in decisions.collect():
            got[r.id] = (r.status, r.match_id)

    q = stream_incremental_dedup(
        stream,
        store_fp,
        sink,
        k=5,
        bands=8,
        min_agree_permille=500,
        checkpoint=str(tmp_path / "ck_inc"),
    ).start()
    q.processAllAvailable()
    q.stop()

    all_docs = spark.createDataFrame(
        [r for b in batches for r in b], "doc_id LONG, text STRING"
    )
    want = {
        r.id: (r.status, r.match_id)
        for r in incremental_dedup(
            fingerprint_store(all_docs, k=5),
            store_fp,
            bands=8,
            min_agree_permille=500,
        ).collect()
    }
    assert got == want
    assert got[10] == ("exact_dup", 1)
    assert got[12] == ("near_dup", 1)
    assert got[11] == ("new", -1)


def test_stream_incremental_dedup_indexed_store(spark, tmp_path):
    """The indexed-store variant must reach the same decisions as the
    in-memory-store variant across micro-batches, and leak no cache
    entries per epoch."""
    from database_migration_spark.operators.dedup import (
        fingerprint_store,
        write_fingerprint_index,
    )
    from database_migration_spark.streaming.delta_stream import (
        stream_incremental_dedup,
    )

    store_docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "completely unrelated store content about database migration"),
        ],
        "doc_id LONG, text STRING",
    )
    idx = str(tmp_path / "fp_idx")
    write_fingerprint_index(fingerprint_store(store_docs, k=5), idx, bands=8,
                            buckets=16)
    spark.catalog.clearCache()

    src = tmp_path / "inc_src2"
    src.mkdir()
    batches = [
        [(10, "the quick brown fox jumps over the lazy dog again and again"),
         (11, "entirely fresh text that matches nothing in the store at all")],
        [(12, "the quick brown fox jumps over the lazy cat again and again")],
    ]
    for i, rows in enumerate(batches):
        (
            spark.createDataFrame(rows, "doc_id LONG, text STRING")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(src / f"batch{i}"))
        )
    stream = (
        spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    got: dict[int, tuple[str, int]] = {}

    def sink(decisions, epoch_id):
        for r in decisions.collect():
            got[r.id] = (r.status, r.match_id)

    # leak check is DELTA-based: earlier tests in the shared session may
    # hold localCheckpoint RDDs awaiting ContextCleaner GC; this test must
    # only assert that the STREAM added no cache entries of its own
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    before_ids = {k for k in jmap.keySet().toArray()}

    q = stream_incremental_dedup(
        stream,
        None,
        sink,
        k=5,
        bands=8,
        min_agree_permille=500,
        checkpoint=str(tmp_path / "ck_inc2"),
        store_index_path=idx,
        buckets=16,
    ).start()
    q.processAllAvailable()
    q.stop()

    assert got[10] == ("exact_dup", 1)
    assert got[12] == ("near_dup", 1)
    assert got[11] == ("new", -1)
    # the harness unpersists its one batch-side relation per epoch and the
    # indexed operator adds none of its own
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    leaked = {k for k in jmap.keySet().toArray()} - before_ids
    assert not leaked

    import pytest as _pytest

    with _pytest.raises(ValueError):
        stream_incremental_dedup(stream, None, sink)


def test_stream_interval_join_matches_batch(spark, tmp_path):
    """The watermarked stream-stream attribution join must produce exactly
    the pairs a batch interval join produces on the same data, across
    micro-batch boundaries."""
    from database_migration_spark.streaming.delta_stream import (
        stream_interval_join,
    )

    def rows(kind, specs):
        return spark.createDataFrame(
            [(u, f"2024-01-01 10:{m:02d}:00") for u, m in specs],
            f"user_id LONG, {kind} STRING",
        ).select("user_id", F.col(kind).cast("timestamp").alias(kind))

    # user 1: click 10:00 → purchase 10:20 (within 30m) and 10:45 (outside)
    # user 2: click 10:05 → purchase 10:30 (within); user 3: purchase only
    clicks = rows("click_ts", [(1, 0), (2, 5)])
    purchases = rows("purchase_ts", [(1, 20), (1, 45), (2, 30), (3, 10)])

    csrc, psrc = tmp_path / "clicks", tmp_path / "purch"
    # two files per side, split on OPPOSITE parities: each trigger pairs a
    # click file with the OTHER parity's purchase file, so every match
    # spans a micro-batch boundary and genuinely exercises join state
    for i in range(2):
        clicks.where(F.col("user_id") % 2 == i).write.parquet(
            str(csrc / f"b{i}")
        )
        purchases.where(F.col("user_id") % 2 == 1 - i).write.parquet(
            str(psrc / f"b{i}")
        )

    def stream(path, schema):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(path) + "/*")
        )

    joined = stream_interval_join(
        stream(csrc, "user_id LONG, click_ts TIMESTAMP"),
        stream(psrc, "user_id LONG, purchase_ts TIMESTAMP"),
        gap="30 minutes",
    ).select("user_id", "click_ts", "purchase_ts")

    q = (
        joined.writeStream.format("memory")
        .queryName("attrib")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r.user_id, str(r.click_ts), str(r.purchase_ts))
        for r in spark.sql("select * from attrib").collect()
    }

    batch = {
        (r.user_id, str(r.click_ts), str(r.purchase_ts))
        for r in clicks.join(
            purchases,
            (clicks.user_id == purchases.user_id)
            & (purchases.purchase_ts >= clicks.click_ts)
            & (
                purchases.purchase_ts
                <= clicks.click_ts + F.expr("INTERVAL 30 minutes")
            ),
        )
        .select(clicks.user_id, "click_ts", "purchase_ts")
        .collect()
    }
    assert got == batch
    assert len(got) == 2  # (1, 10:00→10:20) and (2, 10:05→10:30)


def test_stream_interval_join_left_outer_no_conversion_rows(spark, tmp_path):
    """left_outer attribution: a click with no purchase in its interval
    emits with NULL purchase_ts once the watermark passes the interval's
    close (driven here by a later flush batch — outer results are
    watermark-gated, the documented Structured Streaming semantics)."""
    from database_migration_spark.streaming.delta_stream import (
        stream_interval_join,
    )

    def df(kind, specs):
        return spark.createDataFrame(
            [(u, t) for u, t in specs], f"user_id LONG, {kind} STRING"
        ).select("user_id", F.col(kind).cast("timestamp").alias(kind))

    csrc, psrc = tmp_path / "c", tmp_path / "p"
    # batch 0: user 1 converts, user 2 does not
    df("click_ts", [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:00:00")]
       ).write.parquet(str(csrc / "b0"))
    df("purchase_ts", [(1, "2024-01-01 10:10:00")]).write.parquet(
        str(psrc / "b0"))
    # batch 1: far-future activity pushes both watermarks past 10:30+delay
    df("click_ts", [(9, "2024-01-01 13:00:00")]).write.parquet(str(csrc / "b1"))
    df("purchase_ts", [(9, "2024-01-01 13:01:00")]).write.parquet(
        str(psrc / "b1"))

    def stream(path, schema):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(path) + "/*")
        )

    joined = stream_interval_join(
        stream(csrc, "user_id LONG, click_ts TIMESTAMP"),
        stream(psrc, "user_id LONG, purchase_ts TIMESTAMP"),
        gap="30 minutes",
        watermark_delay="5 minutes",
        how="left_outer",
    ).select("user_id", "click_ts", "purchase_ts")

    q = (
        joined.writeStream.format("memory")
        .queryName("attrib_outer")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("select * from attrib_outer").collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, set()).add(
            str(r.purchase_ts) if r.purchase_ts else None
        )
    assert by_user[1] == {"2024-01-01 10:10:00"}
    # user 2's interval closed under the advanced watermark → outer row
    assert by_user[2] == {None}


def test_stream_interval_join_shared_columns_aliased(spark):
    """Inputs sharing a non-key column name must come out prefixed
    left_/right_ (never duplicated — a duplicate name makes every
    downstream select raise AMBIGUOUS_REFERENCE), and a name the prefix
    itself would collide with is refused up front."""
    from database_migration_spark.streaming.delta_stream import (
        stream_interval_join,
    )

    left = spark.createDataFrame(
        [(1, "2026-01-01 10:00:00", 5)],
        "user_id int, click_ts string, amount int",
    ).withColumn("click_ts", F.col("click_ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2026-01-01 10:30:00", 7)],
        "user_id int, purchase_ts string, amount int",
    ).withColumn("purchase_ts", F.col("purchase_ts").cast("timestamp"))
    j = stream_interval_join(left, right)
    assert j.columns == [
        "user_id", "click_ts", "left_amount", "purchase_ts", "right_amount"
    ]
    row = j.select("left_amount", "right_amount").collect()[0]
    assert (row.left_amount, row.right_amount) == (5, 7)

    clashing = left.withColumn("left_amount", F.lit(0))
    try:
        stream_interval_join(clashing, right)
        raise AssertionError("expected ValueError on prefixed-name collision")
    except ValueError as e:
        assert "left_amount" in str(e)


def test_stream_scd2_matches_batch_merges(spark, tmp_path):
    """Streaming type-2 SCD maintenance must equal the static two-step
    scd2_merge applied in batch order — bootstrap on epoch 0, then a
    history-preserving merge per micro-batch (epoch id = version ts)."""
    import os
    import time

    from database_migration_spark.operators.scd2 import (
        scd2_bootstrap,
        scd2_merge,
    )
    from database_migration_spark.streaming.delta_stream import stream_scd2

    schema = "id LONG, seg STRING"
    b0 = [(1, "A"), (2, "B"), (3, "C")]
    b1 = [(1, "A"), (2, "B2"), (4, "D")]  # 2 changes, 4 is new, 3 absent
    src = tmp_path / "scd2_src"
    src.mkdir()
    base = time.time() - 100
    for i, rows in enumerate([b0, b1]):
        d = src / f"b{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(d))
        # deterministic batch order: the file source picks older files first
        for root, _, files in os.walk(d):
            for f in files:
                os.utime(os.path.join(root, f), (base + i, base + i))
        os.utime(d, (base + i, base + i))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(src) + "/*")
    )
    dim_path = str(tmp_path / "scd2_dim")
    q = stream_scd2(stream, dim_path, ["id"], ["seg"],
                    str(tmp_path / "scd2_ck"))
    q.processAllAvailable()
    q.stop()

    got = {
        (r.id, r.seg, r.valid_from, r.valid_to, r.is_current)
        for r in spark.read.parquet(dim_path).collect()
    }
    dim = scd2_bootstrap(spark.createDataFrame(b0, schema), ["id"], ["seg"], 0)
    want_df = scd2_merge(dim, spark.createDataFrame(b1, schema),
                         ["id"], ["seg"], 1)
    want = {
        (r.id, r.seg, r.valid_from, r.valid_to, r.is_current)
        for r in want_df.collect()
    }
    assert got == want
    # the history-preserving shape, concretely: 2 carries both versions
    assert (2, "B", 0, 1, False) in got and (2, "B2", 1, None, True) in got
    assert (3, "C", 0, None, True) in got  # absent key stays open
    assert (4, "D", 1, None, True) in got


def test_stream_incremental_agg_matches_rebuild(spark, tmp_path):
    """Streaming summary maintenance must equal a from-scratch rebuild of
    the aggregate over everything the stream delivered — the
    merge(state, delta) == rebuild(all) invariant, across micro-batches
    and through the signed-retraction path (fully retracted groups
    vanish from the stored state)."""
    import os
    import time

    from database_migration_spark.operators import incremental_agg as IA
    from database_migration_spark.streaming.delta_stream import (
        stream_incremental_agg,
    )

    schema = "g STRING, v DOUBLE, sgn INT"
    b0 = [("a", 1.0, 1), ("a", 2.5, 1), ("b", 7.0, 1)]
    b1 = [("a", 9.0, 1), ("c", 0.5, 1), ("b", 7.0, -1)]  # b fully retracted
    src = tmp_path / "ia_src"
    src.mkdir()
    base = time.time() - 100
    for i, rows in enumerate([b0, b1]):
        d = src / f"b{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(d))
        for root, _, files in os.walk(d):
            for f in files:
                os.utime(os.path.join(root, f), (base + i, base + i))
        os.utime(d, (base + i, base + i))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(src) + "/*")
    )
    state_path = str(tmp_path / "ia_state")
    q = stream_incremental_agg(
        stream, state_path, ["g"], ["v"], str(tmp_path / "ia_ck"),
        signed=True, sign_col="sgn",
    )
    q.processAllAvailable()
    q.stop()

    state = spark.read.parquet(state_path)
    assert "_epoch" in state.columns  # replay watermark travels in the state
    got = {
        r["g"]: r.asDict()
        for r in state.where("n_rows != 0").drop("_epoch").collect()
    }
    want_df = IA.build_state(
        spark.createDataFrame(b0 + b1, schema), ["g"], ["v"],
        signed=True, sign_col="sgn",
    ).where(F.col("n_rows") != 0)
    want = {r["g"]: r.asDict() for r in want_df.collect()}
    assert got == want
    # the retraction shape, concretely: b is gone, a and c survive
    assert set(got) == {"a", "c"}
    assert got["a"]["n_rows"] == 3 and str(got["a"]["sum_v"]) == "12.500000"


def test_fold_incremental_agg_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: redelivering an epoch after a crash
    must NOT double-count. The epoch watermark travels inside the state
    parquet, so a replayed fold is skipped and the state is unchanged."""
    from database_migration_spark.streaming.delta_stream import (
        fold_incremental_agg,
    )

    def groups(path):
        return {
            r["g"]: r.asDict()
            for r in spark.read.parquet(path).where("n_rows != 0").collect()
        }

    state = str(tmp_path / "state")
    b0 = spark.createDataFrame([("a", 1.0), ("b", 2.0)], "g STRING, v DOUBLE")
    b1 = spark.createDataFrame([("a", 5.0)], "g STRING, v DOUBLE")

    assert fold_incremental_agg(b0, 0, state, ["g"], ["v"]) is True
    assert fold_incremental_agg(b1, 1, state, ["g"], ["v"]) is True
    snapshot = groups(state)

    # crash-redelivery of epoch 1: skipped, state byte-for-byte equal
    assert fold_incremental_agg(b1, 1, state, ["g"], ["v"]) is False
    assert groups(state) == snapshot
    # stale epoch 0 likewise
    assert fold_incremental_agg(b0, 0, state, ["g"], ["v"]) is False

    # the next real epoch still applies
    b2 = spark.createDataFrame([("c", 9.0)], "g STRING, v DOUBLE")
    assert fold_incremental_agg(b2, 2, state, ["g"], ["v"]) is True
    rows = {k: v["n_rows"] for k, v in groups(state).items()}
    assert rows == {"a": 2, "b": 1, "c": 1}

    # empty batch: no-op, returns False
    empty = spark.createDataFrame([], "g STRING, v DOUBLE")
    assert fold_incremental_agg(empty, 3, state, ["g"], ["v"]) is False


def test_fold_replay_guard_survives_total_retraction(spark, tmp_path):
    """The review finding this pins: a signed epoch that retracts EVERY
    group leaves a state with no data rows — the watermark marker row
    must still carry _epoch, so redelivering that epoch is skipped
    instead of minting phantom negative groups."""
    from database_migration_spark.streaming.delta_stream import (
        fold_incremental_agg,
    )

    state = str(tmp_path / "state")
    schema = "g STRING, v DOUBLE, sgn INT"
    b0 = spark.createDataFrame([("a", 1.0, 1)], schema)
    kill = spark.createDataFrame([("a", 1.0, -1)], schema)
    assert fold_incremental_agg(b0, 0, state, ["g"], ["v"],
                                signed=True, sign_col="sgn") is True
    assert fold_incremental_agg(kill, 1, state, ["g"], ["v"],
                                signed=True, sign_col="sgn") is True
    stored = spark.read.parquet(state)
    assert stored.where("n_rows != 0").count() == 0  # truly empty of groups
    # redelivery of the killing epoch: SKIPPED, no phantom n_rows=-1 group
    assert fold_incremental_agg(kill, 1, state, ["g"], ["v"],
                                signed=True, sign_col="sgn") is False
    assert spark.read.parquet(state).where("n_rows != 0").count() == 0
    # life goes on: the next epoch applies onto the empty-but-marked state
    b2 = spark.createDataFrame([("z", 2.0, 1)], schema)
    assert fold_incremental_agg(b2, 2, state, ["g"], ["v"],
                                signed=True, sign_col="sgn") is True
    assert {r["g"] for r in
            spark.read.parquet(state).where("n_rows != 0").collect()} == {"z"}


def test_scd2_merge_replay_is_idempotent(spark):
    """stream_scd2's per-epoch body is scd2_merge with the epoch id as the
    version ts; redelivering the SAME batch at the SAME ts must be a
    no-op (every row reads 'unchanged' against the already-merged
    dimension) — the property that makes the SCD2 stream safe under
    foreachBatch's at-least-once delivery without an epoch watermark."""
    from database_migration_spark.operators.scd2 import (
        scd2_bootstrap,
        scd2_merge,
    )

    schema = "id LONG, seg STRING"
    dim = scd2_bootstrap(
        spark.createDataFrame([(1, "A"), (2, "B")], schema), ["id"], ["seg"], 0
    )
    batch = spark.createDataFrame([(1, "A2"), (3, "C")], schema)
    once = scd2_merge(dim, batch, ["id"], ["seg"], 1, persist=False)
    twice = scd2_merge(once, batch, ["id"], ["seg"], 1, persist=False)
    key = lambda df: {
        (r.id, r.seg, r.valid_from, r.valid_to, r.is_current)
        for r in df.collect()
    }
    assert key(once) == key(twice)


def test_stream_drift_monitor_scores_each_batch(spark, tmp_path):
    """Streaming drift monitor: a clean micro-batch scores ~0 against the
    frozen reference; a shifted one scores high — per-column TV rows
    delivered to the sink with the epoch id."""
    from database_migration_spark.operators.drift import reference_histogram
    from database_migration_spark.streaming.delta_stream import (
        stream_drift_monitor,
    )

    ref_data = spark.createDataFrame(
        [(float(i % 50),) for i in range(500)], "v DOUBLE"
    )
    ref_path = str(tmp_path / "ref_hist")
    reference_histogram(ref_data, ["v"], n_bins=8).write.parquet(ref_path)

    import os
    import time

    src = tmp_path / "drift_src"
    src.mkdir()
    clean = [(float(i % 50),) for i in range(200)]
    shifted = [(float(i % 50) + 200,) for i in range(200)]
    base = time.time() - 100
    for i, rows in enumerate([clean, shifted]):
        d = src / f"b{i}"
        spark.createDataFrame(rows, "v DOUBLE").coalesce(1).write.parquet(str(d))
        for root, _, files in os.walk(d):
            for f in files:
                os.utime(os.path.join(root, f), (base + i, base + i))
        os.utime(d, (base + i, base + i))

    scores = []

    def sink(df, epoch_id):
        scores.append((epoch_id, {r["column_name"]: r["tv_ppm"]
                                  for r in df.collect()}))

    stream = (
        spark.readStream.schema("v DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(src) + "/*")
    )
    # n_bins resolves from the reference's stored geometry (round-7)
    q = stream_drift_monitor(stream, ref_path, ["v"], sink,
                             str(tmp_path / "drift_ck"))
    q.processAllAvailable()
    q.stop()

    assert len(scores) == 2
    by_score = sorted(s["v"] for _, s in scores)
    assert by_score[0] == 0          # the clean batch
    assert by_score[1] > 800_000     # the shifted batch


def test_stream_cdc_apply_converges_under_any_batch_split(spark, tmp_path):
    """Round-7 streaming CDC: the tombstone + seq-fence design must make
    the target converge to the same live view no matter how the event
    stream splits into micro-batches — including the late-update-after-
    delete resurrection case and a replayed (duplicate) event file."""
    from database_migration_spark.streaming.delta_stream import (
        read_cdc_target,
        stream_cdc_apply,
    )

    schema = "k LONG, v STRING, seq LONG, op STRING"
    events = [
        (1, "a", 10, "I"),
        (1, "a2", 30, "U"),
        (2, "b", 10, "I"),
        (2, "b", 20, "D"),     # deleted at seq 20...
        (2, "b-old", 15, "U"),  # ...late stale update must NOT resurrect
        (3, "c", 10, "I"),
    ]

    def run(splits, name):
        src = tmp_path / f"cdc_src_{name}"
        src.mkdir()
        for i, batch in enumerate(splits):
            spark.createDataFrame(batch, schema).coalesce(1).write.parquet(
                str(src / f"b{i}")
            )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
        )
        target = str(tmp_path / f"cdc_target_{name}")
        q = stream_cdc_apply(stream, target, ["k"],
                             str(tmp_path / f"cdc_ck_{name}"))
        q.processAllAvailable()
        q.stop()
        return {r.k: r.v for r in read_cdc_target(spark, target).collect()}

    # one batch, in-order batches, adversarial split (delete before the
    # stale update arrives), and a replayed duplicate file
    one = run([events], "one")
    ordered = run([events[:2], events[2:4], events[4:]], "ordered")
    adversarial = run(
        [[events[0], events[3]],          # I(1), D(2) first
         [events[2], events[4]],          # late I(2)@10 and U(2)@15 after the delete
         [events[1], events[5]]],
        "adversarial",
    )
    replayed = run([events, events[2:5]], "replayed")

    want = {1: "a2", 3: "c"}  # key 2 stays deleted
    assert one == want
    assert ordered == want
    assert adversarial == want
    assert replayed == want

    # the tombstone is still present in the raw target (retention is the
    # caller's policy), only the live view filters it
    raw = spark.read.parquet(str(tmp_path / "cdc_target_one"))
    tomb = [r for r in raw.collect() if r.k == 2]
    assert len(tomb) == 1 and tomb[0]._deleted and tomb[0]._seq == 20


def test_compact_cdc_target_drops_expired_tombstones(spark, tmp_path):
    from database_migration_spark.streaming.delta_stream import (
        compact_cdc_target,
        read_cdc_target,
        stream_cdc_apply,
    )

    schema = "k LONG, v STRING, seq LONG, op STRING"
    events = [(1, "a", 10, "I"), (2, "b", 10, "I"), (2, "b", 20, "D"),
              (3, "c", 5, "I"), (3, "c", 8, "D")]
    src = tmp_path / "cmp_src"
    src.mkdir()
    spark.createDataFrame(events, schema).coalesce(1).write.parquet(
        str(src / "b0")
    )
    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    target = str(tmp_path / "cmp_target")
    q = stream_cdc_apply(stream, target, ["k"], str(tmp_path / "cmp_ck"))
    q.processAllAvailable()
    q.stop()

    # horizon 15: the seq-8 tombstone (key 3) expires, the seq-20 one stays
    out = compact_cdc_target(spark, target, min_live_seq=15)
    assert out == {"tombstones_before": 2, "tombstones_after": 1}
    raw = {r.k: r for r in spark.read.parquet(target).collect()}
    assert 3 not in raw and raw[2]._deleted and not raw[1]._deleted
    # the live view is unchanged by compaction
    assert {r.k: r.v for r in read_cdc_target(spark, target).collect()} == {1: "a"}


# round 9: partition-surgical CDC/SCD2 target maintenance — per-epoch cost
# must track |delta| + |touched partitions|, never |target| (the round-8
# verdict's one wrong asymptote)


def _pt_of(spark, keys_vals, n):
    """The layout's partition for each key value (via the same pt_expr)."""
    from database_migration_spark.functions.io import pt_expr

    df = spark.createDataFrame([(k,) for k in keys_vals], "k LONG")
    return {
        r["k"]: r["p"]
        for r in df.select("k", pt_expr(["k"], n).alias("p")).collect()
    }


def _dir_snapshot(path):
    """(relpath, size, mtime_ns) of every data file under path."""
    import os

    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime_ns)
    return out


def test_stream_cdc_apply_partitioned_converges_and_is_surgical(
    spark, tmp_path
):
    """partitions=N: (a) the live view converges exactly like the plain
    layout under an adversarial batch split (fences + tombstones intact);
    (b) an epoch touching one key leaves every UNTOUCHED partition
    directory byte-identical (same files, sizes, mtimes) — the rewrite is
    partition-surgical, not a full-target rewrite; (c) the layout persists
    in _target_meta.json and the fence read partition-prunes."""
    import json
    import os

    from pyspark.sql import functions as F

    from database_migration_spark.functions.io import PT_COL
    from database_migration_spark.streaming.delta_stream import (
        read_cdc_target,
        stream_cdc_apply,
    )

    schema = "k LONG, v STRING, seq LONG, op STRING"
    n_pt = 8
    # epoch 0: bootstrap many keys; epoch 1: touch ONE key (update);
    # epoch 2: the adversarial late/stale mix on two keys
    boot = [(k, f"v{k}", 10, "I") for k in range(64)]
    upd = [(7, "v7b", 30, "U")]
    late = [(9, "gone", 40, "D"), (9, "stale", 35, "U"),
            (11, "v11b", 50, "U")]
    src = tmp_path / "pcdc_src"
    src.mkdir()
    target = str(tmp_path / "pcdc_target")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = stream_cdc_apply(stream, target, ["k"],
                         str(tmp_path / "pcdc_ck"), partitions=n_pt)
    try:
        spark.createDataFrame(boot, schema).coalesce(1).write.parquet(
            str(src / "b0"))
        q.processAllAvailable()
        snap0 = _dir_snapshot(target)
        meta = json.loads(open(os.path.join(target, "_target_meta.json")).read())
        assert meta["partitions"] == n_pt and meta["keys"] == ["k"]

        spark.createDataFrame(upd, schema).coalesce(1).write.parquet(
            str(src / "b1"))
        q.processAllAvailable()
        snap1 = _dir_snapshot(target)

        spark.createDataFrame(late, schema).coalesce(1).write.parquet(
            str(src / "b2"))
        q.processAllAvailable()
    finally:
        q.stop()

    # (a) convergence: fences + tombstones behave exactly like the plain
    # layout — key 9 deleted (stale seq-35 update arrived in the same net
    # reduction), key 7 and 11 updated, everything else intact
    live = {r.k: r.v for r in read_cdc_target(spark, target).collect()}
    want = {k: f"v{k}" for k in range(64) if k != 9}
    want[7] = "v7b"
    want[11] = "v11b"
    assert live == want

    # (b) surgical: epoch 1 touched only key 7's partition — every other
    # partition directory is byte-identical between the snapshots
    pt7 = _pt_of(spark, [7], n_pt)[7]
    untouched_before = {
        p: v for p, v in snap0.items()
        if not p.startswith(f"{PT_COL}={pt7}{os.sep}")
    }
    untouched_after = {
        p: v for p, v in snap1.items()
        if not p.startswith(f"{PT_COL}={pt7}{os.sep}")
    }
    assert untouched_before == untouched_after
    # and the touched partition DID rewrite
    assert {p: v for p, v in snap0.items()
            if p.startswith(f"{PT_COL}={pt7}{os.sep}")} != \
           {p: v for p, v in snap1.items()
            if p.startswith(f"{PT_COL}={pt7}{os.sep}")}

    # (c) the fence read's plan prunes at file listing: the same pruned
    # read the epoch issues carries the partitions in PartitionFilters
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        spark.read.parquet(target).where(
            F.col(PT_COL).isin([int(pt7)])
        ).explain(True)
    segs = buf.getvalue().split("PartitionFilters")[1:]
    assert segs and any(PT_COL in s.split("]")[0] for s in segs)


def test_stream_cdc_apply_partitioned_matches_plain_layout(spark, tmp_path):
    """The partitioned and plain layouts are the SAME operator: identical
    live views over the round-7 adversarial event set."""
    from database_migration_spark.streaming.delta_stream import (
        read_cdc_target,
        stream_cdc_apply,
    )

    schema = "k LONG, v STRING, seq LONG, op STRING"
    events = [
        (1, "a", 10, "I"), (1, "a2", 30, "U"),
        (2, "b", 10, "I"), (2, "b", 20, "D"), (2, "b-old", 15, "U"),
        (3, "c", 10, "I"),
    ]
    splits = [[events[0], events[3]], [events[2], events[4]],
              [events[1], events[5]]]

    def run(name, partitions):
        src = tmp_path / f"m_{name}"
        src.mkdir()
        for i, b in enumerate(splits):
            spark.createDataFrame(b, schema).coalesce(1).write.parquet(
                str(src / f"b{i}"))
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
        )
        target = str(tmp_path / f"mt_{name}")
        q = stream_cdc_apply(stream, target, ["k"],
                             str(tmp_path / f"mc_{name}"),
                             partitions=partitions)
        q.processAllAvailable()
        q.stop()
        return {r.k: r.v for r in read_cdc_target(spark, target).collect()}

    assert run("plain", None) == run("part", 4) == {1: "a2", 3: "c"}


def test_compact_cdc_target_partitioned_is_surgical(spark, tmp_path):
    """Surgical compaction: only partitions holding EXPIRED tombstones
    rewrite; the rest keep their file identity; counts and the live view
    match the plain semantics."""
    import os

    from database_migration_spark.functions.io import PT_COL
    from database_migration_spark.streaming.delta_stream import (
        compact_cdc_target,
        read_cdc_target,
        stream_cdc_apply,
    )

    schema = "k LONG, v STRING, seq LONG, op STRING"
    n_pt = 8
    events = [(k, f"v{k}", 10, "I") for k in range(32)]
    # two deletes: key 5 expires at horizon 25 (seq 20), key 6 stays
    # fenced (seq 30)
    events += [(5, "x", 20, "D"), (6, "x", 30, "D")]
    src = tmp_path / "sc_src"
    src.mkdir()
    spark.createDataFrame(events, schema).coalesce(1).write.parquet(
        str(src / "b0"))
    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    target = str(tmp_path / "sc_target")
    q = stream_cdc_apply(stream, target, ["k"], str(tmp_path / "sc_ck"),
                         partitions=n_pt)
    q.processAllAvailable()
    q.stop()

    snap = _dir_snapshot(target)
    out = compact_cdc_target(spark, target, min_live_seq=25)
    assert out == {"tombstones_before": 2, "tombstones_after": 1}
    after = _dir_snapshot(target)
    pts = _pt_of(spark, [5, 6], n_pt)
    prefix = f"{PT_COL}={pts[5]}{os.sep}"
    untouched = lambda s: {p: v for p, v in s.items()  # noqa: E731
                           if not p.startswith(prefix)
                           and not p.endswith("_target_meta.json")}
    assert untouched(snap) == untouched(after)
    live = {r.k for r in read_cdc_target(spark, target).collect()}
    assert live == set(range(32)) - {5, 6}
    # the UNEXPIRED tombstone still fences (key 6 partition untouched
    # unless it shares key 5's partition)
    raw = {r.k: r for r in spark.read.parquet(target).collect()}
    assert raw[6]._deleted and 5 not in raw


def test_cdc_partition_layout_contradictions_raise(spark, tmp_path):
    """The stored layout is the source of truth: explicit contradictions
    (different partition count, different keys, partitioning an existing
    unpartitioned store) raise instead of silently mis-pruning."""
    import pytest

    from database_migration_spark.functions.io import write_target_meta

    def resolve_partitions(path, keys, partitions):
        return store_meta.resolve(
            path, "target", {"partitions": partitions, "keys": keys}, {}
        )["partitions"]

    p = str(tmp_path / "store")
    spark.createDataFrame([(1,)], "k LONG").write.parquet(p)
    # unpartitioned store + a caller asking for a layout -> refuse
    with pytest.raises(ValueError, match="unpartitioned"):
        resolve_partitions(p, ["k"], 8)
    # stored layout resolves when the caller passes None
    write_target_meta(p, ["k"], 8)
    assert resolve_partitions(p, ["k"], None) == 8
    assert resolve_partitions(p, ["k"], 8) == 8
    with pytest.raises(ValueError, match="partitions=16"):
        resolve_partitions(p, ["k"], 16)
    with pytest.raises(ValueError, match="keys"):
        resolve_partitions(p, ["other"], None)


def test_stream_scd2_partitioned_matches_plain_and_is_surgical(
    spark, tmp_path
):
    """SCD2 in the key-hash layout: identical dimension content to the
    plain layout (sound because scd2_merge passes non-batch keys through),
    untouched partitions keep file identity across an epoch, and
    close_missing + partitions raises at construction."""
    import os

    import pytest

    from database_migration_spark.functions.io import PT_COL
    from database_migration_spark.streaming.delta_stream import stream_scd2

    schema = "k LONG, attr STRING"
    n_pt = 4
    boot = [(k, f"a{k}") for k in range(16)]
    upd = [(3, "a3-new")]

    def run(name, partitions):
        src = tmp_path / f"s_{name}"
        src.mkdir()
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*")
        )
        dim = str(tmp_path / f"sd_{name}")
        q = stream_scd2(stream, dim, ["k"], ["attr"],
                        str(tmp_path / f"sk_{name}"),
                        partitions=partitions)
        snaps = []
        try:
            for i, batch in enumerate([boot, upd]):
                spark.createDataFrame(batch, schema).coalesce(1) \
                    .write.parquet(str(src / f"b{i}"))
                q.processAllAvailable()
                snaps.append(_dir_snapshot(dim))
        finally:
            q.stop()
        df = spark.read.parquet(dim)
        if PT_COL in df.columns:
            df = df.drop(PT_COL)
        rows = frozenset(map(tuple, df.collect()))
        return rows, snaps

    plain_rows, _ = run("plain", None)
    part_rows, (snap0, snap1) = run("part", n_pt)
    assert plain_rows == part_rows
    # key 3 has history (closed + open version); key 5 untouched
    assert sum(1 for r in part_rows if r[0] == 3) == 2

    pt3 = _pt_of(spark, [3], n_pt)[3]
    prefix = f"{PT_COL}={pt3}{os.sep}"
    untouched = lambda s: {p: v for p, v in s.items()  # noqa: E731
                           if not p.startswith(prefix)
                           and not p.endswith("_target_meta.json")}
    assert untouched(snap0) == untouched(snap1)

    with pytest.raises(ValueError, match="close_missing"):
        stream_scd2(
            spark.readStream.schema(schema).parquet(
                str(tmp_path / "s_plain") + "/*"
            ),
            "unused", ["k"], ["attr"], "unused_ck",
            close_missing=True, partitions=4,
        )


def test_stream_cdc_apply_partitioned_composite_keys(spark, tmp_path):
    """Multi-column keys through the key-hash layout: pt_expr concatenates
    the key columns (order-sensitive, NULL parts hash as empty) — the
    live view must match the plain layout exactly, including a NULL key
    part."""
    from database_migration_spark.streaming.delta_stream import (
        read_cdc_target,
        stream_cdc_apply,
    )

    schema = "k1 LONG, k2 STRING, v STRING, seq LONG, op STRING"
    events = [
        (1, "a", "x", 10, "I"), (1, "b", "y", 10, "I"),
        (2, "a", "z", 10, "I"), (1, "a", "x2", 20, "U"),
        (1, "b", "y", 20, "D"), (3, None, "n", 10, "I"),
        (3, None, "n2", 20, "U"),
    ]

    def run(name, partitions):
        src = tmp_path / f"ck_{name}"
        src.mkdir()
        spark.createDataFrame(events, schema).coalesce(1).write.parquet(
            str(src / "b0"))
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
        target = str(tmp_path / f"ckt_{name}")
        q = stream_cdc_apply(stream, target, ["k1", "k2"],
                             str(tmp_path / f"ckc_{name}"),
                             partitions=partitions)
        q.processAllAvailable()
        q.stop()
        return {
            (r.k1, r.k2): r.v
            for r in read_cdc_target(spark, target).collect()
        }

    want = {(1, "a"): "x2", (2, "a"): "z", (3, None): "n2"}
    assert run("plain", None) == want
    assert run("part", 4) == want


def test_cdc_partitioned_bootstrap_crash_window_replays(spark, tmp_path):
    """Meta-first bootstrap protocol: a crash AFTER _target_meta.json but
    BEFORE any partition landed leaves a meta-only directory — the replay
    must treat it as an EMPTY store and bootstrap cleanly (pre-fix it was
    mis-diagnosed as 'written unpartitioned' and the stream could never
    progress)."""
    from database_migration_spark.functions.io import write_target_meta
    from database_migration_spark.streaming.delta_stream import (
        read_cdc_target,
        stream_cdc_apply,
    )

    target = str(tmp_path / "cw_target")
    write_target_meta(target, ["k"], 8)  # the crash left only this

    schema = "k LONG, v STRING, seq LONG, op STRING"
    src = tmp_path / "cw_src"
    src.mkdir()
    spark.createDataFrame([(1, "a", 10, "I"), (2, "b", 10, "I")],
                          schema).coalesce(1).write.parquet(str(src / "b0"))
    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    # partitions resolves from the stored meta (None passed)
    q = stream_cdc_apply(stream, target, ["k"], str(tmp_path / "cw_ck"))
    q.processAllAvailable()
    q.stop()
    assert {r.k: r.v for r in read_cdc_target(spark, target).collect()} == {
        1: "a", 2: "b"
    }


def test_stream_scd2_close_missing_rejected_for_stored_partitioned_layout(
    spark, tmp_path
):
    # the layout can come from the STORE's meta, not just the argument —
    # close_missing must raise there too instead of silently running the
    # surgical branch with close_missing=False (round-9 review)
    from database_migration_spark.functions.io import write_target_meta
    from database_migration_spark.streaming.delta_stream import stream_scd2

    dim = str(tmp_path / "dim")
    write_target_meta(dim, ["k"], 4)
    schema = "k LONG, attr STRING"
    feed = str(tmp_path / "feed")
    spark.createDataFrame([(1, "a")], schema).write.parquet(feed + "/b0")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="close_missing"):
        stream_scd2(
            spark.readStream.schema(schema).parquet(feed + "/*"),
            dim, ["k"], ["attr"], str(tmp_path / "ck"),
            close_missing=True,
        )


def test_compact_cdc_target_emptied_store_reports_instead_of_crashing(
    spark, tmp_path
):
    # compaction that expires EVERY row (all keys deleted, horizon past)
    # legally empties a partitioned store — it must report counts, not
    # crash reading the meta-only directory after the commit
    from database_migration_spark.functions.io import (
        store_has_partitions,
    )
    from database_migration_spark.streaming.delta_stream import (
        compact_cdc_target,
        stream_cdc_apply,
    )

    feed = str(tmp_path / "feed")
    target = str(tmp_path / "tgt")
    schema = "k LONG, v STRING, seq LONG, op STRING"
    spark.createDataFrame(
        [(1, "a", 1, "I"), (2, "b", 1, "I"), (1, None, 2, "D"),
         (2, None, 2, "D")],
        schema,
    ).write.parquet(feed + "/b0")
    q = stream_cdc_apply(
        spark.readStream.schema(schema).parquet(feed + "/*"),
        target, ["k"], str(tmp_path / "ck"), partitions=4,
    )
    q.processAllAvailable(); q.stop()
    res = compact_cdc_target(spark, target, min_live_seq=10)
    assert res == {"tombstones_before": 2, "tombstones_after": 0}
    assert not store_has_partitions(target)
    # idempotent on the now-empty store
    res2 = compact_cdc_target(spark, target, min_live_seq=10)
    assert res2 == {"tombstones_before": 0, "tombstones_after": 0}


def test_stream_zorder_append_builds_clustered_layout(spark, tmp_path):
    """Streaming ingestion into a z-ordered layout: epoch 1 bootstraps
    the grid, later epochs append ON that grid — all rows land, spans
    stay bounded on BOTH keyed columns across old+new files, the stored
    meta carries the epoch fence, and a contradictory grid raises."""
    from database_migration_spark.operators.layout import zorder_span_report
    from database_migration_spark.streaming.delta_stream import (
        stream_zorder_append,
    )

    src = tmp_path / "zsrc"
    src.mkdir()
    # three time-ordered epochs; the later ones exceed epoch 1's bounds
    # (the clamp path a real time-ordered feed exercises)
    for i in range(3):
        rows = [
            (i * 100_000 + j, (j * 7919) % 5_000, i * 5_000 + (j % 5_000))
            for j in range(20_000)
        ]
        spark.createDataFrame(rows, "id LONG, u LONG, e LONG").coalesce(
            1
        ).write.parquet(str(src / f"b{i}"))
    stream = (
        spark.readStream.schema("id LONG, u LONG, e LONG")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    layout = str(tmp_path / "zlayout")
    q = stream_zorder_append(
        stream, layout, str(tmp_path / "ckpt"), cols=["u", "e"],
        n_files=8,
    )
    q.processAllAvailable()
    q.stop()

    out = spark.read.parquet(layout)
    assert out.count() == 60_000
    meta = store_meta.read(layout, "layout")
    assert meta["cols"] == ["u", "e"] and meta["rows"] == 60_000
    assert meta["last_epoch"] >= 2  # the fence rode the meta
    rep = zorder_span_report(layout, ["u", "e"])
    assert rep["files"] == meta["n_files"]
    # u never outgrew the bootstrap bounds: bounded spans on every file
    assert rep["u"] < 0.6

    # a contradictory grid on a later run raises through the harness
    import pytest as _pt

    bad = (
        spark.readStream.schema("id LONG, u LONG, e LONG")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q2 = stream_zorder_append(
        bad, layout, str(tmp_path / "ckpt2"), cols=["u"],
    )
    with _pt.raises(Exception, match="cols="):
        q2.processAllAvailable()
    q2.stop()


def test_zorder_epoch_fence_run_identity(spark, tmp_path):
    """The (run_id, epoch) fence: a replayed epoch from the SAME
    checkpoint skips idempotently, but a FRESH checkpoint whose epoch
    ids restart at 0 appends against a layout whose stored last_epoch
    is 0 (ADVICE r11: the bare-epoch fence silently skipped that
    batch)."""
    from database_migration_spark.streaming.delta_stream import (
        _run_identity,
        _zorder_epoch,
    )

    layout = str(tmp_path / "zl")
    ckpt_a = str(tmp_path / "ckpt_a")
    batch = spark.createDataFrame(
        [(i, (i * 7) % 100, (i * 13) % 100) for i in range(2_000)],
        "id LONG, u LONG, e LONG",
    )
    # stream A commits ONLY its bootstrap epoch 0 (the collision setup)
    _zorder_epoch(batch, 0, layout, ckpt_a, ["u", "e"], None, 4)
    assert spark.read.parquet(layout).count() == 2_000
    meta = store_meta.read(layout, "layout")
    assert meta["last_epoch"] == 0 and meta["run_id"]

    # replay of the SAME epoch from the SAME checkpoint: skipped
    _zorder_epoch(batch, 0, layout, ckpt_a, ["u", "e"], None, 4)
    assert spark.read.parquet(layout).count() == 2_000

    # a FRESH checkpoint's epoch 0 must APPEND, never skip
    ckpt_b = str(tmp_path / "ckpt_b")
    _zorder_epoch(batch, 0, layout, ckpt_b, None, None, 4)
    assert spark.read.parquet(layout).count() == 4_000
    meta2 = store_meta.read(layout, "layout")
    assert meta2["run_id"] != meta["run_id"]

    # run identity is stable across calls for one checkpoint
    assert _run_identity(ckpt_a) == _run_identity(ckpt_a)
    assert _run_identity(ckpt_a) != _run_identity(ckpt_b)


def test_zorder_epoch_replay_after_crash_no_double_write(
    spark, tmp_path, monkeypatch
):
    """End-to-end epoch replay over the staged protocol: a crash after
    the rename-in but before the final meta commit leaves orphan files;
    the foreachBatch replay of that epoch cleans them and lands the
    rows exactly once."""
    from database_migration_spark.operators import layout as L
    from database_migration_spark.streaming.delta_stream import (
        _zorder_epoch,
    )

    layout = str(tmp_path / "zl2")
    ckpt = str(tmp_path / "ckpt")
    mk = lambda base: spark.createDataFrame(
        [(base + i, (i * 7) % 100, (i * 13) % 100) for i in range(1_000)],
        "id LONG, u LONG, e LONG",
    )
    _zorder_epoch(mk(0), 0, layout, ckpt, ["u", "e"], None, 4)

    real = L._write_layout_meta
    def boom(p, desc):
        if "pending" not in desc:
            raise OSError("simulated crash before final commit")
        return real(p, desc)

    monkeypatch.setattr(L, "_write_layout_meta", boom)
    import pytest as _pt
    with _pt.raises(OSError, match="final commit"):
        _zorder_epoch(mk(10_000), 1, layout, ckpt, None, None, 4)
    monkeypatch.undo()

    # at-least-once delivery replays epoch 1: exactly-once on disk
    _zorder_epoch(mk(10_000), 1, layout, ckpt, None, None, 4)
    got = spark.read.parquet(layout)
    assert got.count() == 2_000
    assert got.select("id").distinct().count() == 2_000
    meta = store_meta.read(layout, "layout")
    assert meta["last_epoch"] == 1 and "pending" not in meta


def test_stream_image_dedup_crawl_loop(spark, tmp_path):
    """Streaming image crawl dedup end to end: epoch batches dHash
    map-side and probe the hamming index; the sink appends 'new'
    signatures back, so a later epoch's re-encode of an earlier
    epoch's image is flagged near_dup; undecodable payloads surface as
    decode_error rows."""
    import numpy as np

    from database_migration_spark.operators.dedup import (
        append_hamming_index,
        write_hamming_index,
    )
    from database_migration_spark.operators.multimodal import (
        encode_bmp,
        perceptual_dhash,
    )
    from database_migration_spark.streaming.delta_stream import (
        stream_image_dedup,
    )

    def bmp(seed, shift=0):
        vals = ((np.arange(16 * 16 * 3) * (seed * 2 + 7)) % 250).astype(
            np.int64
        )
        px = (vals + shift).reshape(16, 16, 3).astype(np.uint8)
        return bytearray(encode_bmp(16, 16, px))

    # store: images 1..10, indexed
    store = spark.createDataFrame(
        [(i, bmp(i)) for i in range(1, 11)],
        "media_id LONG, payload BINARY",
    )
    idx = str(tmp_path / "img_idx")
    sigs = perceptual_dhash(store).where("error IS NULL").select(
        "id", "sig_lo", "sig_hi"
    )
    write_hamming_index(sigs, idx, buckets=8)

    # epoch 0: re-encode of image 3 + new image 55 + a broken payload
    # epoch 1: re-crawl of 55 (must hit the signature epoch 0 appended)
    src = tmp_path / "feed"
    src.mkdir()
    spark.createDataFrame(
        [(101, bmp(3, shift=2)), (102, bmp(55)),
         (103, bytearray(b"broken"))],
        "media_id LONG, payload BINARY",
    ).coalesce(1).write.parquet(str(src / "b0"))
    spark.createDataFrame(
        [(201, bmp(55))], "media_id LONG, payload BINARY",
    ).coalesce(1).write.parquet(str(src / "b1"))

    got = {}

    def sink(decisions, epoch_id):
        rows = decisions.collect()  # materialize before unpersist
        got[epoch_id] = {r.id: r for r in rows}
        new_rows = [r for r in rows if r.status == "new"]
        if new_rows:
            append_hamming_index(
                spark.createDataFrame(
                    [(r.id, r.sig_lo, r.sig_hi) for r in new_rows],
                    "id LONG, sig_lo LONG, sig_hi LONG",
                ),
                idx,
            )

    stream = (
        spark.readStream.schema("media_id LONG, payload BINARY")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = stream_image_dedup(
        stream, idx, sink, checkpoint=str(tmp_path / "ckpt")
    ).start()
    q.processAllAvailable()
    q.stop()

    e0 = got[0]
    assert e0[101].status == "near_dup" and e0[101].match_id == 3
    assert e0[101].min_hamming == 0  # uniform-shift re-encode
    assert e0[102].status == "new"
    assert e0[103].status == "decode_error" and e0[103].sig_lo is None
    e1 = got[1]
    assert e1[201].status == "near_dup" and e1[201].match_id == 102


def test_zorder_epoch_legacy_meta_replay_skips(spark, tmp_path):
    """Upgrade path: a layout whose meta predates the run-id fence
    (last_epoch only) and whose last committed epoch is replayed must
    SKIP — re-applying it would double-write (the window the old bare
    fence closed must not reopen on upgrade)."""
    import json
    import os

    from database_migration_spark.streaming.delta_stream import (
        _zorder_epoch,
    )

    layout = str(tmp_path / "legacy")
    ckpt = str(tmp_path / "ckpt")
    batch = spark.createDataFrame(
        [(i, i % 50, i % 70) for i in range(1_000)],
        "id LONG, u LONG, e LONG",
    )
    _zorder_epoch(batch, 3, layout, ckpt, ["u", "e"], None, 4)
    # strip the run identity: the pre-round-12 meta shape
    meta = store_meta.read(layout, "layout")
    del meta["run_id"]
    with open(os.path.join(layout, "_layout_meta.json"), "w") as fh:
        json.dump(meta, fh)

    # replay of the stored epoch: must skip even without a run id
    _zorder_epoch(batch, 3, layout, ckpt, None, None, 4)
    assert spark.read.parquet(layout).count() == 1_000
    # a different epoch still appends (and records the new run id)
    _zorder_epoch(batch, 4, layout, ckpt, None, None, 4)
    assert spark.read.parquet(layout).count() == 2_000
    assert store_meta.read(layout, "layout")["run_id"]
