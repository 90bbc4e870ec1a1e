

def test_connected_components_chain_and_singleton(spark):
    from database_migration_spark.operators.dedup import connected_components

    # chain 1-2-3-4 (diameter 3, needs >1 round), pair {10,11}, singleton 20
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a LONG, id_b LONG"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 10, 11, 20]], "doc_id LONG"
    )
    out = {
        r.id: r.cluster_id
        for r in connected_components(pairs, nodes, id_col="doc_id").collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def test_benchmark_contamination_planted(spark):
    from database_migration_spark.operators.dedup import benchmark_contamination

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id LONG, text STRING",
    )
    corpus = spark.createDataFrame(
        [
            # embeds the benchmark text wholesale -> near-total overlap
            (1, "intro text then the quick brown fox jumps over the lazy dog end"),
            # nothing in common (different alphabet entirely)
            (2, "zzz yyy xxx www vvv uuu qqq ppp"),
        ],
        "doc_id LONG, text STRING",
    )
    out = {r.doc_id: r for r in benchmark_contamination(corpus, bench, k=8).collect()}
    assert out[1].contamination_ppm > 500_000
    assert out[2].n_overlap == 0 and out[2].contamination_ppm == 0
    assert out[1].n_shingles > 0


def test_dup_span_coverage(spark):
    from database_migration_spark.operators.dedup import dup_span_coverage

    shared = "alpha beta gamma delta epsilon"  # one shared 5-gram
    rows = [
        # docs 1 and 2 share the 5-gram; doc 3 is unique; doc 4 too short
        (1, shared + " zeta eta"),
        (2, "one two " + shared),
        (3, "u1 u2 u3 u4 u5 u6 u7"),
        (4, "tiny doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {r["doc_id"]: r for r in dup_span_coverage(df, k=5).collect()}
    assert len(out) == 4
    # doc 1: 7 tokens, positions 1-5 covered -> 5/7
    assert out[1]["n_tokens"] == 7 and out[1]["covered_tokens"] == 5
    assert out[1]["dup_coverage_ppm"] == 5 * 1_000_000 // 7
    # doc 2: 7 tokens, positions 3-7 covered
    assert out[2]["covered_tokens"] == 5
    # doc 3: nothing shared
    assert out[3]["covered_tokens"] == 0 and out[3]["dup_coverage_ppm"] == 0
    # doc 4: shorter than k -> no grams, still reported with 0 coverage
    assert out[4]["n_tokens"] == 2 and out[4]["covered_tokens"] == 0


def test_dup_span_coverage_overlapping_spans(spark):
    from database_migration_spark.operators.dedup import dup_span_coverage

    # two docs identical over 6 tokens -> two overlapping shared 5-grams;
    # covered positions must dedup (6, not 10)
    rows = [
        (1, "a b c d e f x"),
        (2, "a b c d e f y"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {r["doc_id"]: r for r in dup_span_coverage(df, k=5).collect()}
    assert out[1]["covered_tokens"] == 6
    assert out[2]["covered_tokens"] == 6


def test_remove_duplicated_spans(spark):
    from database_migration_spark.operators.dedup import remove_duplicated_spans

    shared = "alpha beta gamma delta epsilon"
    rows = [
        (1, shared + " zeta eta"),
        (2, "one two " + shared),
        (3, "u1 u2 u3 u4 u5 u6 u7"),
        (4, "tiny doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {r["doc_id"]: r for r in remove_duplicated_spans(df, k=5).collect()}
    assert out[1]["clean_text"] == "zeta eta"
    assert out[1]["kept_tokens"] == 2 and out[1]["n_tokens"] == 7
    assert out[2]["clean_text"] == "one two"
    assert out[3]["clean_text"] == rows[2][1]  # untouched
    assert out[4]["clean_text"] == "tiny doc"  # shorter than k: untouched


def test_remove_duplicated_spans_whole_doc(spark):
    from database_migration_spark.operators.dedup import remove_duplicated_spans

    rows = [(1, "a b c d e"), (2, "a b c d e")]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {r["doc_id"]: r for r in remove_duplicated_spans(df, k=5).collect()}
    for i in (1, 2):
        assert out[i]["clean_text"] == "" and out[i]["kept_tokens"] == 0


def test_incremental_dedup_decisions(spark):
    from database_migration_spark.operators.dedup import (
        fingerprint_store,
        incremental_dedup,
    )

    store_docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "completely unrelated store content about database migration"),
        ],
        "doc_id LONG, text STRING",
    )
    batch_docs = spark.createDataFrame(
        [
            # exact re-upload of store doc 1
            (10, "the quick brown fox jumps over the lazy dog again and again"),
            # near-dup of store doc 1 (one word changed)
            (11, "the quick brown fox jumps over the lazy cat again and again"),
            # genuinely new
            (12, "entirely fresh text that matches nothing in the store at all"),
        ],
        "doc_id LONG, text STRING",
    )
    out = {
        r.id: (r.status, r.match_id)
        for r in incremental_dedup(
            fingerprint_store(batch_docs, k=5),
            fingerprint_store(store_docs, k=5),
            # 8 bands x 4 rows: LSH threshold (1/8)^(1/4) ~ 0.59 — the
            # one-word-changed pair sits near estimated J ~ 0.78, below the
            # default 4x8 banding's ~0.84 recall knee
            bands=8,
            min_agree_permille=500,
        ).collect()
    }
    assert out[10] == ("exact_dup", 1)
    assert out[11] == ("near_dup", 1)
    assert out[12] == ("new", -1)


def test_fingerprint_store_shape_and_determinism(spark):
    from database_migration_spark.operators.dedup import fingerprint_store

    docs = spark.createDataFrame(
        [(i, f"document number {i} with some shared vocabulary") for i in range(20)],
        "doc_id LONG, text STRING",
    )
    fp = fingerprint_store(docs, k=5, num_perm=8)
    assert fp.columns == ["id", "content_h"] + [f"sig_{i}" for i in range(8)]
    rows = {r.id: tuple(r) for r in fp.collect()}
    assert len(rows) == 20
    # identical under different partitioning
    rows2 = {r.id: tuple(r) for r in fingerprint_store(docs.repartition(7), k=5, num_perm=8).collect()}
    assert rows == rows2


def test_lsh_bucket_cap_bounds_candidates(spark):
    """A degenerate corpus (60 identical docs) puts everyone in one bucket
    per band: uncapped = 60*59/2 pairs; max_bucket below 60 drops the
    mega-buckets and yields zero candidates (the boilerplate belongs to the
    exact-dup pass). Distinct docs still pair under a generous cap."""
    from database_migration_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_sets,
    )

    docs = spark.createDataFrame(
        [(i, "the same boilerplate text repeated everywhere ok") for i in range(60)]
        + [(100, "a genuinely different document about spark partitions"),
           (101, "a genuinely different document about spark partitions")],
        "doc_id long, text string",
    )
    sh = shingle_sets(docs, "text", "doc_id", 5)
    sigs = minhash_signatures(sh).persist()
    uncapped = lsh_candidate_pairs(sigs).count()
    capped = lsh_candidate_pairs(sigs, max_bucket=10)
    rows = capped.collect()
    assert uncapped == 60 * 59 // 2 + 1
    # mega-bucket dropped; the pair of distinct near-dups survives the cap
    assert {(r.id_a, r.id_b) for r in rows} == {(100, 101)}
    sigs.unpersist()


def test_simhash_bucket_cap_bounds_candidates(spark):
    from database_migration_spark.operators.dedup import simhash_near_pairs

    docs = spark.createDataFrame(
        [(i, "identical boilerplate page footer text ok") for i in range(40)],
        "doc_id long, text string",
    )
    assert simhash_near_pairs(docs).count() == 40 * 39 // 2
    assert simhash_near_pairs(docs, max_bucket=10).count() == 0
    spark.catalog.clearCache()


def test_incremental_dedup_indexed_parity_and_pruning(spark, sf_smoke, tmp_path):
    import contextlib
    import io

    from pyspark.sql import functions as F

    from database_migration_spark.operators.dedup import (
        fingerprint_store,
        incremental_dedup,
        incremental_dedup_indexed,
        write_fingerprint_index,
    )

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    store_docs = docs.where("doc_id % 3 != 0")
    # batch: unseen docs + exact re-crawls of store docs under new ids
    batch_docs = docs.where("doc_id % 3 = 0").unionByName(
        docs.where("doc_id % 9 = 1").select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), *docs.columns[1:]
        )
    )
    store_fp = fingerprint_store(store_docs).persist()
    batch_fp = fingerprint_store(batch_docs).persist()
    path = str(tmp_path / "fp_index")
    write_fingerprint_index(store_fp, path, buckets=16)

    plain = {tuple(r) for r in incremental_dedup(batch_fp, store_fp).collect()}
    indexed_df = incremental_dedup_indexed(spark, path, batch_fp, buckets=16)
    indexed = {tuple(r) for r in indexed_df.collect()}
    assert indexed == plain and indexed
    # at least the replanted docs must be exact dups
    assert any(s == "exact_dup" for _, s, _ in indexed)

    # both index scans prune partitions: bucket predicates reach
    # PartitionFilters
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        indexed_df.explain(True)
    plan = buf.getvalue()
    pruned = [s[:250] for s in plan.split("PartitionFilters")[1:]]
    assert sum("bucket" in s for s in pruned) >= 2, pruned
    spark.catalog.clearCache()


def test_append_fingerprint_index_grows_store(spark, tmp_path):
    """Crawl-loop store maintenance: a doc decided 'new' in batch 1 and
    appended must be found as exact_dup when re-crawled in batch 2."""
    from database_migration_spark.operators.dedup import (
        append_fingerprint_index,
        fingerprint_store,
        incremental_dedup_indexed,
        write_fingerprint_index,
    )

    store_docs = spark.createDataFrame(
        [(1, "seed store document about spark shuffle partitions")],
        "doc_id LONG, text STRING",
    )
    path = str(tmp_path / "grow_idx")
    write_fingerprint_index(fingerprint_store(store_docs, k=5), path, buckets=8)

    b1 = spark.createDataFrame(
        [(10, "a brand new never seen document about minhash banding")],
        "doc_id LONG, text STRING",
    )
    b1_fp = fingerprint_store(b1, k=5)
    d1 = incremental_dedup_indexed(spark, path, b1_fp, buckets=8).collect()
    assert [(r.id, r.status) for r in d1] == [(10, "new")]
    append_fingerprint_index(b1_fp, path, buckets=8)

    b2 = spark.createDataFrame(
        [(20, "a brand new never seen document about minhash banding")],
        "doc_id LONG, text STRING",
    )
    d2 = incremental_dedup_indexed(
        spark, path, fingerprint_store(b2, k=5), buckets=8
    ).collect()
    assert [(r.id, r.status, r.match_id) for r in d2] == [(20, "exact_dup", 10)]
    spark.catalog.clearCache()


def test_compact_partitioned_preserves_content(spark, tmp_path):
    import glob

    from pyspark.sql import functions as F

    from database_migration_spark.operators.dedup import (
        append_fingerprint_index,
        compact_partitioned,
        fingerprint_store,
        write_fingerprint_index,
    )

    docs = lambda lo, hi: spark.createDataFrame(  # noqa: E731
        [(i, f"document number {i} with some words about topic {i % 3}")
         for i in range(lo, hi)],
        "doc_id LONG, text STRING",
    )
    path = str(tmp_path / "idx")
    write_fingerprint_index(fingerprint_store(docs(0, 8), k=5), path, buckets=4)
    for epoch in range(4):
        append_fingerprint_index(
            fingerprint_store(docs(100 + epoch * 10, 104 + epoch * 10), k=5),
            path, buckets=4,
        )
    spark.catalog.clearCache()
    src = f"{path}/bands"
    before = spark.read.parquet(src)
    n_files_before = len(glob.glob(f"{src}/bucket=*/*.parquet"))

    dest = str(tmp_path / "bands_compacted")
    compact_partitioned(spark, src, dest)
    after = spark.read.parquet(dest)
    assert after.count() == before.count()
    assert before.exceptAll(after.select(*before.columns)).count() == 0
    per_bucket = glob.glob(f"{dest}/bucket=*/*.parquet")
    buckets = {f.split("bucket=")[1].split("/")[0] for f in per_bucket}
    assert len(per_bucket) <= len(buckets)  # one file per bucket value
    assert n_files_before > len(per_bucket)
    spark.catalog.clearCache()


def test_indexed_dedup_handles_recrawled_sid_versions(spark, tmp_path):
    """An append-grown index can hold one sid with TWO different
    signatures (doc re-crawled with changed text, appended under its old
    id). Each version must be compared separately — a column-wise min
    across versions would fabricate a signature belonging to neither and
    break parity with the plain store."""
    from database_migration_spark.operators.dedup import (
        append_fingerprint_index,
        fingerprint_store,
        incremental_dedup,
        incremental_dedup_indexed,
        write_fingerprint_index,
    )

    v1 = spark.createDataFrame(
        [(1, "the original crawl text about spark adaptive execution")],
        "doc_id LONG, text STRING",
    )
    v2 = spark.createDataFrame(
        [(1, "completely rewritten page now describing duckdb vectorization")],
        "doc_id LONG, text STRING",
    )
    path = str(tmp_path / "vers_idx")
    write_fingerprint_index(fingerprint_store(v1, k=5), path, buckets=8)
    append_fingerprint_index(fingerprint_store(v2, k=5), path, buckets=8)

    # batch doc identical to VERSION 2 only
    batch = fingerprint_store(
        spark.createDataFrame(
            [(9, "completely rewritten page now describing duckdb vectorization")],
            "doc_id LONG, text STRING",
        ),
        k=5,
    )
    plain_store = fingerprint_store(v1, k=5).unionByName(
        fingerprint_store(v2, k=5)
    )
    want = {tuple(r) for r in incremental_dedup(batch, plain_store).collect()}
    got = {
        tuple(r)
        for r in incremental_dedup_indexed(spark, path, batch, buckets=8).collect()
    }
    assert got == want
    assert got == {(9, "exact_dup", 1)}
    spark.catalog.clearCache()


def test_delete_rows_partitioned_surgical(spark, tmp_path):
    """Right-to-be-forgotten pass: deletes only the forget ids, rewrites
    ONLY the affected partitions (untouched partition files keep their
    identity), and the pruned read carries a PartitionFilters predicate."""
    import glob
    import os

    from pyspark.sql import functions as F

    from database_migration_spark.operators.dedup import delete_rows_partitioned

    path = str(tmp_path / "corpus")
    docs = spark.createDataFrame(
        [(i, f"document body {i}") for i in range(64)],
        "doc_id LONG, text STRING",
    )
    (
        docs.withColumn("bucket", F.pmod("doc_id", F.lit(8)))
        .repartition(8, "bucket")
        .write.partitionBy("bucket")
        .parquet(path)
    )
    sig = lambda: {  # noqa: E731
        f: os.stat(f).st_mtime_ns for f in glob.glob(f"{path}/bucket=*/*.parquet")
    }
    before = sig()

    # ids 3, 11 (bucket 3) and 20 (bucket 4) → exactly two affected buckets
    staging = str(tmp_path / "staging")
    res = delete_rows_partitioned(
        spark, path, staging, [3, 11, 20], "doc_id",
        partition_of=lambda c: F.pmod(c, F.lit(8)),
    )
    assert res == {"partitions": [3, 4], "rows_deleted": 3, "rows_kept": 13}

    after = spark.read.parquet(path)
    assert after.count() == 61
    assert after.where(F.col("doc_id").isin([3, 11, 20])).count() == 0
    # every surviving row intact
    assert (
        after.join(docs.where(~F.col("doc_id").isin([3, 11, 20])), ["doc_id"], "inner")
        .count() == 61
    )
    # untouched buckets: identical files, untouched mtimes
    untouched = {
        f: m for f, m in before.items()
        if "/bucket=3/" not in f and "/bucket=4/" not in f
    }
    assert untouched.items() <= sig().items()

    # the staging write's source scan pruned at file listing
    import contextlib
    import io

    pruned = (
        spark.read.parquet(path).where(F.col("bucket").isin([3, 4]))
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain(True)
    segs = buf.getvalue().split("PartitionFilters")[1:]
    assert any("bucket" in s[:250] for s in segs)

    # store-scan fallback (no partition_of): same affected set
    res2 = delete_rows_partitioned(
        spark, path, str(tmp_path / "s2"), [5, 13], "doc_id",
    )
    assert res2["partitions"] == [5] and res2["rows_deleted"] == 2


def test_delete_rows_partitioned_full_partition_purge(spark, tmp_path):
    """A forget batch that deletes EVERY row of its partitions commits an
    empty staging area (no part files) — the pass must still return its
    audit dict and its commit must remove the purged partition directory."""
    import os

    from pyspark.sql import functions as F

    from database_migration_spark.operators.dedup import delete_rows_partitioned

    path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(i, f"doc {i}") for i in range(8)], "doc_id LONG, text STRING"
    ).withColumn("bucket", F.pmod("doc_id", F.lit(4))).repartition(
        4, "bucket"
    ).write.partitionBy("bucket").parquet(path)

    # bucket 1 holds exactly ids {1, 5} — forget both
    res = delete_rows_partitioned(
        spark, path, str(tmp_path / "staging"), [1, 5], "doc_id",
        partition_of=lambda c: F.pmod(c, F.lit(4)),
    )
    assert res == {"partitions": [1], "rows_deleted": 2, "rows_kept": 0}
    assert not os.path.exists(f"{path}/bucket=1")
    after = spark.read.parquet(path)
    assert after.count() == 6
    assert after.where(F.col("doc_id").isin([1, 5])).count() == 0


def test_line_dedup_modes(spark):
    """Cross-document line dedup: remove-everywhere (CCNet) vs
    keep-global-first (C4), ordered reassembly, NULL docs, empty result."""
    from database_migration_spark.operators.dedup import (
        duplicate_lines,
        line_occurrences,
        remove_duplicate_lines,
    )

    docs = spark.createDataFrame(
        [
            (1, "keep me\nBOILER\nunique one"),
            (2, "BOILER\nother text"),
            (3, "BOILER"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    lines = line_occurrences(docs)
    dup = duplicate_lines(lines, min_docs=2).collect()
    assert len(dup) == 1 and dup[0].n_docs == 3

    out = {
        r.doc_id: (r.n_kept, r.text)
        for r in remove_duplicate_lines(docs, min_docs=2).collect()
    }
    assert out[1] == (2, "keep me\nunique one")
    assert out[2] == (1, "other text")
    assert out[3] == (0, "")   # everything removed -> empty, not dropped
    assert 4 not in out        # NULL docs are excluded explicitly

    first = {
        r.doc_id: (r.n_kept, r.text)
        for r in remove_duplicate_lines(docs, min_docs=2,
                                        keep_first=True).collect()
    }
    # global first occurrence is (doc 1, pos 1): doc 1 keeps BOILER
    assert first[1] == (3, "keep me\nBOILER\nunique one")
    assert first[2] == (1, "other text")
    assert first[3] == (0, "")


def test_line_dedup_within_doc_repeats_keep_one(spark):
    """A line repeated in the SAME first doc keeps exactly one occurrence
    under keep_first (C4: discard all but one), all under remove-all."""
    from database_migration_spark.operators.dedup import remove_duplicate_lines

    docs = spark.createDataFrame(
        [(1, "X\nmid\nX"), (2, "X\ntail")], "doc_id long, text string"
    )
    first = {
        r.doc_id: r.text
        for r in remove_duplicate_lines(docs, min_docs=2,
                                        keep_first=True).collect()
    }
    assert first[1] == "X\nmid" and first[2] == "tail"
    none = {
        r.doc_id: r.text
        for r in remove_duplicate_lines(docs, min_docs=2).collect()
    }
    assert none[1] == "mid" and none[2] == "tail"


def test_connected_components_star_matches_label_propagation(spark):
    """Round-7: the log-rounds large-star/small-star variant produces the
    IDENTICAL labeling as min-label propagation on every component shape —
    long chain (the case star exists for), clique, star, singleton, and a
    two-edge vee — plus determinism across repartitioning."""
    from database_migration_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    pairs = (
        [(i, i + 1) for i in range(60)]                       # chain, diam 60
        + [(100, 101), (101, 102), (100, 102)]                # clique
        + [(300, x) for x in range(301, 306)]                 # star
        + [(400, 402), (401, 402)]                            # vee
    )
    pdf = spark.createDataFrame(pairs, "id_a LONG, id_b LONG")
    node_ids = sorted({x for p in pairs for x in p} | {500})  # +singleton
    nodes = spark.createDataFrame([(i,) for i in node_ids], "id LONG")

    prop = {r.id: r.cluster_id
            for r in connected_components(pdf, nodes, max_iter=80).collect()}
    star = {r.id: r.cluster_id
            for r in connected_components_star(pdf, nodes).collect()}
    assert star == prop
    assert star[60] == 0 and star[305] == 300 and star[500] == 500
    assert star[400] == star[401] == star[402] == 400

    # invariance under physical layout (the checksum/fixed-point must not
    # depend on partitioning)
    star2 = {
        r.id: r.cluster_id
        for r in connected_components_star(
            pdf.repartition(7), nodes.repartition(3)
        ).collect()
    }
    assert star2 == star


def test_fingerprint_index_metadata_guards_layout(spark, tmp_path):
    """Round-7 trap closure: the index stores its layout parameters; a
    prober (or appender) passing contradicting explicit values raises —
    a silent mismatch would prune the WRONG partitions and miss
    duplicates with no error. Omitted parameters resolve from the
    metadata, so probing an index needs no out-of-band knowledge."""
    import pytest

    from database_migration_spark.operators.dedup import (
        append_fingerprint_index,
        fingerprint_store,
        incremental_dedup_indexed,
        write_fingerprint_index,
    )
    from database_migration_spark.functions import store_meta

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta eta theta doc {i}")
         for i in range(12)],
        "doc_id LONG, text STRING",
    )
    path = str(tmp_path / "fpidx")
    write_fingerprint_index(fingerprint_store(docs, k=5), path, buckets=8)
    assert store_meta.read(path, "minhash") == {
        "num_perm": 32, "bands": 4, "buckets": 8,
    }

    batch = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta doc 3")],
        "doc_id LONG, text STRING",
    )
    batch_fp = fingerprint_store(batch, k=5, persist=False)
    # no parameters: resolved from the stored metadata
    out = {r.id: r for r in incremental_dedup_indexed(spark, path, batch_fp).collect()}
    assert out[100].status in ("exact_dup", "near_dup")
    # contradicting explicit value: loud
    with pytest.raises(ValueError, match="buckets=8"):
        incremental_dedup_indexed(spark, path, batch_fp, buckets=16)
    with pytest.raises(ValueError, match="bands=4"):
        append_fingerprint_index(batch_fp, path, bands=8)
    # matching explicit values still accepted
    assert incremental_dedup_indexed(
        spark, path, batch_fp, num_perm=32, bands=4, buckets=8
    ).count() == 1


def test_cluster_representatives_matches_window_and_breaks_ties(spark):
    """The struct-max representative (one map-side-combinable aggregate)
    must equal the row_number-window contract: highest score, then
    smallest id — deterministic under any partitioning."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from database_migration_spark.operators.dedup import (
        cluster_representatives,
    )

    import random

    rng = random.Random(20260816)
    rows = [(i, i % 37, rng.randint(0, 50)) for i in range(500)]
    labels = spark.createDataFrame(
        [(i, c) for i, c, _ in rows], "id LONG, cluster_id LONG"
    )
    scored = spark.createDataFrame(
        [(i, s) for i, _c, s in rows], "id LONG, score LONG"
    )
    got = {
        r.cluster_id: (r.rep_id, r.rep_score, r.n_members)
        for r in cluster_representatives(
            labels.repartition(7), scored.repartition(3)
        ).collect()
    }
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("score").desc(), F.col("id").asc()
    )
    want_rows = (
        labels.join(scored, "id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("cluster_id"))
        )
        .where("rn = 1")
        .collect()
    )
    want = {
        r.cluster_id: (r.id, r.score, r.n) for r in want_rows
    }
    assert got == want
    # explicit tie: equal top scores -> smallest id wins
    labels2 = spark.createDataFrame(
        [(10, 0), (11, 0), (12, 0)], "id LONG, cluster_id LONG"
    )
    scored2 = spark.createDataFrame(
        [(10, 9), (11, 9), (12, 3)], "id LONG, score LONG"
    )
    out = cluster_representatives(labels2, scored2).collect()
    assert [(r.cluster_id, r.rep_id, r.rep_score, r.n_members)
            for r in out] == [(0, 10, 9, 3)]


def test_cluster_representatives_unscored_and_float_guard(spark):
    import pytest

    from database_migration_spark.operators.dedup import (
        cluster_representatives,
    )

    labels = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (10, 9), (11, 9)],
        "id LONG, cluster_id LONG",
    )
    # member 3 unscored: counts in n_members, can never win; cluster 9
    # fully unscored: min-id representative with NULL score
    scored = spark.createDataFrame([(1, 5), (2, 7)], "id LONG, score LONG")
    got = {
        r.cluster_id: (r.rep_id, r.rep_score, r.n_members)
        for r in cluster_representatives(labels, scored).collect()
    }
    assert got == {0: (2, 7, 3), 9: (10, None, 2)}
    # float scores RAISE instead of silently truncating to min-id
    fscored = spark.createDataFrame(
        [(1, 0.9), (2, 0.7)], "id LONG, score DOUBLE"
    )
    with pytest.raises(ValueError, match="integral"):
        cluster_representatives(labels, fscored)


def _ham_sigs(spark, rows):
    return spark.createDataFrame(rows, "id LONG, sig_lo LONG, sig_hi LONG")


def test_hamming_index_parity_pruning_and_lifecycle(spark, tmp_path):
    """The image/simhash signature store (round-12: text had the full
    fingerprint lifecycle, images were batch-only): the indexed probe's
    matches equal the batch-vs-store pairs hamming_near_pairs finds on
    the union, the chunk scan prunes partitions, appends grow the store,
    and layout contradictions raise."""
    import contextlib
    import io

    from database_migration_spark.operators.dedup import (
        append_hamming_index,
        hamming_dedup_indexed,
        hamming_near_pairs,
        write_hamming_index,
    )

    # store: spread signatures; ids 1..40
    store = _ham_sigs(
        spark,
        [(i, (i * 2654435761) % (1 << 32), (i * 40503) % (1 << 32))
         for i in range(1, 41)],
    )
    # batch: 3 near-dups of store sigs (flip 1 low bit), 1 signature-exact
    # copy, and 2 genuinely new
    base = {r.id: (r.sig_lo, r.sig_hi) for r in store.collect()}
    batch_rows = [
        (101, base[5][0] ^ 1, base[5][1]),          # hamming 1 vs sid 5
        (102, base[7][0] ^ 3, base[7][1]),          # hamming 2 vs sid 7
        (103, base[9][0], base[9][1] ^ 7),          # hamming 3 vs sid 9
        (104, base[11][0], base[11][1]),            # hamming 0 vs sid 11
        (105, 0xDEADBEEF, 0x0BADF00D),              # new
        (106, 0x12345678, 0x0FEDCBA9),              # new
    ]
    batch = _ham_sigs(spark, batch_rows)

    path = str(tmp_path / "ham_idx")
    write_hamming_index(store, path, buckets=16)
    dec_df = hamming_dedup_indexed(spark, path, batch, buckets=16)
    dec = {r.id: (r.status, r.match_id, r.min_hamming)
           for r in dec_df.collect()}

    # parity: the batch-vs-store legs of hamming_near_pairs on the union
    pairs = hamming_near_pairs(store.unionByName(batch)).collect()
    # expected decisions, computed directly
    assert dec[101] == ("near_dup", 5, 1)
    assert dec[102] == ("near_dup", 7, 2)
    assert dec[103] == ("near_dup", 9, 3)
    assert dec[104] == ("near_dup", 11, 0)  # signature-identical
    assert dec[105] == ("new", -1, -1)
    assert dec[106] == ("new", -1, -1)
    # and every near decision appears in the batch-vs-store pair relation
    found = {(min(r.id_a, r.id_b), max(r.id_a, r.id_b)) for r in pairs}
    for bid, (st, sid, _h) in dec.items():
        if st == "near_dup":
            assert (sid, bid) in found

    # the pruned chunk scan carries the bucket predicate
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        dec_df.explain(True)
    segs = buf.getvalue().split("PartitionFilters")[1:]
    assert any("bucket" in s[:250] for s in segs), segs

    # lifecycle: append the new signatures; a re-crawl of 105 now matches
    append_hamming_index(
        batch.where("id >= 105"), path
    )
    redec = {r.id: (r.status, r.match_id, r.min_hamming)
             for r in hamming_dedup_indexed(
                 spark, path, _ham_sigs(
                     spark, [(201, 0xDEADBEEF, 0x0BADF00D)]
                 )).collect()}
    assert redec[201] == ("near_dup", 105, 0)

    # contradictions raise instead of silently mispruning
    import pytest as _pt

    with _pt.raises(ValueError, match="max_hamming=3"):
        hamming_dedup_indexed(spark, path, batch, max_hamming=7)
    with _pt.raises(ValueError, match="buckets=16"):
        append_hamming_index(batch, path, buckets=8)
    spark.catalog.clearCache()


def test_hamming_and_minhash_indexes_reject_each_other(spark, tmp_path):
    from database_migration_spark.operators.dedup import (
        fingerprint_store,
        hamming_dedup_indexed,
        incremental_dedup_indexed,
        write_fingerprint_index,
        write_hamming_index,
    )

    docs = spark.createDataFrame(
        [(1, "a document about exchange reuse in adaptive plans")],
        "doc_id LONG, text STRING",
    )
    fp_path = str(tmp_path / "fp")
    write_fingerprint_index(fingerprint_store(docs), fp_path, buckets=8)
    sigs = _ham_sigs(spark, [(1, 123, 456)])
    ham_path = str(tmp_path / "ham")
    write_hamming_index(sigs, ham_path, buckets=8)

    import pytest as _pt

    with _pt.raises(ValueError, match="not a hamming"):
        hamming_dedup_indexed(spark, fp_path, sigs)
    with _pt.raises(ValueError, match="hamming signature index"):
        incremental_dedup_indexed(
            spark, ham_path, fingerprint_store(docs)
        )


def test_hamming_probe_reports_true_min_distance(spark, tmp_path):
    """min_hamming is the TRUE minimum — a smaller sid matching at
    higher distance must not shadow a signature-identical match under
    a bigger sid (review finding: a sid-first struct-min returned the
    farther match's distance and broke the '0 = re-encode' contract)."""
    from database_migration_spark.operators.dedup import (
        hamming_dedup_indexed,
        write_hamming_index,
    )

    s = 0x0000ABCD_0000EF12
    lo, hi = s & 0xFFFFFFFF, s >> 32
    store = _ham_sigs(
        spark,
        [(2, lo ^ 0b111, hi),   # hamming 3 vs the batch sig, smaller sid
         (11, lo, hi)],         # hamming 0, larger sid
    )
    path = str(tmp_path / "minh_idx")
    write_hamming_index(store, path, buckets=4)
    got = hamming_dedup_indexed(
        spark, path, _ham_sigs(spark, [(300, lo, hi)])
    ).collect()[0]
    assert (got.status, got.match_id, got.min_hamming) == (
        "near_dup", 11, 0
    )
