"""Delta sync, star schema, and text operator tests."""

from pyspark.sql import functions as F

from database_migration_spark.operators.delta_sync import (
    SyncStrategy,
    execute_sync,
    merge_upsert,
    plan_sync,
    watermark,
)
from database_migration_spark.operators.star_schema import (
    build_dimension,
    build_fact,
    incremental_dim_insert,
)
from database_migration_spark.operators.text import lang_id, quality_features


def test_merge_upsert_updates_and_inserts(spark):
    target = spark.createDataFrame(
        [(1, "old"), (2, "old")], "id INT, v STRING"
    )
    staging = spark.createDataFrame(
        [(2, "new"), (3, "new")], "id INT, v STRING"
    )
    out = {r.id: r.v for r in merge_upsert(target, staging, ["id"]).collect()}
    assert out == {1: "old", 2: "new", 3: "new"}


def test_strategy_decision(spark, sf_smoke):
    orders = spark.read.parquet(f"{sf_smoke}/orders.parquet")
    target = orders.limit(100)
    # no PK -> truncate+full
    assert plan_sync(orders, target, None, None).strategy is SyncStrategy.TRUNCATE_FULL_LOAD
    # PK, no delta col -> full load + merge
    assert (
        plan_sync(orders, target, ("o_orderkey",), None).strategy
        is SyncStrategy.FULL_LOAD_MERGE
    )
    # PK + delta col -> delta load
    p = plan_sync(orders, target, ("o_orderkey",), "o_orderdate")
    assert p.strategy is SyncStrategy.DELTA_LOAD_MERGE
    assert p.watermark is not None
    assert any(">=" in s for s in p.statements)  # at-least-once boundary


def test_execute_sync_roundtrip(spark, sf_smoke):
    """After a delta sync, target == source exactly (the MERGE dedups the
    re-read boundary row)."""
    orders = spark.read.parquet(f"{sf_smoke}/orders.parquet")
    cutoff = F.lit("1997-06-01 00:00:00").cast("timestamp")
    target = orders.where(F.col("o_orderdate") < cutoff)
    dates = [r.o_orderdate for r in target.select("o_orderdate").collect()]
    assert watermark(target, "o_orderdate") == max(dates)
    merged = execute_sync(orders, target, ("o_orderkey",), "o_orderdate")
    assert merged.count() == orders.count()
    assert merged.exceptAll(orders).count() == 0


def test_watermark_literal_per_dialect():
    """Golden rendering of get_max_stmt_for_src
    (delta_import_on_primary_keys.sql:280-310): each source system gets its
    own timestamp literal syntax and precision."""
    import datetime

    from database_migration_spark.operators.delta_sync import (
        format_watermark_literal as f,
    )

    wm = datetime.datetime(1997, 6, 1, 12, 30, 45, 123456)
    assert f(wm, "TIMESTAMP", "mysql") == (
        "STR_TO_DATE('1997-06-01 12:30:45.123456', '%Y-%m-%d %H:%i:%s.%f')"
    )
    assert f(wm, "TIMESTAMP", "sqlserver") == (
        "CONVERT(datetime,'1997-06-01 12:30:45.123', 121)"  # ms truncation
    )
    assert f(wm, "TIMESTAMP", "redshift") == (
        "to_timestamp('1997-06-01 12:30:45.123456', 'YYYY-MM-DD HH24:MI:SS.FF6')"
    )
    assert f(wm, "TIMESTAMP", "db2") == (
        "to_date('1997-06-01 12:30:45.123456','YYYY-MM-DD HH24.MI.SS.FF6')"
    )
    assert f(wm, "TIMESTAMP", "postgresql") == (
        "to_date('1997-06-01 12:30:45.123456', 'YYYY-MM-DD HH24:MI:SS')"
    )
    assert f(wm, "DATE", "oracle") == (
        "to_date('1997-06-01 12:30:45.123456', 'YYYY-MM-DD HH24:MI:SS')"
    )
    assert f(wm, "TIMESTAMP(9)", "oracle") == (
        "to_timestamp('1997-06-01 12:30:45.123456', 'YYYY-MM-DD HH24:MI:SS.FF9')"
    )
    assert f(wm, "TIMESTAMP", "exasol") == (
        "to_timestamp('1997-06-01 12:30:45.123456', 'YYYY-MM-DD HH24:MI:SS.FF9')"
    )
    # non-temporal watermarks stay plain quoted literals
    assert f(42, "BIGINT", "oracle") == "'42'"


def test_plan_sync_renders_dialect_watermark(spark, sf_smoke):
    orders = spark.read.parquet(f"{sf_smoke}/orders.parquet")
    target = orders.where(F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    plan = plan_sync(
        orders, target, ("o_orderkey",), "o_orderdate", source_dialect="oracle"
    )
    insert = plan.statements[1]
    assert "to_timestamp('" in insert and "FF9" in insert
    assert "o_orderdate >=" in insert


def test_star_roundtrip(spark, sf_smoke):
    """Fact ⋈ dim reconstructs the original flat columns exactly."""
    orders = spark.read.parquet(f"{sf_smoke}/orders.parquet")
    dim_cols = ["o_orderstatus", "o_orderpriority"]
    dim = build_dimension(orders, dim_cols, "dk")
    fact = build_fact(
        orders, {"dk": (dim, dim_cols)}, ["o_totalprice"], ["o_orderkey"]
    )
    assert fact.count() == orders.count()
    recon = fact.join(dim, "dk").select("o_orderkey", *dim_cols)
    orig = orders.select("o_orderkey", *dim_cols)
    assert recon.exceptAll(orig).count() == 0


def test_incremental_dim_insert_no_dupes(spark, sf_smoke):
    orders = spark.read.parquet(f"{sf_smoke}/orders.parquet")
    dim_cols = ["o_orderstatus"]
    dim = build_dimension(orders.limit(500), dim_cols, "dk")
    grown = incremental_dim_insert(dim, orders, dim_cols, "dk")
    assert grown.select(*dim_cols).distinct().count() == grown.count()
    assert grown.select("dk").distinct().count() == grown.count()
    # existing keys unchanged
    old = {r.o_orderstatus: r.dk for r in dim.collect()}
    new = {r.o_orderstatus: r.dk for r in grown.collect()}
    for k, v in old.items():
        assert new[k] == v


def test_surrogate_key_modes(spark, sf_smoke):
    """hash mode (default): content-derived keys, stable for a combination
    regardless of what else is in the load; parity mode: the reference's
    sequential dense_rank (1..n)."""
    orders = spark.read.parquet(f"{sf_smoke}/orders.parquet")
    dim_cols = ["o_orderstatus", "o_orderpriority"]
    h_full = {
        tuple(r[c] for c in dim_cols): r.dk
        for r in build_dimension(orders, dim_cols, "dk").collect()
    }
    h_part = {
        tuple(r[c] for c in dim_cols): r.dk
        for r in build_dimension(orders.limit(300), dim_cols, "dk").collect()
    }
    for combo, key in h_part.items():
        assert h_full[combo] == key  # content hash ignores load composition
    p = build_dimension(orders, dim_cols, "dk", key_mode="parity").collect()
    assert sorted(r.dk for r in p) == list(range(1, len(p) + 1))


def test_lang_id_deterministic_and_scored(spark, sf_smoke):
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    out = lang_id(docs)
    assert out.filter(F.col("lang_pred").isNull()).count() == 0
    # rerun gives identical results
    a = sorted((r.doc_id, r.lang_pred) for r in out.collect())
    b = sorted((r.doc_id, r.lang_pred) for r in lang_id(docs).collect())
    assert a == b


def test_quality_features_ranges(spark, sf_smoke):
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    q = quality_features(docs)
    bad = q.filter(
        (F.col("q_alpha_ppm") < 0) | (F.col("q_alpha_ppm") > 1_000_000)
        | (F.col("q_punct_ppm") < 0) | (F.col("q_punct_ppm") > 1_000_000)
    )
    assert bad.count() == 0
    assert q.filter(F.col("q_n_tokens") <= 0).count() == 0


def test_repetition_features_hand_computed(spark):
    from database_migration_spark.operators.text import repetition_features

    docs = spark.createDataFrame(
        [
            # "a a b": 3 words, 2 distinct -> rep 333333; 2-grams {"a a","a b"}
            # tie on cnt=1 -> max gram text "a b" (3 chars * 1) / 5 chars
            (0, "a a b"),
            # "x y x y x y": top 2-gram "x y" cnt 3 (others "y x" cnt 2);
            # 3 grams * 3 chars = 9 / 11 chars; dup 3-grams: "x y x" cnt 2,
            # "y x y" cnt 2 -> (5*2 + 5*2) = 20 chars (overlap-counted) / 11
            (1, "x y x y x y"),
            # no repetition at all
            (2, "q w e"),
        ],
        "doc_id LONG, text STRING",
    )
    out = {r.doc_id: r.asDict() for r in repetition_features(docs).collect()}
    assert out[0]["n_words"] == 3 and out[0]["n_distinct_words"] == 2
    assert out[0]["rep_word_ppm"] == 333333
    assert out[0]["top_2gram_char_ppm"] == 600000  # 3/5
    assert out[0]["dup_3gram_char_ppm"] == 0
    assert out[1]["top_2gram_char_ppm"] == 818181  # 9/11
    assert out[1]["dup_3gram_char_ppm"] == 1818181  # 20/11 (overlap-counted)
    assert out[2]["rep_word_ppm"] == 0
    assert out[2]["top_2gram_char_ppm"] == 600000  # tie -> "w e", 3/5
    assert out[2]["dup_3gram_char_ppm"] == 0


def test_pii_redaction_counts_and_text(spark):
    from database_migration_spark.operators.text import pii_features

    docs = spark.createDataFrame(
        [
            (0, "mail a.b-c@foo.co.uk and call 555-867-5309 from 192.168.1.10"),
            (1, "nothing sensitive here"),
        ],
        "doc_id LONG, text STRING",
    )
    out = {r.doc_id: r for r in pii_features(docs).collect()}
    assert (out[0].n_email, out[0].n_phone, out[0].n_ipv4) == (1, 1, 1)
    assert out[0].text_redacted == "mail <EMAIL> and call <PHONE> from <IP>"
    assert (out[1].n_email, out[1].n_phone, out[1].n_ipv4) == (0, 0, 0)
    assert out[1].text_redacted == "nothing sensitive here"


def test_url_domains_extraction(spark):
    from database_migration_spark.operators.text import url_domains

    df = spark.createDataFrame(
        [
            (0, "https://sub.example.org/path/x"),
            (1, "http://foo.net"),
            (2, "not a url"),
        ],
        "id LONG, url STRING",
    )
    out = {r.id: (r.domain, r.tld) for r in url_domains(df, "url").collect()}
    assert out[0] == ("sub.example.org", "org")
    assert out[1] == ("foo.net", "net")
    assert out[2] == ("", "")


def test_chunk_tokens_coverage_and_overlap(spark, sf_smoke):
    from database_migration_spark.operators.text import chunk_tokens

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    ch = chunk_tokens(docs, window=32, stride=24)
    per_doc = (
        ch.groupBy("doc_id")
        .agg(
            F.min("start_tok").alias("first"),
            F.max(F.col("start_tok") + F.col("n_toks")).alias("covered"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.max("chunk_idx").alias("max_idx"),
        )
        .join(
            docs.select(
                "doc_id", F.size(F.split("text", " ")).alias("n")
            ),
            "doc_id",
        )
    )
    rows = per_doc.collect()
    assert rows
    for r in rows:
        assert r.first == 0
        assert r.covered == r.n  # every token lands in some chunk
        assert r.max_idx == r.n_chunks - 1  # contiguous chunk ids
    # all non-final chunks are exactly `window` tokens
    from pyspark.sql import Window as W

    last = F.max("chunk_idx").over(W.partitionBy("doc_id"))
    short = ch.withColumn("_last", last).where(
        (F.col("chunk_idx") < F.col("_last")) & (F.col("n_toks") != 32)
    )
    assert short.count() == 0


def test_chunk_tokens_rejects_bad_stride(spark):
    import pytest as _pytest

    from database_migration_spark.operators.text import chunk_tokens

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        chunk_tokens(df, window=8, stride=9)
    with _pytest.raises(ValueError):
        chunk_tokens(df, window=8, stride=0)


def test_bigram_lm_stats_exact_tiny(spark):
    from database_migration_spark.operators.text import bigram_lm_stats

    df = spark.createDataFrame(
        [(1, "a b a c"), (2, "b a")], "doc_id long, text string"
    )
    out = {r.token: r for r in bigram_lm_stats(df, persist=False).collect()}
    # tf: a=3, b=2, c=1; df: a in both docs, b in both, c in doc 1
    assert (out["a"].tf, out["a"].df_docs) == (3, 2)
    assert (out["b"].tf, out["b"].df_docs) == (2, 2)
    assert (out["c"].tf, out["c"].df_docs) == (1, 1)
    # bigrams: (a,b) (b,a) (a,c) in doc1; (b,a) in doc2
    assert out["a"].n_right == 2  # a -> {b, c}
    assert out["a"].n_left == 1  # b -> a only
    assert out["b"].n_right == 1  # b -> a
    assert out["b"].n_left == 1  # a -> b
    assert out["c"].n_right == 0  # doc-final only
    assert out["c"].n_left == 1  # a -> c


def test_chunk_tokens_null_text_yields_no_rows(spark):
    from database_migration_spark.operators.text import chunk_tokens

    df = spark.createDataFrame(
        [(1, "a b c"), (2, None)], "doc_id long, text string"
    )
    out = chunk_tokens(df, window=2, stride=1)
    assert out.where("doc_id = 2").count() == 0
    assert out.where("n_toks < 1").count() == 0


def test_chunk_and_bigram_match_python_reference(spark):
    """Differential check over a seeded random corpus with adversarial
    lengths (empty string, 1 token, exactly window, window+1, long docs):
    Spark output must equal a direct Python implementation of the contract.
    """
    import hashlib
    import random

    from database_migration_spark.operators.text import (
        bigram_lm_stats,
        chunk_tokens,
    )

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    lengths = [0, 1, 7, 8, 9, 15, 16, 17, 31, 63] + [
        rng.randint(1, 80) for _ in range(90)
    ]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(n)))
        for i, n in enumerate(lengths)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    W, S = 8, 5

    def md5_60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    # --- chunking reference (split('', ' ') -> [''] like Spark/DuckDB)
    want = set()
    for i, text in docs:
        toks = text.split(" ")
        n = len(toks)
        n_chunks = 1 + (max(n - W, 0) + S - 1) // S
        for c in range(n_chunks):
            piece = toks[c * S : c * S + W]
            want.add((i, c, c * S, len(piece), md5_60(" ".join(piece))))
    got = {
        (r.doc_id, r.chunk_idx, r.start_tok, r.n_toks, r.chunk_h)
        for r in chunk_tokens(df, window=W, stride=S).collect()
    }
    assert got == want

    # --- bigram reference
    from collections import defaultdict

    tf = defaultdict(int)
    dfreq = defaultdict(set)
    right = defaultdict(set)
    left = defaultdict(set)
    for i, text in docs:
        toks = text.split(" ")
        for j, w in enumerate(toks):
            tf[w] += 1
            dfreq[w].add(i)
            if j + 1 < len(toks):
                right[w].add(toks[j + 1])
                left[toks[j + 1]].add(w)
    want_b = {
        (w, tf[w], len(dfreq[w]), len(left[w]), len(right[w])) for w in tf
    }
    got_b = {
        (r.token, r.tf, r.df_docs, r.n_left, r.n_right)
        for r in bigram_lm_stats(df, persist=False).collect()
    }
    assert got_b == want_b


def test_bigram_typicality_reference_and_edge_docs(spark):
    from database_migration_spark.operators.text import bigram_typicality

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "z"), (4, "c a b")],
        "doc_id long, text string",
    )
    # corpus bigrams: (a,b)x4, (b,a)x1, (c,a)x1 -> contexts c1: a=4, b=1, c=1
    # ppm: (a,b)=4*1e6//4=1e6, (b,a)=1*1e6//1=1e6, (c,a)=1e6
    out = {r.doc_id: r for r in bigram_typicality(df, persist=False).collect()}
    assert (out[1].n_bigrams, out[1].typicality_ppm) == (3, 1_000_000)
    assert (out[2].n_bigrams, out[2].typicality_ppm) == (1, 1_000_000)
    # single-token doc: zero bigrams, NULL score
    assert (out[3].n_bigrams, out[3].typicality_ppm) == (0, None)
    assert (out[4].n_bigrams, out[4].typicality_ppm) == (2, 1_000_000)
    # a corpus where frequencies differ: doc with rare transition scores low
    df2 = spark.createDataFrame(
        [(1, "x y"), (2, "x y"), (3, "x y"), (4, "x q")],
        "doc_id long, text string",
    )
    o2 = {r.doc_id: r for r in bigram_typicality(df2, persist=False).collect()}
    # c1(x)=4; (x,y)=3 -> 750000; (x,q)=1 -> 250000
    assert o2[1].typicality_ppm == 750_000
    assert o2[4].typicality_ppm == 250_000


def test_sync_rows_after_is_exact_from_validation(spark, sf_smoke, tmp_path):
    """A validating sync takes rows_after from the target's ROW_CNT metric
    instead of counting the target: it equals the published target's
    parquet footers, on the bootstrap and on a delta merge, and matches
    what a non-validating sync counts."""
    import os

    import pyarrow.parquet as pq

    from database_migration_spark.operators.delta_sync import sync_table
    from database_migration_spark.sources.parquet_source import ParquetSource

    adapter = ParquetSource(spark, sf_smoke)
    root = str(tmp_path / "tgt")

    def footer_rows():
        return sum(
            pq.read_metadata(os.path.join(d, f)).num_rows
            for d, _dirs, files in os.walk(root)
            for f in files if f.endswith(".parquet")
        )

    for validate in (True, True, False):
        rep = sync_table(spark, adapter, root, "orders",
                         delta_col="o_orderdate", validate=validate)
        assert rep.deviations == (0 if validate else None)
        assert rep.rows_after == footer_rows() > 0
