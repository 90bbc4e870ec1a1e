"""10x scale probe: measure wall-time scaling of the most expensive
operators on a derived corpus ten times the size of sf0.1.

The environment ships no sf1 testdata, so scale claims above sf0.1 would
otherwise rest on plan audits alone. This script derives a 10x corpus from
sf0.1 (NOT driver testdata regeneration — a local, deterministic
transformation):

- ``documents`` x10: replica i gets doc_id + i*1_000_000 and every word
  suffixed with the replica digit (``regexp_replace('(\\S+)', '$1'||i)``).
  The suffix keeps each replica's INTERNAL duplicate structure intact (dup
  pairs transform identically) while making replicas mutually dissimilar —
  modeling "10x more data at the same duplicate rate". Plain copies would
  put 10 near-identical docs in every LSH bucket and explode candidate
  pairs quadratically, measuring the wrong thing.
- ``lineitem`` x10: replica i gets l_orderkey + i*10_000_000 (distinct-key
  cardinality scales with volume, so count_distinct work is realistic).
- ``embeddings`` x10: replica i gets vec_id + i*1_000_000 and a per-replica
  deterministic sign-flip pattern over the vector dimensions (norms
  preserved, cross-replica cosine ~ 0 — exact copies would hand every LSH
  bucket 10 identical members and measure a 90%-duplicate corpus).
- ``events`` x10: replica i gets user_id + i*1_000_000 and event_id +
  i*10_000_000; ts untouched (sessionization windows key on user_id, so
  per-user work is replica-local).

Usage: python scripts/scale_probe.py [--regen] [query names…]
Flags: --x100 (third decade), --ann, --bm25, --semantic-bits, --skew-demo,
--salt-demo, --salt-demo-x100, --hierarchy-x100, --index-demo,
--zorder-lifecycle (append-growth/compaction pruning study at x100),
--guards (cold-lap rows for the internally-persisting round-11 ops:
join_cardinality, image_near_dup),
--image-index (round-12 incremental image store: indexed crawl-batch
probe vs the index-free signature self-join; +x100 with --x100),
--validate-fan (validate_pair's gated fan vs a forced fan on lineitem
at sf0.01 / sf0.1 / x10, interleaved cold pairs),
--no-queries (skip the main sweep for flag-only runs).
Writes the corpus under .scale/x10/ (gitignored) and prints one JSON line
with sf0.1 and 10x timings per operator; SCALE.md records the results.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF01 = "/root/testdata/sf0.1"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale", "x10")
REPLICAS = 10

# the planted cross-replica quote for the winnow_overlap scale row (see
# the documents block of generate()): ~40 words so each planted pair
# shares dozens of pair-unique grams — far above min_shared=5 even after
# winnowing's sparse selection
OVERLAP_PASSAGE = (
    "shared quoted passage planted across replica pairs so the moss "
    "match stage carries nonzero output at scale the winnowing guarantee "
    "selects at least one fingerprint per window of this quote and every "
    "gram of it lives in exactly two documents which keeps the evidence "
    "under the boilerplate cap"
)
OVERLAP_EVERY = 1250  # base doc_ids 3, 1253, 2503, 3753 of sf0.1's 5000
OVERLAP_RESIDUE = 3

PROBES = [
    "minhash_lsh_pairs",
    "simhash_pairs",
    "mig_check_lineitem",
    "dup_span_coverage",
    "remove_dup_spans",
    "ann_cosine_topk",
    "embedding_near_dup",
    "sessionize_events",
    "semantic_dedup_embeddings",
    "incremental_dedup_batch",
    "chunk_documents",
    "bigram_lm_stats",
    "embedding_label_centroids",
    "event_cooccurrence_pairs",
    "rolling_event_rate",
    "fuzzy_name_pairs",
    "funnel_events",
    "retention_cohorts_weekly",
    "corpus_mix_cube",
    "embedding_outliers",
    "bpe_merge_table_documents",
    "rolling_active_users",
    "json_props_stats",
    "expectations_lineitem",
    # round 6 additions
    "row_diff_orders",
    "profile_orders",
    "scd2_customer_history",
    "semantic_decontaminate_corpus",
    "line_dedup_documents",
    "corpus_attrition_report",
    "incremental_agg_refresh",
    "bucket_completeness_orders",
    "dist_key_advisor_orders",
    "asof_click_attribution",
    "range_join_session_errors",
    "resample_user_activity",
    "drift_orders_history_vs_delta",
    "join_plan_advisor_lineitem",
    "transition_matrix_events",
    "anomaly_flags_user_activity",
    # round 8 additions
    "pps_sample_documents",
    "quality_classifier_documents",
    "calibrated_quality_filter_documents",
    # round 9 additions
    "top_mass_sample_documents",
    "winnow_fingerprint_documents",
    "heavy_hitter_tokens",
    # round 10 additions (see the X100_PROBES comment for the shapes)
    "markup_extract_documents",
    "zorder_cells_events",
    "leakage_safe_split_documents",
    # round 11 additions: both persist-free (one grouped agg + a rollup /
    # a null-safe count re-attach), so the registry probe is honest
    "k_anonymity_customer",
    "k_suppress_customer",
    # join_cardinality_lineitem_partkey and image_near_dup_media are NOT
    # probed via the registry: both persist internally (the count
    # relations / the banded chunk relation incl. the mapInPandas dhash),
    # so time_thunk's post-warm-up laps would time the cached join, not
    # the operator (the winnow_overlap rule). --guards runs their
    # dedicated min-of-cold-laps probes instead.
    # winnow_overlap_pairs is NOT probed via the registry: its internal
    # persists make time_thunk's warm laps meaningless (the scale_probe
    # persisted-relation rule — a registry probe would record the
    # cached-join time, not the operator). Use --overlap instead: the
    # dedicated min-of-cold-laps probe with a ROW-COUNT guard. Round 9's
    # derived corpora yielded ZERO pairs at its fixed (min_shared=5,
    # max_bucket=10) tuning — the word-suffix construction pushed all
    # shared-evidence fingerprints into capped buckets (the bm25
    # fixed-terms caveat class); round 10 plants cross-replica pair
    # passages in generate() so the ×10/×100 rows carry nonzero output
    # (SCALE.md: 21/300/2,924 pairs, 3.63/6.65/41.1 s cold).
    # hierarchy_flatten_customers is NOT probed at x10: the derived
    # corpus's replica key offsets break the div-10 parent derivation
    # (rep>=1 parents dangle), so the probe would measure the trivial
    # dangling fast path; the log-rounds bound is pinned by
    # test_hierarchy instead.
    # entity_resolution_names is NOT probed at x10: the derived corpus's
    # serial-style names (Customer#...) chain into one giant lev-1
    # component (2.6 M edges), so the probe measures the documented
    # mega-component regime, not routine scaling — see the query
    # docstring's blocking-key guidance.
    # bm25_topk_documents is NOT probed via the registry: its fixed query
    # terms don't exist in the suffixed derived vocabulary (measured 0.58×
    # at ×10 — an empty hit set, not a scaling result). --bm25 runs the
    # corpus-appropriate study instead.
]

# --x100: a third decade for the operators whose scaling is load-bearing —
# the text-dedup family (shuffle volume grows with shingles) and the wide
# count-distinct aggregate (the reference-parity heavyweight)
OUT100 = os.path.join(os.path.dirname(OUT), "x100")
X100_PROBES = [
    "minhash_lsh_pairs",
    "simhash_pairs",
    "dup_span_coverage",
    "dedup_exact_documents",
    "chunk_documents",
    "bigram_lm_stats",
    "mig_check_lineitem",
    "sessionize_events",
    "events_hourly_agg",
    "bpe_merge_table_documents",
    "expectations_lineitem",
    # round 6: the rest of the dedup family (embeddings x100 generated on
    # demand by the --ann/--x100 paths)
    "embedding_near_dup",
    "semantic_dedup_embeddings",
    "incremental_dedup_batch",
    "remove_dup_spans",
    "fuzzy_name_pairs",
    # round 6 family
    "row_diff_orders",
    "profile_orders",
    "scd2_customer_history",
    "line_dedup_documents",
    "corpus_attrition_report",
    "incremental_agg_refresh",
    "dist_key_advisor_orders",
    "asof_click_attribution",
    "range_join_session_errors",
    "resample_user_activity",
    "drift_orders_history_vs_delta",
    "transition_matrix_events",
    "anomaly_flags_user_activity",
    # round 7: the last round-6 operators without a third-decade row. Both
    # read the derived part/customer tables, whose 3-digit replica suffix
    # keeps cross-replica names at lev >= 3 — dictionary grows 100x, the
    # within-replica match structure is constant (see the part/customer
    # generate() comment). hierarchy_flatten_customers cannot reuse its
    # registered query here (its div-10 parent rule dangles across replica
    # key offsets — the recorded caveat), so it gets the dedicated
    # --hierarchy-x100 study below instead.
    "fuzzy_join_drifted_names",
    "entity_resolution_names",
    "pps_sample_documents",
    "quality_classifier_documents",
    "calibrated_quality_filter_documents",
    "top_mass_sample_documents",
    # round 7: CDC apply (reads orders; the planted op rates scale with
    # the key bump, so net/delete fractions stay constant)
    "cdc_apply_orders",
    # round 9: the gram-window and bounded-sketch operators — both claim
    # their shape survives a third decade (winnow: row-local per-doc
    # array selection behind fan_out, ZERO shuffle — the doc-keyed window
    # sort is the rejected 165x first cut, see text.py; hitters: bounded
    # per-partition summaries, candidate-only recount)
    "winnow_fingerprint_documents",
    "heavy_hitter_tokens",
    # round 10: the new operator families — markup extraction is pure
    # row-local regex (linear or bust), the z-key rollup is one grouped
    # agg over a projection, and the leakage-safe split composes the
    # minhash pair relation + star/propagation CC + one label join (the
    # derived corpora keep within-replica near-dup structure, so the CC
    # leg is non-vacuous)
    "markup_extract_documents",
    "zorder_cells_events",
    "leakage_safe_split_documents",
    # round 11: the privacy pair — grouped-agg + re-attach shapes, both
    # persist-free (customer x100 = 1.5 M rows over the same ~275-class
    # QI grid: classes grow in POPULATION, not count, which is exactly
    # the release-audit regime at scale)
    "k_anonymity_customer",
    "k_suppress_customer",
]


TABLES = ("documents", "lineitem", "embeddings", "events", "part",
          "customer", "orders", "supplier", "nation", "region")


def generate(
    spark,
    out: str | None = None,
    replicas: int | None = None,
    tables: tuple = TABLES,
) -> None:
    """Derive a replicas× corpus from sf0.1. Replica structure mirrors the
    x10 design (see SCALE.md: per-replica word suffixes keep the duplicate
    RATE constant instead of making the corpus 1-1/replicas duplicates);
    built as a crossJoin with a replica range — one scan regardless of
    replica count, where the old N-way union stopped scaling at N=100."""
    from pyspark.sql import functions as F

    out = out or OUT
    replicas = replicas or REPLICAS
    rep = spark.range(replicas).select(F.col("id").cast("int").alias("rep"))
    files = max(8, replicas // 4)

    if "documents" in tables:
        docs = spark.read.parquet(os.path.join(SF01, "documents.parquet"))
        suffixed = F.regexp_replace(
            F.col("text"), F.lit(r"(\S+)"),
            F.concat(F.lit("$1"), F.col("rep").cast("string")),
        )
        # Planted cross-replica shared passages (round 10): the suffix
        # construction replicates every gram STEM across replicas, so the
        # winnow_overlap boilerplate cap (max_bucket=10) drops all shared
        # evidence and the MOSS stage's derived-corpus output was vacuous
        # (0 pairs — the bm25 fixed-terms caveat class). Four base docs
        # per replica PAIR (reps 2j and 2j+1) get one pair-unique passage
        # appended — every word tagged with (pair, base) so each
        # passage's grams live in EXACTLY two documents (far under the
        # cap) and nothing is shared across pairs. Expected output:
        # 4 * floor(replicas/2) pairs (40 quote-length words >> the
        # min_shared=5 evidence bar), ~0.1% of docs touched, so the
        # other documents probes are unaffected.
        pair_tag = F.concat(
            F.expr("rep div 2").cast("string"),
            F.lit("q"),
            F.col("doc_id").cast("string"),
        )
        planted_passage = F.regexp_replace(
            F.lit(OVERLAP_PASSAGE), F.lit(r"(\S+)"),
            F.concat(F.lit("$1"), pair_tag),
        )
        is_planted = F.col("doc_id") % OVERLAP_EVERY == OVERLAP_RESIDUE
        big_docs = docs.crossJoin(rep).select(
            (F.col("doc_id") + F.col("rep") * F.lit(1_000_000)).alias("doc_id"),
            F.when(
                is_planted,
                F.concat(suffixed, F.lit(" "), planted_passage),
            )
            .otherwise(suffixed)
            .alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        # several files, as a real scaled corpus would arrive (single-row-
        # group inputs are the sf0.1 quirk fan_out exists to fix)
        big_docs.repartition(files).write.mode("overwrite").parquet(
            os.path.join(out, "documents.parquet")
        )

    if "lineitem" in tables:
        li = spark.read.parquet(os.path.join(SF01, "lineitem.parquet"))
        li.crossJoin(rep).select(
            *[
                (F.col("l_orderkey") + F.col("rep") * F.lit(10_000_000)).alias(
                    "l_orderkey"
                )
                if c == "l_orderkey"
                else F.col(c)
                for c in li.columns
            ]
        ).repartition(files).write.mode("overwrite").parquet(
            os.path.join(out, "lineitem.parquet")
        )

    if "embeddings" in tables:
        emb = spark.read.parquet(os.path.join(SF01, "embeddings.parquet"))
        emb.crossJoin(rep).select(
            (F.col("vec_id") + F.col("rep") * F.lit(1_000_000)).alias("vec_id"),
            F.expr(
                "transform(embedding, (x, j) -> "
                "CASE WHEN pmod(hash(j, rep), 2) = 0 THEN x ELSE -x END)"
            ).alias("embedding"),
            "label",
        ).repartition(files).write.mode("overwrite").parquet(
            os.path.join(out, "embeddings.parquet")
        )

    # part/customer: the fuzzy-matching dictionary tables. Replica i
    # suffixes every name with its digit REPEATED THREE TIMES ("rod" →
    # "rod777"): the distinct-name dictionary grows linearly with
    # replicas, each replica keeps the base corpus's internal near-name
    # structure (a fixed common suffix never changes an edit distance),
    # and cross-replica names sit at distance ≥ 3 — a SINGLE-digit suffix
    # instead makes every base name's 10 replica variants mutual
    # substitution pairs at distance 1, inflating the TRUE lev≤1 output
    # ~45 pairs per base name (measured 20.5× wall at ×10 before this
    # fix — superlinear output, not superlinear work).
    for tbl, key, bump in (("part", "p_partkey", 10_000_000),
                           ("customer", "c_custkey", 10_000_000),
                           ("supplier", "s_suppkey", 10_000_000)):
        if tbl in tables:
            t = spark.read.parquet(os.path.join(SF01, f"{tbl}.parquet"))
            name_col = f"{tbl[0]}_name"
            suffix = F.repeat(F.col("rep").cast("string"), 3)
            t.crossJoin(rep).select(
                *[
                    (F.col(key) + F.col("rep") * F.lit(bump)).alias(key)
                    if c == key
                    else F.concat(F.col(c), suffix).alias(c)
                    if c == name_col
                    else F.col(c)
                    for c in t.columns
                ]
            ).repartition(files).write.mode("overwrite").parquet(
                os.path.join(out, f"{tbl}.parquet")
            )

    # nation/region: fixed-size dimensions at every TPC-H scale factor —
    # the honest scaling is a PASSTHROUGH copy (round 11: the coherent-
    # subset probe closes over them; c_nationkey/s_nationkey reference
    # the unreplicated base keys, which is exactly what a real corpus
    # does with small dims)
    for tbl in ("nation", "region"):
        if tbl in tables:
            spark.read.parquet(
                os.path.join(SF01, f"{tbl}.parquet")
            ).write.mode("overwrite").parquet(
                os.path.join(out, f"{tbl}.parquet")
            )

    if "orders" in tables:
        # row_diff / profile / scd2 family: key cardinality scales with
        # volume (o_orderkey bump keeps %-derived diff fates at a constant
        # RATE; o_custkey bump keeps histogram/distinct work realistic).
        # o_custkey uses the SAME 10M bump as customer's c_custkey so the
        # derived corpus stays FK-COHERENT (round 11: the subset-closure
        # probe needs resolvable references; the old 1M bump dangled
        # every non-replica-0 order's customer)
        o = spark.read.parquet(os.path.join(SF01, "orders.parquet"))
        o.crossJoin(rep).select(
            (F.col("o_orderkey") + F.col("rep") * F.lit(10_000_000)).alias(
                "o_orderkey"
            ),
            (F.col("o_custkey") + F.col("rep") * F.lit(10_000_000)).alias(
                "o_custkey"
            ),
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        ).repartition(files).write.mode("overwrite").parquet(
            os.path.join(out, "orders.parquet")
        )

    if "events" in tables:
        ev = spark.read.parquet(os.path.join(SF01, "events.parquet"))
        ev.crossJoin(rep).select(
            (F.col("event_id") + F.col("rep") * F.lit(10_000_000)).alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("rep") * F.lit(1_000_000)).alias("user_id"),
            "event_type",
            "value",
            "props",
        ).repartition(files).write.mode("overwrite").parquet(
            os.path.join(out, "events.parquet")
        )


def x10(spark, *tables: str) -> str:
    """OUT, after generating whichever of ``tables`` the ×10 set lacks
    (no ``_SUCCESS`` marker: never written, or a write that died). A flag
    study generates only the tables it reads; the whole set is the query
    sweep's to generate."""
    missing = tuple(
        t for t in tables
        if not os.path.exists(os.path.join(OUT, f"{t}.parquet", "_SUCCESS"))
    )
    if missing:
        generate(spark, OUT, REPLICAS, tables=missing)
    return OUT


def time_thunk(spark, make) -> float:
    def lap() -> float:
        t0 = time.time()
        make().write.format("noop").mode("overwrite").save()
        return time.time() - t0

    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    lap()  # warm-up
    return min(lap(), lap())


def cold_thunk(spark, make, laps: int = 2) -> float:
    """min-of-COLD-laps: clearCache + gc BETWEEN laps, so operators with
    INTERNAL persists re-pay their full pipeline every lap (the
    scale_probe --overlap convention; time_thunk's warm laps would time
    the cached join instead). min-of-laps still absorbs a one-lap host
    stall."""
    times = []
    for _ in range(laps):
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        t0 = time.time()
        make().write.format("noop").mode("overwrite").save()
        times.append(time.time() - t0)
    return min(times)


def time_query(spark, registry, name: str, sf_dir: str) -> float:
    # operator-internal persists from EARLIER probes otherwise accumulate
    # across a long sweep (nothing unpersists them), and the growing cache
    # pressure inflates later probes' timings — a 30-probe sweep measured
    # mig_check at 4.8x where a fresh session measures 1.7x. Every probe
    # starts cache-clean.
    spark.catalog.clearCache()
    return time_thunk(spark, lambda: registry[name](spark, sf_dir))


def ann_compare(spark, sf_dir: str, n_queries: int = 200) -> dict:
    """Brute-force vs IVF vs hyperplane-LSH top-k at one scale: wall cost
    of each plus the approximate paths' recall@5 against the exact result.
    The measured form of 'bucketed search is the scale path' — brute cost
    grows with |corpus| x |queries|, IVF touches ~n_probe/n_centroids of
    the corpus per query, LSH touches the query's buckets across its hash
    tables."""
    from pyspark.sql import functions as F

    from database_migration_spark import queries as Q
    from database_migration_spark.operators import similarity as S

    emb = Q.table(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < n_queries)

    out = {}
    for name, make in (
        ("brute", lambda: S.cosine_topk(emb, qs, k=5)),
        ("ivf", lambda: S.ivf_topk(emb, qs, k=5, n_centroids=32, n_probe=4)),
        ("lsh", lambda: S.lsh_bucketed_topk(emb, qs, k=5, bits=4, tables=8)),
    ):
        out[f"{name}_sec"] = round(time_thunk(spark, make), 3)

    from pyspark import StorageLevel

    # multi-consumer (count + every recall join) — without the persist the
    # full brute-force pass re-executes per consumer
    brute = (
        S.cosine_topk(emb, qs, k=5)
        .select("query_id", "neighbor_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n_exact = brute.count()

    def recall(approx) -> float | None:
        got = approx.select("query_id", "neighbor_id")
        n_hit = brute.join(got, ["query_id", "neighbor_id"]).count()
        return round(n_hit / n_exact, 4) if n_exact else None

    for label, kwargs in (
        ("ivf_recall_at_5", {}),
        # corpus-wide Lloyd polish of the sample-trained centroids — the
        # kmeans_refine scale path; same probe budget, better cells
        ("ivf_recall_at_5_refined", {"refine_iters": 2}),
    ):
        out[label] = recall(
            S.ivf_topk(emb, qs, k=5, n_centroids=32, n_probe=4, **kwargs)
        )
    for label, kwargs in (
        ("lsh_recall_at_5", {"bits": 4, "tables": 8}),
        # the recall knob: more tables = more independent chances to share
        # a bucket (1-(1-p)^L), linear candidate cost
        ("lsh_recall_at_5_t16", {"bits": 4, "tables": 16}),
    ):
        out[label] = recall(S.lsh_bucketed_topk(emb, qs, k=5, **kwargs))

    # PQ/ADC: L2 on unit vectors == cosine ranking, so normalize first
    # (norm materialized as a column — a HOF-lambda norm would re-evaluate
    # per element) and score recall against the same cosine brute truth.
    # Encode is the write-once index cost and is timed separately from
    # the per-query-batch search.
    normed = emb.select(
        "vec_id",
        F.expr(
            "sqrt(aggregate(embedding, 0.0D,"
            " (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
        ).alias("_n"),
        "embedding",
    ).select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(x / _n AS FLOAT))"
        ).alias("embedding"),
    )
    books = S.train_pq_codebooks(normed, m=8, k=256, sample_rows=2048)
    t0 = time.time()
    codes = S.pq_encode(normed, books).persist(StorageLevel.MEMORY_AND_DISK)
    codes.count()
    out["pq_encode_sec"] = round(time.time() - t0, 3)
    qs_n = normed.where(F.col("vec_id") < n_queries)

    def pq_lap() -> float:
        # deliberately NOT time_thunk: its clearCache would evict the
        # persisted code index (and the brute truth) — searching a WARM
        # prebuilt index is exactly the deployment shape being measured
        t = time.time()
        S.pq_topk(codes, qs_n, books, k=5).write.format("noop").mode(
            "overwrite"
        ).save()
        return time.time() - t

    pq_lap()  # warm-up
    out["pq_sec"] = round(min(pq_lap(), pq_lap()), 3)
    out["pq_recall_at_5"] = recall(S.pq_topk(codes, qs_n, books, k=5))
    codes.unpersist()

    # IVF-PQ with the exact-rerank leg — the round-8 recommendable
    # geometry (suggest_ann_params compressed=True): residual codebooks
    # against sqrt(n) coarse cells, probe cells/7, ADC shortlist R=50,
    # exact L2 re-rank of the original vectors. Same warm-index timing
    # discipline as flat PQ.
    import math

    n_corpus = normed.count()
    n_cent = max(4, int(round(math.sqrt(n_corpus))))
    n_probe = max(1, math.ceil(n_cent / 7))
    t0 = time.time()
    coarse, rbooks = S.train_ivf_pq(normed, n_centroids=n_cent, m=16, k=256)
    out["ivf_pq_train_sec"] = round(time.time() - t0, 3)
    t0 = time.time()
    rcodes = S.ivf_pq_encode(normed, coarse, rbooks).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    rcodes.count()
    out["ivf_pq_encode_sec"] = round(time.time() - t0, 3)

    def ivf_pq_lap() -> float:
        t = time.time()
        S.ivf_pq_topk(
            rcodes, qs_n, coarse, rbooks, k=5, n_probe=n_probe,
            rerank=50, corpus=normed,
        ).write.format("noop").mode("overwrite").save()
        return time.time() - t

    ivf_pq_lap()  # warm-up
    out["ivf_pq_sec"] = round(min(ivf_pq_lap(), ivf_pq_lap()), 3)
    out["ivf_pq_recall_at_5"] = recall(
        S.ivf_pq_topk(rcodes, qs_n, coarse, rbooks, k=5, n_probe=n_probe,
                      rerank=50, corpus=normed)
    )
    out["ivf_pq_adc_only_recall_at_5"] = recall(
        S.ivf_pq_topk(rcodes, qs_n, coarse, rbooks, k=5, n_probe=n_probe)
    )
    rcodes.unpersist()
    brute.unpersist()
    return out


def overlap_probe(spark, Q, with_x100: bool = False) -> dict:
    """Cold row-count-checked timings for winnow_overlap_pairs at the
    registry's fixed tuning (k=8, w=4, min_shared=5, max_bucket=10) on
    sf0.1 / x10 / optionally x100. COLD single laps on purpose: the
    operator persists its fingerprint relation internally, so
    time_thunk's min-of-warm-laps would measure the cached join (the
    recorded 2.17 s where cold truth was 50 s). The ROW COUNT is the
    honesty guard: a 0-pair derived-corpus run is machinery-only (the
    bm25 fixed-terms caveat class) and is flagged ``vacuous`` instead of
    silently recorded as a scaling result — the x10/x100 corpora carry
    planted cross-replica passages (generate()'s documents block) whose
    expected pair floor is 4 * floor(replicas/2)."""
    from database_migration_spark.operators.text import winnow_overlap_pairs

    res = {}
    dirs = [("sf0.1", SF01, None),
            ("x10", x10(spark, "documents"), 4 * (REPLICAS // 2))]
    if with_x100:
        dirs.append(("x100", OUT100, 4 * (100 // 2)))
    for label, sf_dir, planted_floor in dirs:
        laps = []
        for _ in range(2):
            # clearCache BETWEEN laps: the internal persists cannot
            # survive into the next lap, so each lap re-executes the
            # full plan (the time_thunk trap was persists carried
            # across laps) — while min-of-laps absorbs the measured
            # 4x first-lap-after-other-legs JVM pollution (208.8 s
            # where a clean session reads 45-66 s)
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            t0 = time.time()
            n = winnow_overlap_pairs(
                Q.table(spark, sf_dir, "documents"),
                k=8, window=4, min_shared=5, max_bucket=10,
            ).count()
            laps.append(time.time() - t0)
        row = {"pairs": int(n), "cold_sec": round(min(laps), 3)}
        if n == 0:
            row["vacuous"] = True  # machinery-only: timing proves plan
            # shape, not end-to-end output — do not record as scaling
        if planted_floor is not None and n < planted_floor:
            row["below_planted_floor"] = planted_floor
        res[label] = row
    return res


def bm25_compare(spark) -> dict:
    """BM25 economics at ×10: inline scoring re-tokenizes the corpus per
    query batch (cost grows with corpus size), the write-time postings
    index pays tokenization once and serves probes that prune to the
    query terms' buckets (probe cost tracks the queried postings, not the
    corpus). Query terms carry the derived corpus's replica-0 suffix so
    the hit set is real at both scales."""
    from pyspark.sql import functions as F  # noqa: F401

    from database_migration_spark.operators.retrieval import (
        bm25_topk,
        bm25_topk_from_index,
        write_postings_index,
    )

    out = {}
    legs = [
        ("sf0.1", SF01, "hash join merge table scan"),
        ("x10", x10(spark, "documents"), "hash0 join0 merge0 table0 scan0"),
    ]
    # r13 (verdict item 3): the W6 inline reshape — one corpus scan,
    # per-term in-array counts, no explode — needs a big-corpus proof;
    # replica-0 terms stay real hits at every decade. SELF-CONTAINED per
    # the flag-study rule (never keyed on --x100, which would drag the
    # whole x100 sweep in front of it): the leg generates its own x100
    # documents if missing.
    if not os.path.exists(os.path.join(OUT100, "documents.parquet")):
        generate(spark, OUT100, 100, tables=("documents",))
    legs.append(("x100", OUT100, "hash0 join0 merge0 table0 scan0"))
    for tag, sf_dir, qtext in legs:
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        q = spark.createDataFrame(
            [("q0", qtext)], "query_id string, query_text string"
        )
        inline = time_thunk(spark, lambda: bm25_topk(docs, q, k=5))
        path = os.path.join(os.path.dirname(OUT), f"bm25_{tag.replace('.', '')}")
        t0 = time.time()
        write_postings_index(docs, path, buckets=64)
        build = time.time() - t0
        probe = time_thunk(
            spark, lambda: bm25_topk_from_index(spark, path, q, k=5, buckets=64)
        )
        out[tag] = {
            "inline_sec": round(inline, 3),
            "index_build_sec": round(build, 3),
            "index_probe_sec": round(probe, 3),
        }
        if tag == "x100":
            # the >_INLINE_TERMS_MAX streaming shape (explode + broadcast
            # semi-join, doc lengths via the no-explode doc_token_counts)
            # at the same decade: 80 real corpus terms force the crossover
            row = docs.select("text").where("text IS NOT NULL").limit(20).collect()
            words = []
            for r in row:
                for w in (r["text"] or "").split():
                    if w not in words:
                        words.append(w)
                if len(words) >= 80:
                    break
            from database_migration_spark.operators.retrieval import (
                _INLINE_TERMS_MAX,
            )

            if len(words) <= _INLINE_TERMS_MAX:
                # row-count-guard convention: a term set that never
                # crosses the inline cutover would silently time the
                # INLINE shape while the row claims the streaming one
                # (review finding — x100 docs carry ~12-29 unique words
                # each, so 3 same-replica rows can fall short)
                out[tag]["streaming_leg"] = f"vacuous ({len(words)} terms)"
            else:
                q_wide = spark.createDataFrame(
                    [("qw", " ".join(words[:80]))],
                    "query_id string, query_text string",
                )
                out[tag]["inline_streaming_terms"] = len(words[:80])
                out[tag]["inline_streaming_80term_sec"] = round(
                    time_thunk(spark, lambda: bm25_topk(docs, q_wide, k=5)), 3
                )
            out[tag]["n_hit_rows"] = bm25_topk(docs, q, k=5).count()
    return out


def cdc_stream_probe(spark, n_epochs: int = 4) -> dict:
    """Per-epoch cost + tombstone growth of the STREAMING CDC path
    (streaming.delta_stream.stream_cdc_apply) at the x10 feed scale — the
    batch apply has its x100 row; this measures the epoch loop the batch
    row can't see:

    - epoch wall as the target accumulates (each epoch is a full
      read-modify-write of the plain-parquet target: expected ~flat once
      the target size stabilizes — the plain-parquet shape; MERGE INTO
      replaces the rewrite at 100 TB),
    - tombstone growth WITHOUT compaction across the delete epochs, then
      the compact_cdc_target drop + its wall (the retention cadence
      guidance: compact when tombstones are a measurable fraction of the
      target, at the feed's lateness horizon),
    - the late-path at volume: the final epoch replays an ENTIRE earlier
      epoch (every event stale) plus late-update-after-delete events —
      the fences must no-op them, verified against the batch operator
      (apply_cdc over the same total feed) by live-view row parity.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from database_migration_spark import queries as Q
    from database_migration_spark.operators.cdc import apply_cdc
    from database_migration_spark.streaming.delta_stream import (
        compact_cdc_target,
        read_cdc_target,
        stream_cdc_apply,
    )

    work = tempfile.mkdtemp(prefix="cdc_stream_probe")
    src = os.path.join(work, "feed")
    os.makedirs(src)
    target = os.path.join(work, "target")
    ckpt = os.path.join(work, "ckpt")

    base = Q.table(spark, x10(spark, "orders"), "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("cust"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast("double").alias("price"),
    )

    def epoch_df(e: int):
        if e == 0:  # bootstrap: insert every row
            return base.select(
                "*", F.lit(1).alias("seq"), F.lit("I").alias("op")
            )
        if e < n_epochs - 1:  # update 10 %, delete ~1 % (disjoint slices)
            upd = base.where(F.pmod("k", F.lit(10)) == e).select(
                "k", "cust", F.lit(f"U{e}").alias("status"),
                (F.col("price") + e).alias("price"),
                F.lit(10 * e).alias("seq"), F.lit("U").alias("op"),
            )
            dele = base.where(F.pmod("k", F.lit(97)) == e).select(
                "k", "cust", "status", "price",
                F.lit(10 * e + 1).alias("seq"), F.lit("D").alias("op"),
            )
            return upd.unionByName(dele)
        # final epoch: a FULL stale replay of epoch 1 (every event fenced)
        # + late updates to epoch-2's deleted keys with seq BELOW the
        # delete (the resurrection case, at volume)
        replay = epoch_df(1)
        # seq 19: below epoch-2's delete fence (seq 21) and colliding with
        # no other (key, seq) — a duplicate (key, seq) with a different
        # image would rightly trip apply_cdc's dup-seq guard in the
        # convergence check below
        late = base.where(F.pmod("k", F.lit(97)) == 2).select(
            "k", "cust", F.lit("LATE").alias("status"), "price",
            F.lit(19).alias("seq"), F.lit("U").alias("op"),
        )
        return replay.unionByName(late)

    schema = epoch_df(0).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = stream_cdc_apply(stream, target, ["k"], ckpt)
    out: dict = {"epochs": []}
    try:
        for e in range(n_epochs):
            epoch_df(e).coalesce(4).write.parquet(os.path.join(src, f"e{e:02d}"))
            t0 = time.time()
            q.processAllAvailable()
            wall = time.time() - t0
            raw = spark.read.parquet(target)
            out["epochs"].append({
                "epoch": e,
                "sec": round(wall, 2),
                "target_rows": raw.count(),
                "tombstones": raw.where(F.col("_deleted")).count(),
            })
    finally:
        q.stop()

    # convergence at volume: live view == batch apply_cdc of the same feed
    # (distinct: the stale-replay epoch duplicates epoch-1 rows EXACTLY —
    # the streaming fences no-op them; the batch guard would otherwise
    # rightly flag the duplicated (key, seq) pairs)
    all_events = spark.read.parquet(src + "/*").distinct()
    empty = base.limit(0)
    expected = apply_cdc(empty, all_events, ["k"], "seq", "op")
    live = read_cdc_target(spark, target)
    n_live = live.count()
    mismatch = (
        live.unionByName(expected).groupBy(*live.columns)
        .count().where(F.col("count") != 2).count()
    )
    out["live_rows"] = n_live
    out["late_epoch_converged"] = mismatch == 0

    # retention: drop every tombstone below the horizon (all of them here)
    t0 = time.time()
    counts = compact_cdc_target(spark, target, min_live_seq=10 ** 9)
    out["compact_sec"] = round(time.time() - t0, 2)
    out.update(counts)
    out["live_rows_after_compact"] = read_cdc_target(spark, target).count()
    shutil.rmtree(work, ignore_errors=True)
    return out


def media_decode_probe(spark, n_images: int = 10_000, size: int = 64) -> dict:
    """Pixel-decode throughput of the stdlib PNG/BMP feature path at
    corpus scale (round-9 verdict: the per-pixel Python loops were
    fixture-grade; the numpy scanline vectorization must be measured, not
    asserted). Synthesizes ``n_images`` distinct 8-bit RGB PNGs of
    ``size``×``size`` with scanline filters cycling 0-4 (worst case: 2/5
    of rows take the sequential Average/Paeth lane) plus the same count
    of 24-bit BMPs, and times ``extract_features(stdlib_content_decoder)``
    over each — the REAL mapInPandas pipeline including per-row sha256
    and error isolation. Pixel bytes are random (decode cost is
    value-independent; correctness is the differential pytests' job)."""
    import zlib

    import numpy as np

    from database_migration_spark.operators.multimodal import (
        extract_features,
        stdlib_content_decoder,
    )

    rng = np.random.default_rng(9)
    stride = size * 3

    def png(i: int) -> bytes:
        import struct

        body = bytearray()
        for r in range(size):
            body.append(r % 5)  # filter type: cycle None/Sub/Up/Avg/Paeth
            body += rng.integers(0, 256, stride, dtype=np.uint8).tobytes()

        def chunk(typ, data):
            return (struct.pack(">I", len(data)) + typ + data
                    + struct.pack(">I", zlib.crc32(typ + data)))

        ihdr = struct.pack(">IIBBBBB", size, size, 8, 2, 0, 0, 0)
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(bytes(body), 1))
                + chunk(b"IEND", b""))

    def bmp(i: int) -> bytes:
        import struct

        pad = (-stride) % 4
        body = b"".join(
            rng.integers(0, 256, stride, dtype=np.uint8).tobytes()
            + b"\x00" * pad
            for _ in range(size)
        )
        hdr = (b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
               + struct.pack("<IiiHHIIiiII", 40, size, size, 1, 24, 0,
                             len(body), 2835, 2835, 0, 0))
        return hdr + body

    out: dict = {"n_images": n_images, "size": size}
    for tag, maker, mtype in (("png", png, "image/png"),
                              ("bmp", bmp, "image/bmp")):
        rows = [(i, mtype, maker(i)) for i in range(n_images)]
        df = spark.createDataFrame(
            rows, "media_id LONG, media_type STRING, payload BINARY"
        ).repartition(32)
        df.persist().count()  # materialize: time the decode, not the gen
        t0 = time.time()
        feats = extract_features(df, stdlib_content_decoder)
        n_err = feats.where("error IS NOT NULL").count()
        wall = time.time() - t0
        df.unpersist()
        out[tag] = {
            "sec": round(wall, 2),
            "images_per_sec": round(n_images / wall),
            "errors": n_err,
        }
    return out


def zorder_lifecycle_probe(spark, n_appends: int = 8) -> dict:
    """Append-heavy growth on a stored z-order grid at x100 (10 M events,
    key = (user_id, epoch-µs), the round-10 one-shot study's geometry):
    base write over the first 80% of the time range, then time-ordered
    append epochs over the rest — every value ABOVE the stored e-bound,
    so the quantizer clamp parks them in the top cell — then a compact
    re-cluster with fresh bounds (what `compact --zorder` runs). At each
    stage: file count, mean per-file span fraction (zorder_span_report)
    and the planner's replayed skip fraction for a 3% range predicate on
    each dimension (pruning_fraction; the e predicate targets OLD data —
    the time-travel query appends must not break). This is the numbers
    leg of the claim "appends degrade pruning gracefully, compaction
    restores it". Wall times are one-shot (writes have no internal
    persists; the shapes, not the seconds, are the record)."""
    import shutil

    from pyspark.sql import functions as F

    from database_migration_spark.functions.time import epoch_us_wall
    from database_migration_spark.operators.layout import (
        file_span_stats,
        pruning_fraction,
        zorder_append,
        zorder_span_report,
        zorder_write,
    )

    if not os.path.exists(os.path.join(OUT100, "events.parquet")):
        generate(spark, OUT100, 100, tables=("events",))
    ev = spark.read.parquet(os.path.join(OUT100, "events.parquet")).select(
        F.col("user_id").cast("long").alias("u"),
        epoch_us_wall("ts").alias("e"),
    )
    b = ev.agg(
        F.min("e"), F.max("e"), F.min("u"), F.max("u"), F.count("*")
    ).collect()[0]
    e_lo, e_hi, u_lo, u_hi, n_rows = (
        int(b[0]), int(b[1]), int(b[2]), int(b[3]), int(b[4]),
    )
    cut = e_lo + (e_hi - e_lo) * 8 // 10  # base = first 80% of time

    def mid_range(a: int, z: int, permille: int = 30) -> tuple:
        span = z - a + 1
        w = max(1, span * permille // 1000)
        s = a + (span - w) // 2
        return s, s + w - 1

    u_q = mid_range(u_lo, u_hi)
    e_q = mid_range(e_lo, cut - 1)  # an old-time-range scan

    root = os.path.join(os.path.dirname(OUT100), "zorder_life")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, "layout")

    def stage(p: str) -> dict:
        rep = zorder_span_report(p, ["u", "e"])
        stats = file_span_stats(p, ["u", "e"])
        return {
            "files": rep["files"],
            "span_u": rep["u"],
            "span_e": rep["e"],
            "skip_u_3pct": round(pruning_fraction(stats, "u", *u_q), 3),
            "skip_e_3pct_old": round(
                pruning_fraction(stats, "e", *e_q), 3
            ),
        }

    out = {"rows": n_rows}
    t0 = time.time()
    zorder_write(ev.where(F.col("e") < cut), path, ["u", "e"], n_files=52)
    out["base_write_sec"] = round(time.time() - t0, 3)
    out["after_base"] = stage(path)

    slice_w = max(1, (e_hi - cut + 1) // n_appends)
    append_secs = []
    for i in range(n_appends):
        s = cut + i * slice_w
        t = e_hi + 1 if i == n_appends - 1 else s + slice_w
        batch = ev.where((F.col("e") >= s) & (F.col("e") < t))
        t0 = time.time()
        zorder_append(batch, path)
        append_secs.append(round(time.time() - t0, 3))
    out["append_secs"] = append_secs
    out["after_appends"] = stage(path)

    grown = spark.read.parquet(path)
    cpath = os.path.join(root, "compacted")
    t0 = time.time()
    zorder_write(grown, cpath, ["u", "e"], n_files=64)
    out["compact_sec"] = round(time.time() - t0, 3)
    out["after_compact"] = stage(cpath)
    shutil.rmtree(root, ignore_errors=True)
    return out


def cdc_surgical_probe(spark, partitions: int = 256) -> dict:
    """The round-9 asymptote fix, measured: a 15 M-key (×100) CDC target
    maintained in the key-hash-partitioned layout
    (stream_cdc_apply(partitions=N)) vs the plain full-rewrite layout.
    The claim under test: plain epochs cost ∝ |target| no matter how
    small the delta (r8 measured flat 6-7 s at ×10; at ×100 the rewrite
    is ~10× that), surgical epochs cost ∝ |delta| + |touched partitions|.
    The epoch schedule sweeps TOUCHED PARTITIONS (the cost driver —
    uniform random keys touch min(|delta|, N) partitions, so at
    production N the tiny-delta epoch touches a sliver): all partitions
    (uniform 10 %), 4 partitions, 1 partition; the plain contrast applies
    the SAME single-partition delta after its own bootstrap. Also
    re-verifies convergence (live view == batch apply_cdc over the
    distinct feed) and surgical compaction at volume.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from database_migration_spark import queries as Q
    from database_migration_spark.functions.io import pt_expr
    from database_migration_spark.operators.cdc import apply_cdc
    from database_migration_spark.streaming.delta_stream import (
        compact_cdc_target,
        read_cdc_target,
        stream_cdc_apply,
    )

    src_dir = OUT100 if os.path.exists(
        os.path.join(OUT100, "orders.parquet")
    ) else x10(spark, "orders")
    base = Q.table(spark, src_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("cust"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_totalprice").cast("double").alias("price"),
    )
    pt = pt_expr(["k"], partitions)

    # epoch schedule: bootstrap; uniform 10% (touches every partition);
    # a 4-partition delta; a 1-partition delta; a 1% delete wave (for the
    # compaction leg). seqs strictly grow so every update lands.
    def epoch_df(e: int):
        if e == 0:
            return base.select(
                "*", F.lit(1).alias("seq"), F.lit("I").alias("op")
            )
        if e == 1:
            sel = F.pmod("k", F.lit(10)) == 1
        elif e == 2:
            sel = pt.isin([3, 64, 129, 200])
        elif e == 3:
            sel = pt == 7
        else:
            return base.where(F.pmod("k", F.lit(97)) == 3).select(
                "k", "cust", "status", "price",
                F.lit(10 * e).alias("seq"), F.lit("D").alias("op"),
            )
        return base.where(sel).select(
            "k", "cust", F.lit(f"U{e}").alias("status"),
            (F.col("price") + e).alias("price"),
            F.lit(10 * e).alias("seq"), F.lit("U").alias("op"),
        )

    n_epochs = 5
    schema = epoch_df(0).schema

    def run(tag: str, n_pt):
        work = tempfile.mkdtemp(prefix=f"cdc_surgical_{tag}")
        src = os.path.join(work, "feed")
        os.makedirs(src)
        target = os.path.join(work, "target")
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        q = stream_cdc_apply(
            stream, target, ["k"], os.path.join(work, "ckpt"),
            partitions=n_pt,
        )
        epochs = []
        try:
            for e in range(n_epochs):
                delta = epoch_df(e)
                n_delta = delta.count()
                touched = delta.select(pt.alias("p")).distinct().count()
                delta.coalesce(1).write.parquet(os.path.join(src, f"e{e:02d}"))
                t0 = time.time()
                q.processAllAvailable()
                epochs.append(
                    {"epoch": e, "delta_rows": n_delta,
                     "touched_partitions": touched,
                     "sec": round(time.time() - t0, 2)}
                )
        finally:
            q.stop()
        return work, src, target, epochs

    out: dict = {"partitions": partitions, "corpus": src_dir}
    work_p, src_p, target_p, out["surgical_epochs"] = run("part", partitions)

    # convergence at volume: live view == batch apply of the distinct feed
    all_events = spark.read.parquet(src_p + "/*").distinct()
    expected = apply_cdc(base.limit(0), all_events, ["k"], "seq", "op")
    live = read_cdc_target(spark, target_p)
    out["live_rows"] = live.count()
    out["converged"] = (
        live.unionByName(expected).groupBy(*live.columns)
        .count().where(F.col("count") != 2).count() == 0
    )

    # surgical compaction: the delete wave just applied is 1% of keys →
    # ~spread partitions; expire all of them and time the pass
    t0 = time.time()
    counts = compact_cdc_target(spark, target_p, min_live_seq=10 ** 9)
    out["compact_sec"] = round(time.time() - t0, 2)
    out.update(counts)
    shutil.rmtree(work_p, ignore_errors=True)

    # plain-layout contrast: bootstrap + the SAME single-partition delta —
    # the full rewrite makes the tiny epoch cost what the bootstrap costs
    work_q = tempfile.mkdtemp(prefix="cdc_surgical_plain")
    src_q = os.path.join(work_q, "feed")
    os.makedirs(src_q)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_q + "/*")
    )
    q = stream_cdc_apply(
        stream, os.path.join(work_q, "target"), ["k"],
        os.path.join(work_q, "ckpt"),
    )
    plain = []
    try:
        for e in (0, 3):
            delta = epoch_df(e)
            n_delta = delta.count()
            delta.coalesce(1).write.parquet(os.path.join(src_q, f"e{e:02d}"))
            t0 = time.time()
            q.processAllAvailable()
            plain.append({"epoch": e, "delta_rows": n_delta,
                          "sec": round(time.time() - t0, 2)})
    finally:
        q.stop()
    out["plain_epochs"] = plain
    shutil.rmtree(work_q, ignore_errors=True)
    return out


def validate_fan_probe(spark, pairs: int = 3) -> dict:
    """Single-table ``validate_pair`` on lineitem: the gated fan decision
    (fan only when the Expand's estimated volume reaches one split)
    against a forced round-robin fan, per scale. Interleaved cold pairs
    after one discard lap per arm (clearCache + gc before every lap, the
    arm that runs first alternates); each leg reports min and median,
    whether the gate and the size-blind partition-count rule would fan,
    and the compared row count as its guard. The fan is forced by
    patching ``parallel._should_fan``, so both arms run the same
    metric plan code."""
    import statistics

    from database_migration_spark.functions import parallel
    from database_migration_spark.operators.validate import (
        METRIC_ROW_CNT,
        _pair_plan,
        validate_pair,
    )

    def fans(left, right) -> bool:
        plan = _pair_plan(left, right, "exact")[0]
        return "RoundRobin" in plan._jdf.queryExecution().executedPlan().toString()

    gate = parallel._should_fan
    legs = {}
    sf001 = os.path.join(os.path.dirname(SF01), "sf0.01")
    for leg, root in (("sf0.01", sf001), ("sf0.1", SF01),
                      ("x10", x10(spark, "lineitem"))):
        path = os.path.join(root, "lineitem.parquet")
        left, right = spark.read.parquet(path), spark.read.parquet(path)

        def lap(forced: bool) -> tuple[float, str]:
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            if forced:
                parallel._should_fan = lambda *_a, **_k: True
            try:
                t0 = time.time()
                rows, _unc = validate_pair(left, right, "lineitem")
                sec = time.time() - t0
            finally:
                parallel._should_fan = gate
            if any(r.status == "DEVIATION" for r in rows):
                raise RuntimeError(f"{leg}: lineitem deviates from itself")
            cnt = next(r for r in rows if r.metric == METRIC_ROW_CNT)
            return sec, cnt.value_a

        lap(False), lap(True)  # discard laps: page cache + JIT for both arms
        times = {False: [], True: []}
        for i in range(pairs):
            for forced in ((False, True) if i % 2 == 0 else (True, False)):
                sec, n_rows = lap(forced)
                times[forced].append(sec)
        parallel._should_fan = lambda df, target, min_bytes=0: gate(df, target)
        try:
            size_blind = fans(left, right)
        finally:
            parallel._should_fan = gate
        legs[leg] = {
            "rows": int(n_rows),
            "scan_partitions": left.rdd.getNumPartitions(),
            "gate_fans": fans(left, right),
            "size_blind_rule_fans": size_blind,
            "gated_min_sec": round(min(times[False]), 3),
            "gated_median_sec": round(statistics.median(times[False]), 3),
            "forced_fan_min_sec": round(min(times[True]), 3),
            "forced_fan_median_sec": round(statistics.median(times[True]), 3),
        }
    return legs


def main() -> int:
    from database_migration_spark import get_spark
    from database_migration_spark import queries as Q

    spark = get_spark(app_name="scale_probe")
    registry = Q.queries()
    # positional args (non-flag) restrict the probe set — iterate on one
    # operator without paying for the full sweep
    picked = [a for a in sys.argv[1:] if not a.startswith("--")]
    known = set(PROBES) | set(X100_PROBES)
    unknown = set(picked) - known
    if unknown:
        raise SystemExit(f"unknown probe name(s): {sorted(unknown)}; "
                         f"choose from {sorted(known)}")
    x100_only = set(picked) - set(PROBES)
    if x100_only and "--x100" not in sys.argv:
        raise SystemExit(
            f"{sorted(x100_only)} exist only in the --x100 set; pass --x100 "
            "(without it the run would silently measure nothing)"
        )
    probes = [n for n in PROBES if n in picked] if picked else PROBES
    if "--no-queries" in sys.argv:  # e.g. an --ann-only run
        probes = []
    if probes and "--regen" in sys.argv:
        generate(spark)
    elif probes:
        x10(spark, *TABLES)
    out = {"replicas": REPLICAS, "base_sf": 0.1, "queries": {}}
    for name in probes:
        base = time_query(spark, registry, name, SF01)
        big = time_query(spark, registry, name, OUT)
        out["queries"][name] = {
            "sf0.1_sec": round(base, 3),
            "x10_sec": round(big, 3),
            "scaling_factor": round(big / base, 2),
        }
    if "--x100" in sys.argv:
        marker100 = os.path.join(OUT100, "_GENERATED")
        if "--regen" in sys.argv or not os.path.exists(marker100):
            # every table the X100_PROBES read — a fresh run that generated
            # only a subset would crash the probe loop on a missing path
            generate(spark, OUT100, 100)
            with open(marker100, "w") as fh:
                fh.write("complete\n")
        else:
            # tables that joined the x100 set after the first generation
            missing = tuple(
                t
                for t in ("events", "embeddings", "part", "customer", "nation", "region",
                          "orders", "supplier")
                if not os.path.exists(os.path.join(OUT100, f"{t}.parquet"))
            )
            if missing:
                generate(spark, OUT100, 100, tables=missing)
        out["x100"] = {}
        x100_probes = (
            [n for n in X100_PROBES if n in picked] if picked else X100_PROBES
        )
        for name in x100_probes:
            base = time_query(spark, registry, name, SF01)
            big = time_query(spark, registry, name, OUT100)
            out["x100"][name] = {
                "sf0.1_sec": round(base, 3),
                "x100_sec": round(big, 3),
                "scaling_factor": round(big / base, 2),
            }
        # the documented 100 TB monitoring path for the count-distinct
        # Expand: HLL sketch instead of exact distinct — quantified at the
        # scale where the exact Expand dominates
        from database_migration_spark.operators import validate as V

        li100 = Q.table(spark, OUT100, "lineitem")
        out["x100"]["mig_check_lineitem_approx"] = {
            "x100_sec": round(
                time_thunk(
                    spark,
                    lambda: V.compute_metrics(
                        li100, "lineitem", distinct_mode="approx"
                    ),
                ),
                3,
            )
        }
    if "--index-demo" in sys.argv:
        # the recurring-crawl economics: a TINY batch (32 docs) deduped
        # against the x100-corpus fingerprint store (500 k docs). The
        # plain path reads the whole store; the indexed path prunes to the
        # batch's content/band-key buckets at file listing.
        from pyspark.sql import functions as F

        from database_migration_spark.operators.dedup import (
            fingerprint_store,
            incremental_dedup,
            incremental_dedup_indexed,
            write_fingerprint_index,
        )

        fp_plain = os.path.join(os.path.dirname(OUT100), "fp_plain")
        fp_index = os.path.join(os.path.dirname(OUT100), "fp_index")
        marker = fp_index + "/_GENERATED"
        if "--regen" in sys.argv or not os.path.exists(marker):
            if not os.path.exists(os.path.join(OUT100, "documents.parquet")):
                # --index-demo is standalone: build its corpus dependency
                generate(spark, OUT100, 100, tables=("documents",))
            docs100 = spark.read.parquet(os.path.join(OUT100, "documents.parquet"))
            store_fp = fingerprint_store(docs100)
            store_fp.write.mode("overwrite").parquet(fp_plain)
            write_fingerprint_index(store_fp, fp_index, buckets=256)
            spark.catalog.clearCache()
            with open(marker, "w") as fh:
                fh.write("complete\n")
        batch_docs = (
            spark.read.parquet(os.path.join(SF01, "documents.parquet"))
            .where(F.col("doc_id") < 32)
            .select((F.col("doc_id") + 900_000_000).alias("doc_id"), "text")
        )
        batch_fp = fingerprint_store(batch_docs, persist=False).persist()
        batch_fp.count()
        store = spark.read.parquet(fp_plain)
        out["index_demo"] = {
            "store_docs": store.count(),
            "batch_docs": batch_fp.count(),
            "plain_sec": round(
                time_thunk(
                    spark,
                    lambda: incremental_dedup(
                        batch_fp, spark.read.parquet(fp_plain),
                        persist_inputs=False,
                    ),
                ),
                3,
            ),
            "indexed_sec": round(
                time_thunk(
                    spark,
                    lambda: incremental_dedup_indexed(
                        spark, fp_index, batch_fp, buckets=256
                    ),
                ),
                3,
            ),
        }
        spark.catalog.clearCache()
    if "--hierarchy-x100" in sys.argv:
        # pointer doubling at the third decade. The registered query's
        # div-10 parent rule breaks on replica-offset keys (parents dangle
        # across the rep*10M bump), so the probe derives a WITHIN-replica
        # forest: parent = rep*10M + (local id) div 10 — each replica is a
        # forest isomorphic to the base corpus's, i.e. 100x nodes at the
        # SAME depth. The claim under test is the log-rounds shape: the
        # number of doubling joins is ceil(log2 depth), so 100x volume at
        # constant depth must scale ~linearly, and a DEEP chain (depth
        # 10^4) must cost ~log2(10^4)=14 rounds, not 10^4 joins.
        from pyspark.sql import functions as F

        from database_migration_spark.operators.hierarchy import flatten_hierarchy

        if not os.path.exists(os.path.join(OUT100, "customer.parquet")):
            generate(spark, OUT100, 100, tables=("customer",))

        def forest(sf_dir):
            c = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
            local = F.pmod(F.col("c_custkey"), F.lit(10_000_000))
            repb = F.col("c_custkey") - local
            return c.select(
                F.col("c_custkey").alias("id"),
                F.when(local < 10, F.lit(None).cast("long"))
                .otherwise(repb + F.expr(
                    "(c_custkey % 10000000) div 10"
                ))
                .alias("parent_id"),
            )

        out["hierarchy_x100"] = {
            "sf0.1_sec": round(
                time_thunk(spark, lambda: flatten_hierarchy(forest(SF01))), 3
            ),
            "x100_sec": round(
                time_thunk(spark, lambda: flatten_hierarchy(forest(OUT100))), 3
            ),
        }
        out["hierarchy_x100"]["scaling_factor"] = round(
            out["hierarchy_x100"]["x100_sec"]
            / out["hierarchy_x100"]["sf0.1_sec"], 2
        )
        # the log-rounds leg: one chain of depth 10^4 (worst-case depth at
        # a constant node count) — linear-chained joins would need 10^4
        # rounds; doubling needs 14
        chain = spark.range(10_000).select(
            F.col("id").alias("id"),
            F.when(F.col("id") == 0, F.lit(None).cast("long"))
            .otherwise(F.col("id") - 1)
            .alias("parent_id"),
        )
        t0 = time.time()
        deep = flatten_hierarchy(chain)
        max_depth = deep.agg({"depth": "max"}).collect()[0][0]
        out["hierarchy_x100"]["deep_chain_sec"] = round(time.time() - t0, 3)
        out["hierarchy_x100"]["deep_chain_max_depth"] = int(max_depth)
        spark.catalog.clearCache()
    if "--salt-demo-x100" in sys.argv:
        # the salt demo one decade up: 100 M fact rows, ONE key owning half
        # the volume, AQE skew split off (it splits partitions, not keys).
        # The plain join lands 50 M rows in one task; the salt spreads them
        # over 32 — at this scale the single hot task also SPILLS, so the
        # gap widens vs the 24 M-row demo.
        from pyspark.sql import functions as F

        from database_migration_spark.operators.skew import salted_join

        fact = spark.range(100_000_000).select(
            F.col("id").alias("fid"),
            F.when(F.col("id") % 2 == 0, F.lit(0))
            .otherwise(F.pmod(F.col("id"), 100_000))
            .alias("k"),
        )
        dim = spark.range(100_000).select(
            F.col("id").cast("long").alias("k"),
            F.md5(F.col("id").cast("string")).alias("dim_payload"),
        )
        prev = spark.conf.get("spark.sql.adaptive.skewJoin.enabled", "true")
        auto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            out["salt_demo_x100"] = {
                "plain_sec": round(
                    time_thunk(
                        spark,
                        lambda: fact.join(dim, "k").select("fid", "dim_payload"),
                    ),
                    3,
                ),
                "salted_32_sec": round(
                    time_thunk(
                        spark,
                        lambda: salted_join(fact, dim, ["k"], salts=32).select(
                            "fid", "dim_payload"
                        ),
                    ),
                    3,
                ),
            }
        finally:
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", prev)
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", auto)
        spark.catalog.clearCache()
    if "--skew-demo" in sys.argv:
        # pathological-skew guard, measured: the x10 corpus plus 2 000
        # copies of one boilerplate document — every copy lands in the
        # same LSH buckets, so the uncapped self-join materializes ~2M
        # candidate pairs from ONE bucket and verifies them all; the
        # max_bucket cap drops the mega-bucket (exact-dup territory) and
        # the near-dup pass returns to corpus-shaped cost.
        from pyspark.sql import functions as F

        from database_migration_spark.operators.dedup import minhash_dedup_pairs

        docs = spark.read.parquet(
            os.path.join(x10(spark, "documents"), "documents.parquet")
        )
        boiler = (
            spark.range(2000)
            .select(
                (F.col("id") + 500_000_000).alias("doc_id"),
                F.lit(
                    "subscribe to our newsletter terms of service privacy "
                    "policy all rights reserved contact us about cookies"
                ).alias("text"),
            )
        )
        skewed = docs.select("doc_id", "text").unionByName(boiler)
        out["skew_demo"] = {}
        for label, cap in (("uncapped", None), ("capped_64", 64)):
            t = time_thunk(
                spark,
                lambda: minhash_dedup_pairs(skewed, max_bucket=cap),
            )
            out["skew_demo"][f"{label}_sec"] = round(t, 3)
        out["skew_demo"]["boiler_pairs_uncapped"] = (
            minhash_dedup_pairs(skewed)
            .where("id_a >= 500000000")
            .count()
        )
        spark.catalog.clearCache()
    if "--salt-demo" in sys.argv:
        # single-key join skew, measured: 24 M fact rows where ONE key owns
        # half the volume joined to a 100 k-row dim (too big to broadcast
        # at defaults). The plain shuffle join lands the hot key's 12 M
        # rows in one task; salted_join spreads them over 32. AQE's skew
        # split is DISABLED for the comparison so the demo isolates the
        # one-key-one-bucket pathology AQE cannot split either (it splits
        # partitions, not keys; with multiple keys per bucket it helps,
        # with one mega-key the salt is the only lever).
        from pyspark.sql import functions as F

        from database_migration_spark.operators.skew import salted_join

        fact = spark.range(24_000_000).select(
            F.col("id").alias("fid"),
            F.when(F.col("id") % 2 == 0, F.lit(0))
            .otherwise(F.pmod(F.col("id"), 100_000))
            .alias("k"),
        )
        dim = spark.range(100_000).select(
            F.col("id").cast("long").alias("k"),
            F.md5(F.col("id").cast("string")).alias("dim_payload"),
        )
        prev = spark.conf.get("spark.sql.adaptive.skewJoin.enabled", "true")
        auto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            out["salt_demo"] = {
                "plain_sec": round(
                    time_thunk(
                        spark,
                        lambda: fact.join(dim, "k").select("fid", "dim_payload"),
                    ),
                    3,
                ),
                "salted_32_sec": round(
                    time_thunk(
                        spark,
                        lambda: salted_join(fact, dim, ["k"], salts=32).select(
                            "fid", "dim_payload"
                        ),
                    ),
                    3,
                ),
            }
        finally:
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", prev)
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", auto)
        spark.catalog.clearCache()
    if "--ann" in sys.argv:
        out["ann_compare"] = {
            "sf0.1": ann_compare(spark, SF01),
            "x10": ann_compare(spark, x10(spark, "embeddings")),
        }
        # a third decade for recall: buckets get denser as |corpus| grows
        # at fixed bits/centroids, so recall must be re-measured, not
        # extrapolated (embeddings x100 is only ~200k rows — cheap)
        if not os.path.exists(os.path.join(OUT100, "embeddings.parquet")):
            generate(spark, OUT100, 100, tables=("embeddings",))
        out["ann_compare"]["x100"] = ann_compare(spark, OUT100)
    if "--bm25" in sys.argv:
        out["bm25_compare"] = bm25_compare(spark)
    if "--pk-fan" in sys.argv:
        # r13 (verdict item 3): constraint_report's PK branch fans only
        # above min_bytes=128 MB — at sf0.1 the unfanned shape measured
        # faster (r12: 0.63 vs 0.80 s); this is the other half of that
        # claim: on the ×100 single-file-class input the fan must WIN.
        # Self-contained: generates its own x100 lineitem if missing.
        from pyspark.sql import functions as F  # noqa: F811

        from database_migration_spark.functions.parallel import SPLIT_BYTES, fan_out
        from database_migration_spark.operators.constraints import pk_check

        if not os.path.exists(os.path.join(OUT100, "lineitem.parquet")):
            generate(spark, OUT100, 100, tables=("lineitem",))
        li = spark.read.parquet(os.path.join(OUT100, "lineitem.parquet"))
        keys = ["l_orderkey", "l_linenumber"]

        def gated():  # the production gate (at x100 it correctly NO-OPs: ~100 scan partitions already)
            return pk_check(li, "lineitem", "LINEITEM_PK", keys)

        def unfanned():  # the sf0.1 winner, forced at x100
            non_null = " AND ".join(f"`{k}` IS NOT NULL" for k in keys)
            tup = (
                "named_struct('l_orderkey', `l_orderkey`, "
                "'l_linenumber', `l_linenumber`)"
            )
            return li.selectExpr(keys).agg(
                F.expr("bigint(count(1)) AS n_rows"),
                F.expr(
                    f"bigint(count(DISTINCT CASE WHEN {non_null} THEN {tup}"
                    " END)) AS n_distinct"
                ),
            )

        fanned_df = fan_out(li.selectExpr(keys), key=keys, min_bytes=SPLIT_BYTES)
        # interleaved cold pairs: a sequential A-then-B ordering hands B
        # the page cache A just warmed (first run recorded a 2x phantom).
        g_laps, u_laps = [], []
        cold_thunk(spark, gated, laps=1)  # one discard lap warms the fs cache for BOTH arms
        for _ in range(3):
            g_laps.append(cold_thunk(spark, gated, laps=1))
            u_laps.append(cold_thunk(spark, unfanned, laps=1))
        out["pk_fan_x100"] = {
            "gate_fans": "Exchange" in fanned_df._jdf.queryExecution()
            .executedPlan().toString(),
            "gated_sec": round(min(g_laps), 3),
            "unfanned_sec": round(min(u_laps), 3),
        }
    if "--validate-fan" in sys.argv:
        out["validate_fan"] = validate_fan_probe(spark)
    if "--overlap" in sys.argv:
        out["overlap"] = overlap_probe(
            spark, Q, with_x100="--x100" in sys.argv
        )
    if "--cdc-stream" in sys.argv:
        out["cdc_stream"] = cdc_stream_probe(spark)
    if "--cdc-surgical" in sys.argv:
        out["cdc_surgical"] = cdc_surgical_probe(spark)
    if "--zorder-lifecycle" in sys.argv:
        out["zorder_lifecycle"] = zorder_lifecycle_probe(spark)
    if "--guards" in sys.argv:
        # the two round-11 operators with internal persists (excluded
        # from the registry sweep — see the PROBES comment): dedicated
        # min-of-cold-laps rows. join_cardinality's per-key count
        # relations and image dhash's banded chunk relation both persist,
        # so cold laps are the only honest measurement.
        from database_migration_spark.operators.advisor import (
            join_cardinality,
        )

        # lineitem, the image corpus and every coherent-subset table
        x10(spark, "embeddings", "orders", "lineitem", "customer", "part",
            "supplier", "nation", "region")
        li01 = spark.read.parquet(os.path.join(SF01, "lineitem.parquet"))
        li10 = spark.read.parquet(os.path.join(OUT, "lineitem.parquet"))
        jc = {
            "sf0.1_sec": round(
                cold_thunk(
                    spark,
                    lambda: join_cardinality(li01, li01, ["l_partkey"]),
                ),
                3,
            ),
            "x10_sec": round(
                cold_thunk(
                    spark,
                    lambda: join_cardinality(li10, li10, ["l_partkey"]),
                ),
                3,
            ),
        }
        jc["scaling_factor"] = round(jc["x10_sec"] / jc["sf0.1_sec"], 2)
        out["join_cardinality_cold"] = jc
        img = {
            "sf0.1_sec": round(
                cold_thunk(
                    spark,
                    lambda: registry["image_near_dup_media"](spark, SF01),
                ),
                3,
            ),
            "x10_sec": round(
                cold_thunk(
                    spark,
                    lambda: registry["image_near_dup_media"](spark, OUT),
                ),
                3,
            ),
        }
        img["scaling_factor"] = round(
            img["x10_sec"] / img["sf0.1_sec"], 2
        )
        # row-count guard (the derived-corpus vacuity rule): the x10
        # embeddings are sign-flip replicas, so the planted %20 variants
        # must pair at 10x the base rate — a zero here means the probe
        # measured nothing
        img["x10_pairs"] = registry["image_near_dup_media"](
            spark, OUT
        ).count()
        out["image_near_dup_cold"] = img
        # coherent subset: internal persists (the root/cascade kept
        # relations feed several branches) → cold laps again. The
        # derived corpus is FK-coherent for this probe since round 11
        # (orders' o_custkey bump matches customer's 10M; nation/region
        # are passthrough dims) — the per-table kept counts below are
        # the non-vacuity guard (a dangling-FK corpus would close over
        # near-empty dims)
        sub = {
            "sf0.1_sec": round(
                cold_thunk(
                    spark,
                    lambda: registry["coherent_subset_testdata"](
                        spark, SF01
                    ),
                ),
                3,
            ),
            "x10_sec": round(
                cold_thunk(
                    spark,
                    lambda: registry["coherent_subset_testdata"](
                        spark, OUT
                    ),
                ),
                3,
            ),
        }
        sub["scaling_factor"] = round(
            sub["x10_sec"] / sub["sf0.1_sec"], 2
        )
        sub["x10_kept"] = {
            r.tbl: int(r.n_rows)
            for r in registry["coherent_subset_testdata"](
                spark, OUT
            ).collect()
        }
        out["coherent_subset_cold"] = sub
        if "--x100" in sys.argv:
            # third decade for the guards (needs the x100 corpus from
            # the main --x100 path or generated here on demand)
            for t in ("lineitem", "embeddings"):
                if not os.path.exists(os.path.join(OUT100, f"{t}.parquet")):
                    generate(spark, OUT100, 100, tables=(t,))
            li100 = spark.read.parquet(
                os.path.join(OUT100, "lineitem.parquet")
            )
            out["join_cardinality_cold"]["x100_sec"] = round(
                cold_thunk(
                    spark,
                    lambda: join_cardinality(li100, li100, ["l_partkey"]),
                ),
                3,
            )
            out["image_near_dup_cold"]["x100_sec"] = round(
                cold_thunk(
                    spark,
                    lambda: registry["image_near_dup_media"](
                        spark, OUT100
                    ),
                ),
                3,
            )
            out["image_near_dup_cold"]["x100_pairs"] = registry[
                "image_near_dup_media"
            ](spark, OUT100).count()
    if "--image-index" in sys.argv:
        # the round-12 incremental image store: a crawl batch probed
        # against the prebuilt hamming index must cost like the BATCH,
        # while the index-free path self-joins the whole corpus's
        # signatures every time (and a real crawl would re-hash its
        # pixels on top). Signatures are materialized to parquet FIRST
        # so cold laps time the probe/join, not the BMP synthesis.
        import shutil

        from database_migration_spark.operators.dedup import (
            hamming_dedup_indexed,
            hamming_near_pairs,
            write_hamming_index,
        )
        from database_migration_spark.operators.multimodal import (
            perceptual_dhash,
        )
        from database_migration_spark.queries import synth_media

        x10(spark, "embeddings")
        # self-contained study (the --zorder-lifecycle convention): both
        # decades run without --x100, which would otherwise drag the
        # whole main x100 probe sweep along; the x100 embeddings
        # generate on demand below
        leg = {}
        for tag, src in (("x10", OUT), ("x100", OUT100)):
            if not os.path.exists(os.path.join(src, "embeddings.parquet")):
                generate(spark, src, 100, tables=("embeddings",))
            sig_dir = os.path.join(os.path.dirname(OUT),
                                   f"img_sigs_{tag}")
            if not os.path.exists(os.path.join(sig_dir, "_SUCCESS")):
                perceptual_dhash(synth_media(spark, src)).where(
                    "error IS NULL"
                ).select("id", "sig_lo", "sig_hi").write.mode(
                    "overwrite"
                ).parquet(sig_dir)
            sigs = spark.read.parquet(sig_dir)
            idx_path = os.path.join(os.path.dirname(OUT),
                                    f"img_idx_{tag}")
            # buckets sized to the corpus (the write_fingerprint_index
            # sizing rule); partition pruning only bites when the
            # probe's |batch|·chunks key set undersamples them, so the
            # leg measures BOTH batch shapes (see below)
            buckets = 64 if tag == "x10" else 256
            shutil.rmtree(idx_path, ignore_errors=True)
            t0 = time.time()
            write_hamming_index(sigs.where("id >= 0"), idx_path,
                                buckets=buckets)
            build = time.time() - t0
            # full batch = every planted negative (each matches its
            # base — the near_dup count is the non-vacuity guard);
            # tiny batch = the streaming-epoch shape, where the bucket
            # IN predicate actually prunes
            tiny = "id < 0 AND id >= -401"
            row = {
                "corpus_n": sigs.where("id >= 0").count(),
                "batch_n": sigs.where("id < 0").count(),
                "tiny_batch_n": sigs.where(tiny).count(),
                "buckets": buckets,
                "index_build_sec": round(build, 3),
                "indexed_probe_cold_sec": round(
                    cold_thunk(
                        spark,
                        lambda: hamming_dedup_indexed(
                            spark, idx_path,
                            spark.read.parquet(sig_dir).where("id < 0"),
                        ),
                    ),
                    3,
                ),
                "tiny_probe_cold_sec": round(
                    cold_thunk(
                        spark,
                        lambda: hamming_dedup_indexed(
                            spark, idx_path,
                            spark.read.parquet(sig_dir).where(tiny),
                        ),
                    ),
                    3,
                ),
                "sig_selfjoin_cold_sec": round(
                    cold_thunk(
                        spark,
                        lambda: hamming_near_pairs(
                            spark.read.parquet(sig_dir)
                        ),
                    ),
                    3,
                ),
            }
            from database_migration_spark.operators.dedup import (
                _hamming_chunks,
            )
            from pyspark.sql import functions as SF

            row["tiny_buckets_touched"] = (
                _hamming_chunks(sigs.where(tiny), 64, 3)
                .select(
                    SF.pmod(SF.hash("ci", "ck"), SF.lit(buckets))
                    .alias("b")
                )
                .distinct()
                .count()
            )
            row["probe_near_dup"] = (
                hamming_dedup_indexed(
                    spark, idx_path, sigs.where("id < 0")
                ).where("status = 'near_dup'").count()
            )
            leg[tag] = row
        out["image_index_probe"] = leg

    if "--media-decode" in sys.argv:
        out["media_decode"] = media_decode_probe(spark)
    if "--semantic-bits" in sys.argv:
        # semantic dedup's own scale rule: cells (2^bits) must grow with N
        # to hold E|cell| — and with it the within-cell quadratic term —
        # constant. Measure the knob: fixed 8 bits at 10x data vs the
        # log2-scaled 11 bits (cell population back at the sf0.1 level).
        sd = Q.QUERIES["semantic_dedup_embeddings"]
        x10(spark, "embeddings")
        out["semantic_bits_x10"] = {
            "bits8_sec": round(time_thunk(spark, lambda: sd(spark, OUT, bits=8)), 3),
            "bits11_sec": round(time_thunk(spark, lambda: sd(spark, OUT, bits=11)), 3),
        }
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
