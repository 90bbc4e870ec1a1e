"""Deduplication operators for large corpora: exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup.

Scale design (the whole point of these):

- *Exact*: groupBy(fingerprint) — one shuffle keyed by a 128-bit hash, keys
  are unique-ish so no skew; the winner-per-group is a min() aggregate, not a
  window, so it map-side combines.
- *MinHash+LSH*: signatures are computed scan-side (explode shingles →
  groupBy doc → min per permutation), then banded; candidate pairs come from
  a self-join on (band, band_hash) buckets — the shuffle is on bucket keys,
  and only bucket-colliding pairs are ever materialized, never the O(n²)
  cross product. Verification (exact Jaccard on shingle sets) touches only
  candidates.
- *SimHash*: 64-bit signature (two 32-bit halves) from token-hash bit
  votes; buckets by max_hamming+1 = 4 chunks of 16 bits (pigeonhole:
  hamming ≤ h ⇒ one exact chunk match), so near-dup search is h+1
  equi-joins on 65536-key buckets, not a cross join.
- *Embedding near-dup*: similarity.embedding_near_dup_pairs_bucketed
  (hyperplane-LSH buckets, exact-cosine verify on candidates only).

All hashing is md5-based (functions.hashing) so an external SQL oracle can
replay every step bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from database_migration_spark.functions import store_meta
from database_migration_spark.functions.io import build_store, publish_partitions
from database_migration_spark.functions.hashing import (
    md5_long,
    md5_long_spark_sql,
    minhash_permuted_sql,
    permutation_params,
)
from database_migration_spark.functions.text_exprs import char_shingles, normalize_text

# The one owner of the index defaults: the writers' signatures, the
# probers' resolution of a legacy (meta-less) index and the CLI all read
# them here. shingle_k/seed are the signing parameters the CLI stores.
INDEX_DEFAULTS = {
    "num_perm": 32, "bands": 4, "buckets": 64, "shingle_k": 5, "seed": 42,
}
HAMMING_DEFAULTS = {"bits": 64, "max_hamming": 3, "buckets": 64}


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    pre_normalized: bool = False,
) -> DataFrame:
    """Exact dedup on normalized text: one row per distinct content, keeping
    the smallest id (deterministic winner) plus the duplicate count.

    Returns (fingerprint, keep_id, dup_cnt). Filter ``dup_cnt > 1`` for the
    duplicate groups; join back on fingerprint to drop losers.

    ``pre_normalized=True`` skips the internal normalization:
    ``text_col`` must already hold ``normalize_text`` output (the
    annotate_corpus shared-normalization path — one regex pass feeds
    dedup AND contamination). The fingerprint is identical either way.
    """
    from database_migration_spark.functions.parallel import fan_out

    df = fan_out(df)
    src = (
        F.col(text_col) if pre_normalized else normalize_text(F.col(text_col))
    )
    fp = F.md5(src)
    return (
        df.select(fp.alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_cnt"),
        )
    )


def shingle_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 5
) -> DataFrame:
    """(id, shingle_hash) — exploded distinct k-shingles, hashed to 60-bit
    ints. The base relation for both minhash and exact Jaccard.

    Normalization is materialized behind a persist boundary: the cached
    InMemoryRelation is a projection barrier Catalyst can't collapse
    through, so the regex pass runs once per document — inlining it into
    the shingle lambda would re-run it per shingle, O(len²) per doc (5x
    slower end-to-end at sf0.1). The fan_out happens BEFORE the regex, so
    normalization itself runs on every core (the raw text moves once, tiny).

    Per-doc shingle uniqueness comes from array_distinct on the raw
    shingles; no post-hash ``.distinct()`` pass is needed (it was a full
    extra shuffle of the relation). The SQL oracle dedups on (id, hash)
    instead — the two differ only if two distinct shingles of one doc
    collide in 60-bit md5 space (~2^-43 per doc at 200k shingles), which
    also makes the |A∩B| counts collision-exact on both sides.
    """
    norm = _normalized_text(df, text_col, id_col)
    return _shingle_hashes(norm, k)


def _normalized_text(
    df: DataFrame, text_col: str, id_col: str, persist: bool = True
) -> DataFrame:
    """(id, _t) — fanned-out normalized text behind a persist boundary (the
    projection barrier the shingle_sets docstring explains). The single
    normalization pass shared by shingle_sets and fingerprint_store."""
    from pyspark import StorageLevel

    from database_migration_spark.functions.parallel import fan_out

    raw = fan_out(df.select(F.col(id_col).alias("id"), F.col(text_col)))
    norm = raw.select("id", normalize_text(F.col(text_col)).alias("_t"))
    return norm.persist(StorageLevel.MEMORY_AND_DISK) if persist else norm


def _shingle_hashes(norm: DataFrame, k: int) -> DataFrame:
    """(id, h) distinct k-shingle 60-bit hashes of a normalized relation."""
    from database_migration_spark.functions.text_exprs import (
        char_shingles_pre_normalized,
    )

    from database_migration_spark.functions.text_exprs import (
        char_shingles_pre_normalized_spark_sql,
    )

    # two selectExpr bundles (r12 convention): the HOF transform + explode
    # + md5 Column chain was ~20 py4j round-trips per call
    return norm.selectExpr(
        "id",
        "explode(array_distinct("
        + char_shingles_pre_normalized_spark_sql("_t", k)
        + ")) AS sh",
    ).selectExpr("id", f"{md5_long_spark_sql('sh')} AS h")


def minhash_signatures(
    shingles: DataFrame, num_perm: int = 32, seed: int = 42
) -> DataFrame:
    """(id, sig_0..sig_{n-1}) minhash signature — one groupBy over the
    exploded shingle relation computing all permutations' mins in a single
    aggregate (map-side combined; no per-permutation passes).

    The aggregate expressions are rendered as SQL text (ONE ``F.expr`` per
    output column, the same ``minhash_permuted_sql`` source the DuckDB
    oracles use) instead of per-permutation Column arithmetic: each Column
    operator is a py4j round-trip, and 32 permutations × 6 ops cost ~0.6 s
    of pure driver time per plan build (r12 opt round, guide §5 — the
    driver is part of the query)."""
    params = permutation_params(num_perm, seed)
    aggs = [
        F.expr(f"min({minhash_permuted_sql('h', a, b)}) AS sig_{i}")
        for i, (a, b) in enumerate(params)
    ]
    return shingles.groupBy("id").agg(*aggs)


def banded_keys(
    signatures: DataFrame, num_perm: int = 32, bands: int = 4
) -> DataFrame:
    """(id, band, key) — the LSH band buckets of a signature relation
    (key = md5 over the band's rows_per_band signature components).

    Rendered as ONE ``inline(array(named_struct(...)))`` selectExpr —
    the per-band struct/concat Column construction was ~0.3 s of py4j
    round-trips per plan build (r12 opt round)."""
    rows = num_perm // bands
    structs = []
    for b in range(bands):
        casts = ", ".join(
            f"cast(sig_{b * rows + r} as string)" for r in range(rows)
        )
        structs.append(
            f"named_struct('band', {b}, 'key', md5(concat_ws('_', {casts})))"
        )
    return signatures.selectExpr("id", f"inline(array({', '.join(structs)}))")


def lsh_candidate_pairs(
    signatures: DataFrame,
    num_perm: int = 32,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the signature and self-join on (band_idx, band_key) buckets.

    rows_per_band = num_perm // bands (default 4x8: LSH threshold
    (1/b)^(1/r) ~= 0.84 — tuned for near-dup thresholds >= 0.8; wider
    bands admit quadratically many false candidates on corpora with heavy
    vocabulary overlap). Pairs are emitted once (id_a < id_b),
    deduplicated across bands. The join is a plain shuffle-hash join on the
    bucket key — at 100 TB, bucket skew (a boilerplate shingle bucket with
    millions of docs) is the risk; AQE skew-join splitting handles moderate
    skew and the band key includes all rows_per_band mins, which keeps
    buckets tight.

    ``max_bucket`` is the hard guard for pathological skew: buckets with
    more members are DROPPED before the self-join (a bucket of m docs
    contributes m² candidate pairs — one boilerplate bucket with 10⁶ docs
    is 10¹² pairs and takes the job down). Production dedup pipelines cap
    mega-buckets exactly this way; members of an oversized bucket usually
    still pair through their other, tighter bands, and a bucket THAT
    common is boilerplate the exact-dup pass already collapses. None (the
    default) keeps exhaustive semantics for oracle-checked paths.
    """
    banded = banded_keys(signatures, num_perm, bands)
    if max_bucket is not None:
        banded = _cap_buckets(banded, ["band", "key"], max_bucket)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "key"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def _cap_buckets(
    df: DataFrame,
    key_cols: list,
    max_bucket: int,
    distinct_col: str | None = None,
) -> DataFrame:
    """Drop rows whose bucket (the ``key_cols`` group) exceeds
    ``max_bucket`` members — the shared mega-bucket guard of
    :func:`lsh_candidate_pairs` and :func:`simhash_near_pairs`. The capped
    relation feeds BOTH sides of a self-join, so it is persisted here
    (multi-consumer rule: without it the bucket-count window re-runs once
    per join side — on exactly the pathological corpora the cap exists
    for).

    ``distinct_col``: count DISTINCT values of this column per bucket
    instead of rows. The positioned deletion-variant relations need it
    (round-9 review): a repeated-char string contributes one row per
    position to the same variant bucket, so a row count would inflate
    past ``max_bucket`` and silently drop blocks — and true lev-1 pairs —
    that the per-string calibration admits."""
    from pyspark import StorageLevel

    if distinct_col is not None:
        sizes = (
            df.select(*key_cols, distinct_col)
            .distinct()
            .groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("_bucket_n"))
        )
        kept = sizes.where(F.col("_bucket_n") <= max_bucket).drop("_bucket_n")
        return df.join(kept, list(key_cols)).persist(
            StorageLevel.MEMORY_AND_DISK
        )
    from pyspark.sql import Window

    cnt = F.count(F.lit(1)).over(Window.partitionBy(*key_cols))
    return (
        df.withColumn("_bucket_n", cnt)
        .where(F.col("_bucket_n") <= max_bucket)
        .drop("_bucket_n")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def exact_jaccard(
    shingles: DataFrame, pairs: DataFrame, persist: bool = True
) -> DataFrame:
    """Exact Jaccard via the shingle relation: |A∩B| from shingle-hash
    matches, |A∪B| = |A|+|B|-|A∩B|.

    With candidate ``pairs`` the intersection join is DRIVEN BY the pairs
    (pair ⋈ A-shingles ⋈ B-shingles): cost is |pairs| × shingles-per-doc,
    independent of how many documents share a common shingle. Joining the
    shingle relation to itself first (and filtering to candidates after)
    costs Σ_h cnt(h)² — quadratic in corpus size on common shingles — and
    is only used for the pairs=None ground-truth mode.

    Jaccard is returned as exact integer permille (floor(j*1000)) — engine-
    portable, no float rounding ambiguity.
    """
    if pairs is not None:
        from pyspark import StorageLevel

        # candidate docs are a small fraction of the corpus at real dup
        # rates, but sizes/sa/sb over the FULL shingle relation each
        # shuffle every doc's shingles — measured ~11s of a 15s x10
        # minhash run. Semi-join the shingle relation down to candidate
        # ids first (AQE broadcasts the id set when small, falls back to
        # a shuffle join when a pathological candidate volume would not
        # fit a broadcast); every downstream shuffle then moves only
        # candidate shingles. Persisted: three consumers (sizes + both
        # intersection-join sides) — gated by ``persist`` so per-epoch
        # callers (the streaming persist-leak rule) can opt out.
        cand_ids = (
            pairs.select(F.col("id_a").alias("id"))
            .union(pairs.select(F.col("id_b").alias("id")))
            .distinct()
        )
        shingles = shingles.join(cand_ids, "id", "left_semi")
        if persist:
            shingles = shingles.persist(StorageLevel.MEMORY_AND_DISK)
    sizes = shingles.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    if pairs is not None:
        sa = shingles.select(F.col("id").alias("id_a"), F.col("h").alias("ha"))
        sb = shingles.select(F.col("id").alias("_id_b"), F.col("h").alias("hb"))
        cand = (
            pairs.join(sa, "id_a")
            .join(
                sb,
                (F.col("id_b") == F.col("_id_b")) & (F.col("ha") == F.col("hb")),
            )
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        a = shingles.alias("sa")
        b = shingles.alias("sb")
        cand = (
            a.join(b, F.col("sa.h") == F.col("sb.h"))
            .where(F.col("sa.id") < F.col("sb.id"))
            .groupBy(F.col("sa.id").alias("id_a"), F.col("sb.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    return (
        cand.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.floor(
                F.col("inter") * F.lit(1000) / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            )
            .cast("long")
            .alias("jaccard_permille"),
        )
    )


def _persisted_shingles(
    df: DataFrame, text_col: str, id_col: str, k: int, persist: bool
) -> DataFrame:
    """The shingle relation is consumed several times per pipeline
    (signatures, sizes, both sides of the verify join). Materialize it once
    — MEMORY_AND_DISK, the right call at 100 TB too: spilling beats
    re-running normalize+shingle+md5 per consumer. The cache lives until
    Spark's LRU evicts it (lazy operators cannot know when their caller is
    done); pass persist=False to opt out."""
    from pyspark import StorageLevel

    sh = shingle_sets(df, text_col, id_col, k)
    return sh.persist(StorageLevel.MEMORY_AND_DISK) if persist else sh


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    threshold_permille: int = 500,
    persist: bool = True,
) -> DataFrame:
    """Brute-ish n-gram Jaccard: intersection join on shingle hashes (only
    docs sharing ≥1 shingle are paired — far smaller than a cross join on
    real corpora), then threshold. The oracle-checkable ground truth that
    minhash approximates."""
    sh = _persisted_shingles(df, text_col, id_col, k, persist)
    return exact_jaccard(sh, None).where(
        F.col("jaccard_permille") >= threshold_permille
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    num_perm: int = 32,
    bands: int = 4,
    threshold_permille: int = 500,
    seed: int = 42,
    persist: bool = True,
    max_bucket: int | None = None,
) -> DataFrame:
    """Full MinHash+LSH pipeline: shingle → sign → band → candidate pairs →
    exact-Jaccard verify → threshold. Output (id_a, id_b, jaccard_permille).
    ``max_bucket`` drops pathological LSH mega-buckets before the self-join
    (see :func:`lsh_candidate_pairs`) — the 100 TB skew guard; leave None
    for exhaustive (oracle-comparable) semantics."""
    sh = _persisted_shingles(df, text_col, id_col, k, persist)
    sigs = minhash_signatures(sh, num_perm, seed)
    if persist:
        from pyspark import StorageLevel

        # both banded-join sides consume the signatures, and the bucket
        # join broadcasts one side — no shuffle exchange for
        # ReusedExchange to share, so without this the num_perm-min
        # aggregate over the full shingle relation runs twice (verified:
        # 64 partial_min exprs in the unpersisted plan). One row per doc,
        # num_perm longs — the cheapest cache in the pipeline.
        sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    cands = lsh_candidate_pairs(sigs, num_perm, bands, max_bucket=max_bucket)
    if persist:
        # exact_jaccard consumes the candidate relation three times (both
        # arms of its cand_ids union plus the intersection-join driver);
        # the banded self-join + pair-distinct otherwise re-runs per
        # consumer — ReusedExchange covers only the pre-join exchange, not
        # the join + distinct aggregation above it. Tiny relation (one row
        # per candidate pair), real saving (the full bucket self-join).
        cands = cands.persist(StorageLevel.MEMORY_AND_DISK)
    return exact_jaccard(sh, cands, persist=persist).where(
        F.col("jaccard_permille") >= threshold_permille
    )


def benchmark_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    corpus_norm_col: str | None = None,
) -> DataFrame:
    """Test-set decontamination scan: per corpus document, the fraction of
    its k-char shingles that appear anywhere in the benchmark corpus
    (containment, not Jaccard — a training doc that embeds a whole
    benchmark item scores high even if the doc is much longer).

    Output (doc_id, n_shingles, n_overlap, contamination_ppm).

    Scale shape: the benchmark side is reduced to its DISTINCT shingle
    hashes — benchmarks are tiny next to a 100 TB corpus, so this side is
    broadcast and the probe is a map-side join against the corpus shingle
    stream; no corpus-wide shuffle on the shingle key. The per-doc
    aggregation shuffles on doc id only.

    ``corpus_norm_col``: name of a column already holding ``normalize_text``
    output (the annotate_corpus shared-normalization path — skips this
    operator's internal fan_out + normalize; a narrow (id, _t) persist
    REMAINS as the warm-re-execution barrier downstream of the caller's
    joins). The column MUST come from a materialization barrier (a
    persisted relation): the shingle transform references it once per
    shingle, and an inline normalize expression would re-evaluate per
    element — the round-9b O(len²) projection-collapse trap. Batch
    pipelines only: like the internal path's persist, the narrow cache
    entry is never unpersisted, so per-epoch (foreachBatch) callers must
    stay on the default path (the streaming persist-leak rule).
    """
    from database_migration_spark.functions.text_exprs import (
        char_shingles_pre_normalized_spark_sql,
        normalize_text_spark_sql,
    )

    if corpus_norm_col is not None:
        from pyspark import StorageLevel

        # persisted for the same reason _normalized_text persists on the
        # internal path: the narrow (id, _t) relation sits DOWNSTREAM of
        # the caller's filters/joins, so warm re-executions (bench laps,
        # multi-action sessions) skip that upstream work instead of
        # replaying it per action
        corpus_sh = _shingle_hashes(
            corpus.select(
                F.col(id_col).alias("id"), F.col(corpus_norm_col).alias("_t")
            ).persist(StorageLevel.MEMORY_AND_DISK),
            k,
        )
    else:
        corpus_sh = shingle_sets(corpus, text_col, id_col, k)
    # benchmark side: same normalize→array_distinct(shingles)→md5 chain as
    # shingle_sets, but row-local behind the lambda-variable barrier
    # (transform(array(e), t -> ...) evaluates the normalize ONCE per row)
    # instead of fan_out + persist — the side is benchmark-sized, and the
    # two exchanges cost more than they parallelize (r12: bench side
    # 0.50 s of the 1.33 s probe at sf0.1)
    bench_sh = (
        benchmark.selectExpr(
            "explode(transform("
            f"array({normalize_text_spark_sql(f'`{text_col}`')}),"
            f" t -> array_distinct({char_shingles_pre_normalized_spark_sql('t', k)})"
            ")) AS shs"
        )
        .selectExpr("explode(shs) AS sh")
        .selectExpr(f"{md5_long_spark_sql('sh')} AS h")
        .distinct()
    )
    hit = F.broadcast(bench_sh.withColumn("_hit", F.lit(1)))
    joined = corpus_sh.join(hit, "h", "left")
    return (
        joined.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_overlap"),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.col("n_overlap").cast("long").alias("n_overlap"),
            F.floor(F.col("n_overlap") * F.lit(1_000_000) / F.col("n_shingles"))
            .cast("long")
            .alias("contamination_ppm"),
        )
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    max_iter: int = 25,
) -> DataFrame:
    """Cluster assignment over near-dup pairs: each node gets
    ``cluster_id`` = the minimum node id in its connected component
    (singletons keep their own id).

    Min-label propagation: labels start as own id; each round every node
    takes the min of its own and its neighbors' labels; stop when the
    label sum stops falling (labels only decrease, so equal sums ⇒ fixed
    point). Near-dup components have tiny diameter (a dup cluster is
    near-clique), so this converges in a handful of rounds; each round is
    one shuffle join + one groupBy, both keyed by node id. Every round
    localCheckpoints the labels — without it the iterative plan nests
    joins ``max_iter`` deep and Catalyst analysis goes exponential.
    At web scale with long chains, use :func:`connected_components_star`
    (large-star/small-star, logarithmic rounds) — same output contract.
    """
    from pyspark import StorageLevel

    src, dst = F.col("id_a"), F.col("id_b")
    edges = (
        pairs.select(src.alias("src"), dst.alias("dst"))
        .union(pairs.select(dst.alias("src"), src.alias("dst")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = nodes.select(F.col(id_col).alias("id"), F.col(id_col).alias("lbl"))
    labels = labels.localCheckpoint(eager=True)
    prev_sum = labels.agg(
        F.sum(F.col("lbl").cast("decimal(38,0)"))
    ).collect()[0][0]
    for _ in range(max_iter):
        cand = edges.join(labels, edges.src == labels.id).select(
            F.col("dst").alias("id"), F.col("lbl")
        )
        labels = (
            labels.union(cand).groupBy("id").agg(F.min("lbl").alias("lbl"))
        ).localCheckpoint(eager=True)
        cur_sum = labels.agg(
            F.sum(F.col("lbl").cast("decimal(38,0)"))
        ).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    edges.unpersist()
    return labels.select(F.col("id"), F.col("lbl").alias("cluster_id"))


def cluster_representatives(
    labels: DataFrame,
    scored: DataFrame,
    id_col: str = "id",
    score_col: str = "score",
) -> DataFrame:
    """Quality-aware canonical selection: for each near-dup cluster keep
    the member with the HIGHEST score (ties: smallest id) — the survivor
    policy a curation pipeline wants. Keeping min-id (the
    ``near_dedup_survivors`` convention) keeps an ARBITRARY member; when
    a cluster holds a full page and its crawl fragments, min-id keeps
    whichever was crawled first. Deterministic by construction: the
    (score, -id) struct max has a total order, so the representative is
    identical across runs, partitionings, and engines.

    ``labels`` is the connected_components assignment (id, cluster_id);
    ``scored`` carries ``id_col`` + ``score_col``, which must be an
    INTEGRAL type — the quality family's ppm/count convention; a float
    score would silently truncate (a [0,1) quality score casts to 0 for
    every member and the "highest-score" pick degrades to min-id), so a
    non-integral type RAISES (the exact-arithmetic rule; scale float
    scores to ppm first). Output: (cluster_id, rep_id, rep_score,
    n_members). Members missing from ``scored`` still COUNT in
    n_members but can never win the representative slot (NULL scores
    sort below every real score in the struct max); a fully-unscored
    cluster reports rep_score NULL with the min-id member.

    Scale shape: one equi-join on the id and ONE groupBy whose aggregate
    is a struct max — partial-aggregates map-side (each partition emits
    one candidate per cluster), unlike a row_number window which would
    SORT every cluster's members. The join is broadcast-eligible when
    the score relation is dimension-sized."""
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        ShortType,
    )

    stype = scored.schema[score_col].dataType
    if not isinstance(stype, (ByteType, ShortType, IntegerType, LongType)):
        raise ValueError(
            f"cluster_representatives: score column '{score_col}' is "
            f"{stype.simpleString()}, not an integral type — a float "
            "score silently truncates and the selection degrades to "
            "min-id; scale it to an exact integer (ppm/count) first"
        )
    j = labels.join(
        scored.select(
            F.col(id_col).alias("id"),
            F.col(score_col).cast("long").alias("_sc"),
        ),
        "id",
        "left",
    )
    best = F.max(
        F.struct(F.col("_sc"), (-F.col("id")).alias("_nid"))
    ).alias("b")
    return (
        j.groupBy("cluster_id")
        .agg(
            best,
            F.count(F.lit(1)).cast("long").alias("n_members"),
        )
        .select(
            "cluster_id",
            (-F.col("b._nid")).cast("long").alias("rep_id"),
            F.col("b._sc").cast("long").alias("rep_score"),
            "n_members",
        )
    )


def connected_components_star(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "id",
    max_iter: int = 30,
) -> DataFrame:
    """:func:`connected_components` with LOGARITHMIC rounds — the
    alternating large-star/small-star algorithm (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14). Same output
    contract: every node labeled with its component's minimum id,
    singletons keep their own.

    Why it exists: min-label propagation converges in O(diameter) rounds —
    fine for near-clique dup clusters, pathological for CHAIN-shaped
    components (serial ids linked by lev-1 edges: a length-10⁴ chain is
    10⁴ rounds). The star operations contract every component to a star
    (all nodes pointing at the min) in O(log² n) rounds regardless of
    diameter; each round is two groupBy-min aggregates + a map-side emit —
    the same keyed-shuffle building blocks, no new primitives.

    Per round, over the SYMMETRIC closure (Γ(u) = undirected neighbors):
    - large-star(u): emit (v, m(u)) for every v ∈ Γ(u) with v > u, where
      m(u) = min(Γ(u) ∪ {u});
    - small-star(u): emit (v, m⁻(u)) for every v ∈ Γ(u) with v < u, plus
      (u, m⁻(u)), where m⁻(u) = min({v ∈ Γ(u): v < u} ∪ {u}).
    Both preserve connectivity (paper, Lemmas 1-2); each phase rebuilds
    the edge set from its emissions. Convergence = fixed point of the
    canonical edge set, checked by an exact order-independent md5-sum
    checksum (no driver data). At the fixed point every component is a
    star rooted at its min, so the label is least(u, min Γ(u)).
    """
    src, dst = F.col("id_a"), F.col("id_b")
    edges = (
        pairs.select(src.alias("u"), dst.alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )

    def sym(e: DataFrame) -> DataFrame:
        return (
            e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .distinct()
        )

    def checksum(e: DataFrame):
        # exact, order-independent fingerprint of the undirected edge set
        canon = e.select(
            F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
        ).distinct()
        row = canon.agg(
            F.sum(
                F.expr(
                    "CAST(conv(substring(md5(concat_ws(':', a, b)), 1, 15),"
                    " 16, 10) AS DECIMAL(38,0))"
                )
            ).alias("s"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        return (row["s"], row["n"])

    def large_star(e: DataFrame) -> DataFrame:
        s = sym(e)
        m = s.groupBy("u").agg(F.min("v").alias("_mn")).select(
            "u", F.least(F.col("_mn"), F.col("u")).alias("m")
        )
        return (
            s.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        s = sym(e)
        lower = s.where(F.col("v") < F.col("u"))
        m = lower.groupBy("u").agg(F.min("v").alias("m"))
        kids = lower.join(m, "u").select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        selfs = m.select(F.col("u"), F.col("m").alias("v"))
        return (
            kids.union(selfs)
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    edges = edges.localCheckpoint(eager=True)
    prev = checksum(edges)
    for _ in range(max_iter):
        edges = small_star(large_star(edges))
        edges = edges.localCheckpoint(eager=True)
        cur = checksum(edges)
        if cur == prev:
            break
        prev = cur
    # star forest: label(u) = least(u, min undirected neighbor)
    roots = sym(edges).groupBy("u").agg(F.min("v").alias("_mn")).select(
        "u", F.least(F.col("_mn"), F.col("u")).alias("lbl")
    )
    return (
        nodes.select(F.col(id_col).alias("id"))
        .join(roots, F.col("id") == F.col("u"), "left")
        .select(
            "id",
            F.coalesce(F.col("lbl"), F.col("id")).alias("cluster_id"),
        )
    )


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64
) -> DataFrame:
    """SimHash over word tokens: per-bit majority vote of token hashes.

    bit_i(sig) = 1 iff sum over distinct tokens of (token_hash bit_i ? 1 : -1) > 0.
    Computed as one explode + groupBy with ``bits`` conditional sums — a
    single shuffle keyed by doc id.

    The fingerprint is the standard 64 bits (Manku et al.'s web-scale
    near-dup setting), carried as TWO 32-bit halves (sig_lo, sig_hi): a
    packed 64-bit value would put bit 63 on the BIGINT sign bit, which
    neither engine's integer literals can build portably. Each half votes
    from an independent 32-bit md5 slice (hex chars 1-8 / 9-16), so all 64
    bits are real hash bits. Every intermediate stays in [0, 2^32).
    """
    from database_migration_spark.functions.hashing import md5_slice32
    from database_migration_spark.functions.parallel import fan_out

    assert bits % 2 == 0 and bits <= 64
    half = bits // 2
    df = fan_out(df)
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(F.split(normalize_text(F.col(text_col)), " "))).alias("tok"),
    ).select(
        "id",
        md5_slice32(F.col("tok"), 1).alias("hlo"),
        md5_slice32(F.col("tok"), 9).alias("hhi"),
    )
    # vote_i = Σ(±1) > 0 ⇔ 2*ones_i > n_tok: aggregating the raw bit
    # (sum((h>>i)&1)) instead of a per-row CASE keeps each of the 64
    # aggregate expressions tiny — the wide agg was blowing past the
    # whole-stage-codegen method limits and paying ~8 s of compile.
    # Expressions are SQL text (one F.expr per aggregate / one per packed
    # half): the Column-chain build was ~700 py4j round-trips per plan
    # (r12 opt round, guide §5).
    def ones(src: str, i: int, name: str):
        return F.expr(f"sum((shiftright({src}, {i}) & 1))").alias(name)

    votes = (
        [ones("hlo", i, f"vl_{i}") for i in range(half)]
        + [ones("hhi", i, f"vh_{i}") for i in range(half)]
        + [F.count(F.lit(1)).alias("n_tok")]
    )
    voted = toks.groupBy("id").agg(*votes)

    def pack(prefix: str) -> F.Column:
        terms = " + ".join(
            f"IF({prefix}_{i} * 2 > n_tok, {1 << i}, 0)" for i in range(half)
        )
        return F.expr(f"CAST(({terms}) AS BIGINT)")

    return voted.select("id", pack("vl").alias("sig_lo"), pack("vh").alias("sig_hi"))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    max_hamming: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: bucket by max_hamming+1 chunks
    (pigeonhole: hamming ≤ h ⇒ at least one of h+1 chunks is identical),
    then verify the exact Hamming distance.

    Defaults are the web-scale standard: 64-bit fingerprints, hamming ≤ 3,
    so buckets key on 16-BIT chunks — 65536 distinct keys per chunk index.
    (The previous 48-bit/hamming-5 config bucketed on 8-bit chunks: ≤256
    buckets per index, which goes quadratic-per-bucket as the corpus grows
    — exactly the narrow-bucket blowup this keyspace prevents.) At 100 TB
    candidate volume scales as Σ_bucket |bucket|²; with 2^16 keys per index
    the expected bucket is N/65536, and the stricter hamming cut bounds the
    emitted pair count to genuine near-dups.

    Output (id_a, id_b, hamming). Never materializes the cross product.
    ``max_bucket`` drops chunk buckets larger than the cap before the
    self-join (pathological-skew guard, same trade as
    :func:`lsh_candidate_pairs`); None = exhaustive.
    """
    sigs = simhash_signatures(df, text_col, id_col, bits)
    return hamming_near_pairs(sigs, bits, max_hamming, max_bucket)


def _hamming_chunks(
    sigs: DataFrame, bits: int, max_hamming: int
) -> DataFrame:
    """Explode (id, sig_lo, sig_hi) into its pigeonhole chunk keys
    (ci, ck): ``max_hamming + 1`` equal-width chunks, so two signatures
    within the Hamming budget MUST agree on at least one whole chunk.
    The shared key derivation of :func:`hamming_near_pairs` (batch
    self-join) and the hamming index (store probe) — one machinery, the
    band-key rule."""
    half = bits // 2
    n_chunks = max_hamming + 1
    chunk = bits // n_chunks
    assert chunk > 0 and half % chunk == 0, "chunks must not straddle halves"
    mask = (1 << chunk) - 1
    per_half = half // chunk

    def chunk_expr(ci: int):
        src = "sig_lo" if ci < per_half else "sig_hi"
        off = (ci % per_half) * chunk
        return F.struct(
            F.lit(ci).alias("ci"),
            F.shiftright(F.col(src), off).bitwiseAND(F.lit(mask)).alias("ck"),
        )

    return sigs.select(
        "id",
        "sig_lo",
        "sig_hi",
        F.explode(F.array(*[chunk_expr(i) for i in range(n_chunks)])).alias("c"),
    ).select(
        "id", "sig_lo", "sig_hi",
        F.col("c.ci").alias("ci"), F.col("c.ck").alias("ck"),
    )


def hamming_near_pairs(
    sigs: DataFrame,
    bits: int = 64,
    max_hamming: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """The signature-agnostic half of :func:`simhash_near_pairs`
    (round-11 extraction — the banded join is the same whether the
    64-bit fingerprint came from token votes or image pixels, and a
    fork would drift): ``sigs`` is (id, sig_lo, sig_hi) with each half
    in [0, 2^32) — text SimHash (:func:`simhash_signatures`) and image
    dHash (multimodal.perceptual_dhash) both emit it. Pigeonhole chunk
    bucketing + exact Hamming verify, identical semantics and caps as
    documented on :func:`simhash_near_pairs`."""
    chunks = _hamming_chunks(sigs, bits, max_hamming)
    # both self-join sides consume chunks, and the join broadcasts one side
    # — no shuffle exchange exists for ReusedExchange to share, so without
    # a persist the whole tokenize+vote signature pipeline runs twice
    if max_bucket is not None:
        # same pathological-skew guard as lsh_candidate_pairs: a chunk key
        # shared by m docs is m² candidates — drop mega-buckets (identical
        # boilerplate belongs to the exact-dup pass) before the self-join.
        # _cap_buckets persists the capped relation, covering both join
        # sides; the plain path persists the raw chunks below instead.
        chunks = _cap_buckets(chunks, ["ci", "ck"], max_bucket)
    else:
        from pyspark import StorageLevel

        chunks = chunks.persist(StorageLevel.MEMORY_AND_DISK)
    a, b = chunks.alias("a"), chunks.alias("b")
    # .distinct() before the hamming cut is NOT a full shuffle of every
    # bucket collision: Spark's partial HashAggregate dedups map-side, so
    # only unique candidate pairs move. Measured against the
    # filter-before-distinct variant (hamming streamed out of the join,
    # distinct on survivors only): this order is ~20% faster at sf0.1
    # (same-session comparison) — the verify touches each unique pair once
    # instead of once per colliding chunk.
    cand = (
        a.join(b, ["ci", "ck"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig_lo").alias("lo_a"),
            F.col("a.sig_hi").alias("hi_a"),
            F.col("b.sig_lo").alias("lo_b"),
            F.col("b.sig_hi").alias("hi_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b"))) + F.bit_count(
        F.col("hi_a").bitwiseXOR(F.col("hi_b"))
    )
    return cand.select("id_a", "id_b", hamming.cast("long").alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


def dup_span_coverage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Duplicated-span coverage: per document, how much of it is covered by
    word k-grams that also occur in ANOTHER document — the distributed
    diagnostic form of exact-substring deduplication (the suffix-array
    "dedup spans >= N tokens" step of training-data pipelines; the
    reference has no analogue — its nearest is the LIMIT-probe sampling
    family, convert_varchar.sql:146-148).

    Returns (doc_id, n_tokens, covered_tokens, dup_coverage_ppm) for every
    document; filter ``dup_coverage_ppm`` >= threshold to drop mostly-
    duplicated documents, or use covered spans for surgical span removal.

    Scale shape (round-7 bytes audit — the ×100 probe's heaviest linear
    row): "shared" grams come from one groupBy(gram) keeping min(id) <>
    max(id) — a 2-value aggregate that map-side combines, NOT
    count_distinct; shared occurrences then shuffle as bare (id, pos INT)
    pairs into a per-doc collect, and the k-wide span expansion + the
    position-union dedup happen INSIDE the row (flatten/array_distinct
    over a per-doc array bounded by document length) — the old plan
    exploded every shared gram into k position rows and deduped them with
    a corpus-wide distinct shuffle; that k× volume and its shuffle are
    gone. Every join is keyed on the 60-bit gram hash or the doc id — no
    windows, no driver state. Exact integer ppm output so external oracles
    replay it bit-for-bit.

    ``grams`` feeds two plan branches (the shared-gram aggregate and the
    covered-position join); it is persisted MEMORY_AND_DISK, matching
    shingle_sets — ReusedExchange does not cover post-shuffle
    recomputation, and re-deriving grams re-runs the per-gram md5 from
    scan, the dominant cost of the operator.
    """
    from pyspark import StorageLevel

    from database_migration_spark.functions.parallel import fan_out

    words = fan_out(
        df.select(F.col(id_col).alias("id"), F.col(text_col))
    ).select("id", F.split(F.col(text_col), " ").alias("_w"))

    # one struct per gram start position (1-based): (pos, 60-bit md5 of the
    # space-joined k words). sequence() guarded: Spark infers step -1 when
    # start > stop, so short docs must yield an empty array, not a crash.
    gram_structs = F.expr(
        f"""
        transform(
          CASE WHEN size(_w) >= {k} THEN sequence(1, size(_w) - {k} + 1)
               ELSE array() END,
          i -> struct(
            i AS pos,
            cast(conv(substring(md5(array_join(slice(_w, i, {k}), ' ')),
                                1, 15), 16, 10) AS bigint) AS g))
        """
    )
    toks = words.select(
        "id", F.size("_w").cast("long").alias("n_tokens"), gram_structs.alias("_g")
    )
    grams = (
        toks.select("id", F.explode("_g").alias("gr"))
        .select("id", F.col("gr.pos").alias("pos"), F.col("gr.g").alias("g"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    shared = (
        grams.groupBy("g")
        .agg(F.min("id").alias("_mn"), F.max("id").alias("_mx"))
        .where(F.col("_mn") != F.col("_mx"))
        .select("g")
    )
    # count the union of [pos, pos+k-1] spans per doc without exploding:
    # shared occurrences shuffle once as (id, pos) INT pairs, the span
    # expansion + union-dedup run row-local over the collected array
    covered = (
        grams.join(shared, "g")
        .groupBy("id")
        .agg(F.collect_list("pos").alias("_cps"))
        .select(
            "id",
            F.size(
                F.array_distinct(
                    F.flatten(
                        F.expr(f"transform(_cps, p -> sequence(p, p + {k - 1}))")
                    )
                )
            )
            .cast("long")
            .alias("covered_tokens"),
        )
    )
    return (
        toks.select("id", "n_tokens")
        .join(covered, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_tokens",
            F.coalesce(F.col("covered_tokens"), F.lit(0)).cast("long").alias("covered_tokens"),
            F.expr("coalesce(covered_tokens, 0L) * 1000000L div n_tokens").alias(
                "dup_coverage_ppm"
            ),
        )
    )


def remove_duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Surgical exact-substring dedup: rebuild each document with every
    token position covered by a cross-document shared k-gram removed —
    the apply step whose diagnostic is :func:`dup_span_coverage`.

    Returns (doc_id, clean_text, n_tokens, kept_tokens). Documents made
    entirely of shared spans come back with empty clean_text (callers
    typically drop ``kept_tokens = 0`` rows).

    Scale shape (round-7 bytes audit — this was the heaviest ×100 linear
    row at 51 s): the TEXT never rides a token-keyed shuffle. Shared gram
    occurrences shuffle as bare (id, pos INT) pairs into one per-doc
    collect; the k-wide span expansion, the kept-position complement
    (``array_except`` — hash-set build, not per-token scans) and the
    rebuild all run INSIDE the row against the persisted word array. The
    old plan posexploded every token WITH its word, anti-joined that
    (shuffling the whole corpus text), and re-shuffled the kept words into
    a collect_list rebuild — two corpus-text shuffles plus a k× exploded
    position distinct, all gone. Per-doc state is bounded by document
    length, never corpus size.

    ``base`` (split + gram transform) feeds the gram census, the covered
    join and the final rebuild; it is persisted MEMORY_AND_DISK, matching
    shingle_sets — without it every branch re-splits and re-hashes every
    document from scan.
    """
    from pyspark import StorageLevel

    from database_migration_spark.functions.parallel import fan_out

    words = fan_out(
        df.select(F.col(id_col).alias("id"), F.col(text_col))
    ).select("id", F.split(F.col(text_col), " ").alias("_w"))

    gram_structs = F.expr(
        f"""
        transform(
          CASE WHEN size(_w) >= {k} THEN sequence(1, size(_w) - {k} + 1)
               ELSE array() END,
          i -> struct(
            i AS pos,
            cast(conv(substring(md5(array_join(slice(_w, i, {k}), ' ')),
                                1, 15), 16, 10) AS bigint) AS g))
        """
    )
    base = words.select("id", "_w", gram_structs.alias("_g")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    grams = base.select("id", F.explode("_g").alias("gr")).select(
        "id", F.col("gr.pos").alias("pos"), F.col("gr.g").alias("g")
    )
    shared = (
        grams.groupBy("g")
        .agg(F.min("id").alias("_mn"), F.max("id").alias("_mx"))
        .where(F.col("_mn") != F.col("_mx"))
        .select("g")
    )
    # covered START positions per doc, collected once — (id, pos INT) is
    # the only token-derived payload that ever shuffles
    covered = grams.join(shared, "g").groupBy("id").agg(
        F.collect_list("pos").alias("_cps")
    )
    # row-local rebuild: expand spans, complement against 1..n (hash-set
    # array_except keeps the sorted order of the left sequence), index back
    # into the persisted word array. NULL/short-doc guard preserves the
    # legacy contract (n_tokens = size(_w) incl. -1 for NULL; empty
    # clean_text, kept_tokens 0).
    kept = F.expr(
        f"""
        CASE WHEN _w IS NULL OR size(_w) < 1 THEN array()
             ELSE array_except(
               sequence(1, size(_w)),
               flatten(transform(coalesce(_cps, array()),
                                 p -> sequence(p, p + {k - 1}))))
        END
        """
    )
    return (
        base.join(covered, "id", "left")
        .withColumn("_keep", kept)
        .select(
            F.col("id").alias(id_col),
            F.array_join(
                F.expr("transform(_keep, i -> element_at(_w, i))"), " "
            ).alias("clean_text"),
            F.size("_w").cast("long").alias("n_tokens"),
            F.size("_keep").cast("long").alias("kept_tokens"),
        )
    )


def fingerprint_store(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = INDEX_DEFAULTS["shingle_k"],
    num_perm: int = INDEX_DEFAULTS["num_perm"],
    seed: int = INDEX_DEFAULTS["seed"],
    persist: bool = True,
) -> DataFrame:
    """The compact per-document fingerprint a corpus persists so future
    batches dedup against it WITHOUT re-reading historical text:
    (id, content_h, sig_0..sig_{num_perm-1}) — a 60-bit content hash of the
    normalized text (exact-dup key) plus the minhash signature (near-dup
    key). O(num_perm) bytes per doc: a 100 TB corpus's store is ~100 GB,
    re-shingling it would be the full 100 TB.

    One normalization pass feeds both hashes (persisted — two consumers —
    unless ``persist=False``: per-micro-batch callers that must not leave
    cache entries behind accept one redundant normalization instead).
    """
    norm = _normalized_text(df, text_col, id_col, persist=persist)
    content = norm.select("id", md5_long(F.col("_t")).alias("content_h"))
    shingles = _shingle_hashes(norm, k)
    return content.join(minhash_signatures(shingles, num_perm, seed), "id")


def incremental_dedup(
    batch_fp: DataFrame,
    store_fp: DataFrame,
    num_perm: int = 32,
    bands: int = 4,
    min_agree_permille: int = 750,
    persist_inputs: bool = True,
) -> DataFrame:
    """Dedup a NEW batch against an existing corpus via fingerprints only —
    the recurring-crawl shape (the corpus-side analogue of the reference's
    delta import, delta_import.sql): the store never re-reads text.

    Decision per batch doc: ``exact_dup`` if its content hash exists in the
    store; else ``near_dup`` if an LSH band collision with a store doc has
    signature agreement ≥ ``min_agree_permille`` (the fraction of equal
    minhash components is the standard unbiased Jaccard estimate — with
    fingerprints only, estimated Jaccard replaces the exact verify of
    :func:`minhash_dedup_pairs`); else ``new``. Returns
    (id, status, match_id) with match_id = min matching store id (-1 when
    new) so re-crawls trace to their canonical document.

    Batch-internal duplicates are out of scope by design — run the batch
    through :func:`exact_dedup` / ``minhash_dedup_pairs`` first, then this
    against the store. Both fingerprint inputs are persisted here (each has
    3 consumers: exact join, banding, signature compare); pass
    ``persist_inputs=False`` when the caller manages the lifecycle itself —
    a long-running loop (``streaming.delta_stream.stream_incremental_dedup``)
    must persist per-batch relations explicitly and unpersist them after
    the sink, or every epoch leaks a cache entry.
    """
    if persist_inputs:
        from pyspark import StorageLevel

        batch_fp = batch_fp.persist(StorageLevel.MEMORY_AND_DISK)
        store_fp = store_fp.persist(StorageLevel.MEMORY_AND_DISK)
    sig_cols = [f"sig_{i}" for i in range(num_perm)]
    exact = (
        batch_fp.select("id", "content_h")
        .join(
            store_fp.select(F.col("id").alias("sid"), "content_h"), "content_h"
        )
        .groupBy("id")
        .agg(F.min("sid").alias("exact_match"))
    )
    bb = banded_keys(batch_fp, num_perm, bands)
    sb = banded_keys(store_fp, num_perm, bands).withColumnRenamed("id", "sid")
    cand = bb.join(sb, ["band", "key"]).select("id", "sid").distinct()
    a = batch_fp.selectExpr("id", *[f"{c} AS a_{c}" for c in sig_cols])
    s = store_fp.selectExpr(
        "id AS sid", *[f"{c} AS s_{c}" for c in sig_cols]
    )
    agree = _agree_permille(sig_cols, num_perm, "a_", "s_")
    near = (
        cand.join(a, "id")
        .join(s, "sid")
        .where(agree >= F.lit(min_agree_permille))
        .groupBy("id")
        .agg(F.min("sid").alias("near_match"))
    )
    return _decision_select(batch_fp, exact, near)


def _agree_permille(sig_cols, num_perm: int, left_prefix: str, right_prefix: str):
    """Fraction (permille) of equal minhash components — the standard
    unbiased Jaccard estimate. ``left_prefix``/``right_prefix`` name each
    side's signature columns (e.g. ``a_sig_0``). num_perm is a power of
    two, so agree*1000/num_perm is float-exact. One ``F.expr`` string:
    the per-component when/sum Column chain was 32 × ~6 py4j round-trips
    per build (r12 opt round)."""
    terms = " + ".join(
        f"IF({left_prefix}{c} = {right_prefix}{c}, 1, 0)" for c in sig_cols
    )
    return F.expr(f"CAST(FLOOR(({terms}) * 1000 / {num_perm}) AS BIGINT)")


def _decision_select(batch_fp: DataFrame, exact: DataFrame, near: DataFrame) -> DataFrame:
    """(id, status, match_id): exact_dup beats near_dup beats new;
    match_id is the canonical (min) matching store id, -1 for new. The
    single decision contract shared by :func:`incremental_dedup` and
    :func:`incremental_dedup_indexed` (their parity is a tested
    invariant)."""
    return (
        batch_fp.select("id")
        .join(exact, "id", "left")
        .join(near, "id", "left")
        .selectExpr(
            "id",
            "CASE WHEN exact_match IS NOT NULL THEN 'exact_dup' "
            "WHEN near_match IS NOT NULL THEN 'near_dup' "
            "ELSE 'new' END AS status",
            "bigint(coalesce(exact_match, near_match, -1)) AS match_id",
        )
    )


def write_fingerprint_index(
    store_fp: DataFrame,
    path: str,
    num_perm: int = INDEX_DEFAULTS["num_perm"],
    bands: int = INDEX_DEFAULTS["bands"],
    buckets: int = INDEX_DEFAULTS["buckets"],
    extra: dict | None = None,
) -> None:
    """Write a :func:`fingerprint_store` relation as two partition-pruned
    parquet indexes — the layout that makes small-batch
    :func:`incremental_dedup_indexed` read O(matching partitions) of a
    100 TB-corpus store instead of the whole thing:

    - ``<path>/content``: (sid, content_h) partitioned by
      ``pmod(content_h, buckets)`` — the exact-dup probe prunes to the
      batch's content buckets.
    - ``<path>/bands``: the exploded LSH index (band, key, sid,
      sig_0..sig_{n-1}) partitioned by ``pmod(hash(band, key), buckets)``
      — the near-dup probe prunes to the batch's band-key buckets. The
      ×bands row duplication (signatures carried on every index row) is
      the standard LSH-index denormalization: it trades bands× storage of
      an already-compact store for candidate lookups that never join back
      to the base relation.

    ``buckets``/``num_perm``/``bands`` define the partition function and
    the signature layout, not tuning-only knobs — they are therefore
    STORED with the index (``<path>/_index_meta.json``) and the prober
    resolves them from there: a silent writer/prober mismatch would prune
    the WRONG partitions and miss duplicates without any error (round-7
    trap closure). Size ``buckets`` so a partition is a few hundred MB at
    the store's scale. ``extra`` records additional layout-defining
    parameters in the metadata (the CLI stores the shingle ``k`` and
    minhash ``seed`` there — fingerprints appended later must be computed
    with the same ones or band keys never collide). Data and meta are
    staged together and committed in one swap (``io.build_store``), so a
    failed rebuild leaves the previous index whole.
    """
    def write(stage):
        _write_fingerprint_index(store_fp, stage, num_perm, bands, buckets)
        _write_index_meta(stage, num_perm, bands, buckets, extra)

    build_store(path, write)


def _write_index_meta(
    path: str, num_perm: int, bands: int, buckets: int, extra: dict | None = None
) -> None:
    meta = {"num_perm": num_perm, "bands": bands, "buckets": buckets}
    meta.update(extra or {})
    store_meta.write(path, "minhash", meta)


def append_fingerprint_index(
    new_fp: DataFrame,
    path: str,
    num_perm: int | None = None,
    bands: int | None = None,
    buckets: int | None = None,
) -> None:
    """Grow an existing :func:`write_fingerprint_index` layout with a
    batch's accepted fingerprints — the store-maintenance step of the
    recurring-crawl loop (``stream_incremental_dedup``'s sink appends the
    'new' decisions back so later batches dedup against them). Dynamic
    partition append: each new row lands as a file inside its existing
    bucket directory, no rewrite of the store; compact buckets
    periodically once small files accumulate (standard parquet hygiene).
    Layout parameters resolve from the index's stored metadata; explicit
    values that contradict it raise."""
    p = store_meta.resolve(
        path, "minhash",
        {"num_perm": num_perm, "bands": bands, "buckets": buckets},
        INDEX_DEFAULTS,
    )
    _write_fingerprint_index(new_fp, path, p["num_perm"], p["bands"], p["buckets"])


def _write_fingerprint_index(
    store_fp: DataFrame, path: str, num_perm: int, bands: int, buckets: int
) -> None:
    """Append ``store_fp`` to the index relations at ``path`` (a build
    appends into an empty staging directory)."""
    sig_cols = [f"sig_{i}" for i in range(num_perm)]
    content = store_fp.select(
        F.col("id").alias("sid"),
        "content_h",
        F.pmod("content_h", F.lit(buckets)).alias("bucket"),
    )
    content.write.mode("append").partitionBy("bucket").parquet(f"{path}/content")
    idx = (
        banded_keys(store_fp, num_perm, bands)
        .join(store_fp.select("id", *sig_cols), "id")
        .select(
            "band",
            "key",
            F.col("id").alias("sid"),
            *sig_cols,
            F.pmod(F.hash("band", "key"), F.lit(buckets)).alias("bucket"),
        )
    )
    idx.write.mode("append").partitionBy("bucket").parquet(f"{path}/bands")


def incremental_dedup_indexed(
    spark,
    path: str,
    batch_fp: DataFrame,
    num_perm: int | None = None,
    bands: int | None = None,
    min_agree_permille: int = 750,
    buckets: int | None = None,
    persist_inputs: bool = True,
) -> DataFrame:
    """:func:`incremental_dedup` against a :func:`write_fingerprint_index`
    layout, with identical output — but the store side is PRUNED: the
    batch's content buckets and band-key buckets become static ``bucket
    IN (...)`` predicates (driver-bounded: ≤ |batch| and ≤ |batch|·bands
    values), so partition pruning drops every store partition the batch
    cannot touch at file-listing time. A 1 000-doc batch against a
    10⁹-doc store reads ~min(|batch|·(1+bands), buckets)/buckets of the
    index bytes instead of all of them.

    ``persist_inputs=False`` skips the internal batch/banded persists —
    per-epoch callers (``stream_incremental_dedup``) manage the batch
    lifecycle themselves (the streaming persist-leak rule) and accept one
    redundant banded-keys pass of a micro-batch instead.

    Layout parameters (num_perm/bands/buckets) resolve from the index's
    stored ``_index_meta.json``; explicit values that contradict it raise
    instead of silently pruning the wrong partitions.
    """
    from pyspark import StorageLevel

    p = store_meta.resolve(
        path, "minhash",
        {"num_perm": num_perm, "bands": bands, "buckets": buckets},
        INDEX_DEFAULTS,
    )
    num_perm, bands, buckets = p["num_perm"], p["bands"], p["buckets"]
    sig_cols = [f"sig_{i}" for i in range(num_perm)]
    if persist_inputs:
        batch_fp = batch_fp.persist(StorageLevel.MEMORY_AND_DISK)

    cb = sorted(
        r["b"]
        for r in batch_fp.select(
            F.pmod("content_h", F.lit(buckets)).alias("b")
        ).distinct().collect()
    )
    content = spark.read.parquet(f"{path}/content").where(
        F.col("bucket").isin(cb)
    )
    exact = (
        batch_fp.select("id", "content_h")
        .join(content, "content_h")
        .groupBy("id")
        .agg(F.min("sid").alias("exact_match"))
    )

    bb = banded_keys(batch_fp, num_perm, bands).withColumn(
        "bucket", F.pmod(F.hash("band", "key"), F.lit(buckets))
    )
    if persist_inputs:
        bb = bb.persist(StorageLevel.MEMORY_AND_DISK)
    kb = sorted(r["bucket"] for r in bb.select("bucket").distinct().collect())
    idx = spark.read.parquet(f"{path}/bands").where(F.col("bucket").isin(kb))
    # distinct (not a per-sid min) collapses ONLY the ×bands duplication of
    # one signature version: an append-grown index may hold a sid twice
    # with DIFFERENT signatures (re-crawled doc appended under its old id)
    # — each version must be compared separately, exactly as the plain
    # path compares each store row, or a column-wise min would fabricate a
    # chimera signature belonging to neither version
    cand = (
        bb.join(idx, ["band", "key"])
        .select("id", "sid", *sig_cols)
        .distinct()
    )
    a = batch_fp.select("id", *[F.col(c).alias(f"a_{c}") for c in sig_cols])
    agree = _agree_permille(sig_cols, num_perm, "a_", "")
    near = (
        cand.join(a, "id")
        .where(agree >= F.lit(min_agree_permille))
        .groupBy("id")
        .agg(F.min("sid").alias("near_match"))
    )
    return _decision_select(batch_fp, exact, near)


def write_hamming_index(
    sigs: DataFrame,
    path: str,
    bits: int = HAMMING_DEFAULTS["bits"],
    max_hamming: int = HAMMING_DEFAULTS["max_hamming"],
    buckets: int = HAMMING_DEFAULTS["buckets"],
    extra: dict | None = None,
) -> None:
    """Persist (id, sig_lo, sig_hi) Hamming signatures — text SimHash or
    image dHash, the :func:`hamming_near_pairs` convention — as ONE
    partition-pruned chunk index, so a crawl batch dedups against
    history without re-hashing it (the image analogue of
    :func:`write_fingerprint_index`; round-11 verdict: text had the full
    store lifecycle, images were batch-only).

    Layout: ``<path>/chunks`` holds the exploded pigeonhole keys
    (ci, ck, sid, sig_lo, sig_hi) partitioned by
    ``pmod(hash(ci, ck), buckets)`` — the ×(max_hamming+1) row
    duplication is the LSH-index denormalization (16 bytes of signature
    carried per row; candidates never join back to a base relation).
    ``bits``/``max_hamming``/``buckets`` define the chunk geometry AND
    the partition function, so they are STORED (``_index_meta.json``,
    kind=hamming) and probers resolve from there; explicit
    contradictions RAISE (the index-meta rule — a mismatched
    ``max_hamming`` reads different chunk offsets and silently misses
    every duplicate). ``extra`` records signature provenance (the CLI
    stores the payload hash kind there). Data and meta are staged
    together and committed in one swap (``io.build_store``)."""
    meta = {"kind": "hamming", "bits": bits, "max_hamming": max_hamming,
            "buckets": buckets}
    meta.update(extra or {})

    def write(stage):
        _write_hamming_index(sigs, stage, bits, max_hamming, buckets)
        store_meta.write(stage, "hamming", meta)

    build_store(path, write)


def _write_hamming_index(
    sigs: DataFrame, path: str, bits: int, max_hamming: int, buckets: int
) -> None:
    chunks = _hamming_chunks(sigs, bits, max_hamming).select(
        F.col("id").alias("sid"),
        "sig_lo",
        "sig_hi",
        "ci",
        "ck",
        F.pmod(F.hash("ci", "ck"), F.lit(buckets)).alias("bucket"),
    )
    chunks.write.mode("append").partitionBy("bucket").parquet(f"{path}/chunks")


def append_hamming_index(
    sigs: DataFrame,
    path: str,
    bits: "int | None" = None,
    max_hamming: "int | None" = None,
    buckets: "int | None" = None,
) -> None:
    """Grow a hamming index with a batch's accepted signatures — the
    crawl-loop maintenance step (probe decides 'new', the new
    signatures append back so later batches dedup against them).
    Dynamic partition append into existing bucket directories; layout
    resolves from the stored metadata, contradictions raise."""
    p = store_meta.resolve(
        path, "hamming",
        {"bits": bits, "max_hamming": max_hamming, "buckets": buckets},
        HAMMING_DEFAULTS,
    )
    _write_hamming_index(sigs, path, p["bits"], p["max_hamming"], p["buckets"])


def hamming_dedup_indexed(
    spark,
    path: str,
    batch_sigs: DataFrame,
    bits: "int | None" = None,
    max_hamming: "int | None" = None,
    buckets: "int | None" = None,
    persist_inputs: bool = True,
) -> DataFrame:
    """Dedup a batch of Hamming signatures against a
    :func:`write_hamming_index` store with partition-pruned reads: the
    batch's chunk buckets become a static ``bucket IN (...)`` predicate
    (driver-bounded: ≤ |batch|·(max_hamming+1) values), so file listing
    drops every store partition the batch cannot touch — the
    :func:`incremental_dedup_indexed` shape over the
    :func:`hamming_near_pairs` machinery.

    Returns (id, status, match_id, min_hamming): ``near_dup`` when some
    store signature is within ``max_hamming`` (min_hamming = the TRUE
    minimum distance — 0 means signature-identical, e.g. a re-encoded
    image; match_id = the closest match's sid, ties broken to the
    smallest), else ``new`` with (-1, -1). Batch-internal
    duplicates are out of scope by design — run the batch through
    :func:`hamming_near_pairs` first (the incremental_dedup contract).
    """
    from pyspark import StorageLevel

    p = store_meta.resolve(
        path, "hamming",
        {"bits": bits, "max_hamming": max_hamming, "buckets": buckets},
        HAMMING_DEFAULTS,
    )
    bits, max_hamming, buckets = p["bits"], p["max_hamming"], p["buckets"]
    bb = _hamming_chunks(batch_sigs, bits, max_hamming).withColumn(
        "bucket", F.pmod(F.hash("ci", "ck"), F.lit(buckets))
    )
    if persist_inputs:
        bb = bb.persist(StorageLevel.MEMORY_AND_DISK)
    kb = sorted(r["bucket"] for r in bb.select("bucket").distinct().collect())
    idx = spark.read.parquet(f"{path}/chunks").where(F.col("bucket").isin(kb))
    # both sides carry sig columns under one name — alias before the join
    a = bb.select(
        "id", "ci", "ck", "bucket",
        F.col("sig_lo").alias("lo_a"), F.col("sig_hi").alias("hi_a"),
    )
    s = idx.select(
        "ci", "ck", "sid",
        F.col("sig_lo").alias("lo_b"), F.col("sig_hi").alias("hi_b"),
    )
    cand = (
        a.join(s, ["ci", "ck"])
        .select("id", "sid", "lo_a", "hi_a", "lo_b", "hi_b")
        .distinct()
    )
    hamming = (
        F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
        + F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
    ).cast("long")
    near = (
        cand.withColumn("hamming", hamming)
        .where(F.col("hamming") <= F.lit(max_hamming))
        .groupBy("id")
        # ONE ordered struct-min, DISTANCE first: min_hamming must be
        # the true minimum (the documented '0 = signature-identical'
        # contract), with smallest sid as the deterministic tie-break —
        # sid-first ordering would return a farther match's distance
        # whenever a smaller sid matched at higher hamming (review
        # finding); not min-over-both either, which could pair sid X
        # with sid Y's hamming
        .agg(F.min(F.struct("hamming", "sid")).alias("m"))
        .select("id", F.col("m.sid").alias("match_id"),
                F.col("m.hamming").alias("min_hamming"))
    )
    return (
        batch_sigs.select("id")
        .join(near, "id", "left")
        .select(
            "id",
            F.when(F.col("match_id").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("status"),
            F.coalesce("match_id", F.lit(-1)).cast("long").alias("match_id"),
            F.coalesce("min_hamming", F.lit(-1)).cast("long")
            .alias("min_hamming"),
        )
    )


def compact_partitioned(
    spark,
    src: str,
    dest: str,
    partition_col: str = "bucket",
) -> None:
    """Parquet small-file hygiene for an append-grown layout (each
    :func:`append_fingerprint_index` epoch adds files to its bucket
    directories; thousands of epochs = thousands of tiny files per
    bucket): rewrite ``src`` into ``dest`` with ONE file per partition
    value (repartition on the partition column routes each value to
    exactly one task), preserving the partitioning.

    Writes to a NEW path by design — Spark cannot safely overwrite a
    dataset it is concurrently reading (the first commit deletes input
    files the remaining tasks still need). To replace ``src`` with the
    result, call it through ``functions.io.build_store(src, ...)``, which
    stages ``dest`` and commits it in one rename-aside swap (the CLI
    compactions do). One shuffle, keyed on the partition column — skew
    across buckets is bounded by the hash partitioning that built them;
    use ``maxRecordsPerFile`` on the writer if a single bucket file would
    exceed the target size.
    """
    df = spark.read.parquet(src)
    n = max(1, df.select(partition_col).distinct().count())
    (
        df.repartition(n, partition_col)
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(dest)
    )


def delete_rows_partitioned(
    spark,
    path: str,
    staging: str,
    forget_ids: list,
    id_col: str,
    partition_col: str = "bucket",
    partition_of=None,
) -> dict:
    """Targeted deletion from a ``partitionBy`` parquet layout — the
    right-to-be-forgotten / takedown pass a training corpus must support
    without rewriting 100 TB to drop a thousand documents.

    ``forget_ids`` is the deletion request batch: driver-sized BY CONTRACT
    (takedown lists are thousands of ids, same bound as the IVF/benchmark
    broadcast sides). Affected partitions come from ``partition_of``
    (the layout's id→partition function, e.g. ``lambda c: F.pmod(c,
    F.lit(64))`` for a :func:`write_fingerprint_index`-style bucket
    layout) evaluated on the ids alone — the store is never scanned to
    find them. Without ``partition_of`` the store's (id, partition)
    columns are scanned once (column-pruned: two columns of parquet
    metadata-cheap reads) to locate the ids.

    The surviving rows of ONLY the affected partitions are rewritten to
    ``staging`` (broadcast anti-join; the read plan prunes to the affected
    partition directories at file listing — PartitionFilters, asserted in
    tests) and committed into ``path`` partition by partition through
    ``functions.io.publish_partitions`` (the rename-aside swap; a
    partition that kept no rows is removed). Untouched partitions are
    never read or written. At scale the same step is the table format's
    replace-partitions commit (Iceberg/Delta).

    Returns the audit dict {"partitions": [...], "rows_deleted": n,
    "rows_kept": n}; ``rows_kept`` counts the committed partitions.
    """
    ids = spark.createDataFrame(
        [(i,) for i in forget_ids], schema=f"{id_col} long"
    )
    if partition_of is not None:
        affected = sorted(
            r[0]
            for r in ids.select(partition_of(F.col(id_col)).alias("p"))
            .distinct()
            .collect()
        )
    else:
        affected = sorted(
            r[0]
            for r in spark.read.parquet(path)
            .join(F.broadcast(ids), id_col, "left_semi")
            .select(partition_col)
            .distinct()
            .collect()
        )
    if not affected:
        return {"partitions": [], "rows_deleted": 0, "rows_kept": 0}
    in_affected = F.col(partition_col).isin(affected)
    pruned = spark.read.parquet(path).where(in_affected)
    rows_before = pruned.count()
    publish_partitions(
        pruned.join(F.broadcast(ids), id_col, "left_anti"),
        path, staging, affected, partition_col,
    )
    # the explicit schema keeps the count exact when the batch purged every
    # row of its partitions (nothing left to infer a schema from)
    rows_kept = (
        spark.read.schema(pruned.schema).parquet(path).where(in_affected).count()
    )
    return {
        "partitions": affected,
        "rows_deleted": rows_before - rows_kept,
        "rows_kept": rows_kept,
    }


def line_occurrences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = "\n",
) -> DataFrame:
    """The positioned line relation (id, pos, line_hash, line) — the base
    both line-dedup forms share. NULL documents are filtered explicitly
    (split(NULL) is a NULL array in Spark but zero rows in a SQL oracle —
    the chunk_tokens round-5 lesson); positions are 0-based."""
    return (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), delim, -1)).alias(
                "pos", "line"
            ),
        )
        .withColumn("h", md5_long(F.col("line")))
    )


def duplicate_lines(
    lines: DataFrame,
    min_docs: int = 2,
) -> DataFrame:
    """Boilerplate detection: line hashes occurring in at least
    ``min_docs`` DISTINCT documents → (h, n_docs). The corpus-wide
    repeated-line census of the C4 / CCNet line-dedup step (navigation
    chrome, cookie banners, license headers all surface here).

    Scale shape: one groupBy on the 60-bit line hash with a map-side
    partially-aggregated count_distinct — line text never shuffles (the
    hash stands in; the caller re-attaches text by joining ``lines`` if a
    human-readable census is wanted)."""
    return (
        lines.groupBy("h")
        .agg(F.count_distinct(F.col("id")).alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
    )


def remove_duplicate_lines(
    df: DataFrame,
    min_docs: int = 2,
    keep_first: bool = False,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = "\n",
) -> DataFrame:
    """Cross-document line-level deduplication — the C4 ("discard all but
    one of any repeated span") / CCNet-RefinedWeb (drop boilerplate lines
    everywhere) corpus-cleaning step, distinct from exact-substring span
    dedup (remove_dup_spans works on word k-grams WITHIN overlapping
    spans; this works on whole delimiter-bounded lines).

    Returns (id_col, n_kept, text): each document reassembled from its
    surviving lines in order (empty string when nothing survives — the
    downstream quality filter's job, matching production pipelines).

    ``keep_first=False`` (CCNet-style) removes a corpus-repeated line from
    EVERY document; ``keep_first=True`` (C4-style) keeps its globally
    first occurrence (min (doc, pos) — a deterministic total order, where
    the papers keep an arbitrary one).

    Scale shape: the line relation shuffles by line hash twice (the
    distinct-doc census and, for keep_first, a first-occurrence window on
    the same key) and by doc id once for the ordered reassembly
    (array_sort(collect(pos, line)) — sort is per-doc, never global). The
    relation feeds the census AND the reassembly, so it is persisted
    (multi-consumer rule). Line text rides only the doc-keyed reassembly
    shuffle — the hash-keyed shuffles move (h, id[, pos]) tuples.
    """
    from pyspark import StorageLevel

    base = df.where(F.col(text_col).isNotNull())
    lines = line_occurrences(df, text_col, id_col, delim).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    dup = duplicate_lines(lines, min_docs).select("h")
    if keep_first:
        from pyspark.sql import Window

        # ONE branch, not an anti/semi union: a union would consume the
        # windowed relation twice and re-run the corpus-wide shuffle+sort
        # per branch (the multi-consumer rule) — a single left join with
        # a dup marker keeps the window single-execution
        w = Window.partitionBy("h").orderBy(F.col("id").asc(), F.col("pos").asc())
        kept = (
            lines.withColumn("_rn", F.row_number().over(w))
            .join(dup.withColumn("_dup", F.lit(True)), "h", "left")
            .where(F.col("_dup").isNull() | (F.col("_rn") == 1))
            .select("id", "pos", "line")
        )
    else:
        kept = lines.join(dup, "h", "left_anti").select("id", "pos", "line")
    assembled = kept.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("line")))
                ),
                lambda s: s["line"],
            ),
            delim,
        ).alias("_text"),
    )
    return (
        base.select(F.col(id_col).alias("id"))
        .join(assembled, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce(F.col("_text"), F.lit("")).alias(text_col),
        )
    )
