"""Physical-plan guards: the plans we designed for are the plans we get.

The 100 TB argument rests on these properties — filters reaching the scan,
projections pruned, dimensions broadcast, codegen covering the hot path —
so they are asserted, not assumed. Plan strings are stable enough for
substring checks across Spark 3.5/4.x.
"""

import pytest

from database_migration_spark import queries as Q

SF = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def _explain(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q1_filter_pushdown_and_pruning(spark):
    plan = _explain(Q.q1_pricing_summary(spark, SF))
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters", 1)[1][:200]
    # projection pruned: unused columns (l_partkey, l_suppkey...) not read
    read = plan.split("ReadSchema", 1)[1][:400]
    assert "l_partkey" not in read and "l_comment" not in read
    # vectorized parquet read + map-side partial aggregation
    assert "Batched: true" in plan
    assert "partial_sum" in plan


def test_q5_dimension_broadcast(spark):
    plan = _explain(Q.q5_region_revenue(spark, SF))
    assert "BroadcastHashJoin" in plan
    # the big fact side must NOT be broadcast: exactly the dim joins are
    assert plan.count("BroadcastExchange") >= 2


def test_q3_broadcast_customer(spark):
    plan = _explain(Q.q3_top_orders(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters" in plan  # c_mktsegment / o_orderdate filters


def test_merge_anti_join_shape(spark):
    plan = _explain(Q.delta_merge_orders(spark, SF))
    assert "LeftAnti" in plan  # the MERGE rewrite survives optimization


def test_star_fact_no_shuffle_of_fact(spark):
    plan = _explain(Q.star_fact_orders(spark, SF))
    assert "BroadcastHashJoin" in plan  # dims broadcast into the fact


def test_minhash_no_cartesian(spark):
    """The LSH candidate join must be an equi-join on (band,key), never a
    cartesian product — the whole point of banding."""
    df = Q.minhash_lsh_pairs(spark, SF)
    plan = _explain(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_exact_dedup_partial_aggregation(spark):
    """groupBy(fingerprint) must map-side combine (partial_ functions)."""
    plan = _explain(Q.dedup_exact_documents(spark, SF))
    assert "partial_min" in plan or "partial_count" in plan


def test_dup_span_no_cartesian_no_count_distinct(spark):
    """dup_span_coverage: shared-gram detection must be a min/max aggregate
    (map-side combinable), never count_distinct's Expand, and the gram
    self-match must be a keyed join, never a cartesian product."""
    from database_migration_spark.operators.dedup import dup_span_coverage

    df = Q.table(spark, SF, "documents")
    plan = _explain(dup_span_coverage(df, k=5))
    assert "CartesianProduct" not in plan
    assert "Expand" not in plan  # the count_distinct shape we avoided
    assert "partial_min" in plan and "partial_max" in plan


def test_span_dedup_multi_consumer_persist(spark):
    """The multi-consumer base relations of the span-dedup pair must read
    from an InMemoryRelation, not re-derive from parquet per branch —
    dup_span_coverage persists grams (2 consumers), remove_duplicated_spans
    persists base (3 consumers). Exactly one documents FileScan each: the
    re-split/re-hash-per-branch shape costs a full corpus re-scan at scale."""
    from database_migration_spark.operators.dedup import (
        dup_span_coverage,
        remove_duplicated_spans,
    )

    import re

    df = Q.table(spark, SF, "documents")
    for op in (dup_span_coverage, remove_duplicated_spans):
        out = op(df, k=5)
        plan = _explain(out)
        # >= 2 branches must read the cache
        assert plan.count("InMemoryTableScan") >= 2, op.__name__
        # distinct scan nodes: at most one live branch scan plus the one
        # embedded in the InMemoryRelation's cached-plan description
        scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", plan))
        assert len(scan_ids) <= 2, f"{op.__name__}: scans {scan_ids} (persist missing)"
        # free the caches so later tests/bench laps don't inherit the blocks
        spark.catalog.clearCache()


def test_epoch_us_outputs_stay_pushed_down(spark):
    """The round-4 epoch-µs output conversions must not break scan-level
    filter pushdown (q3's date filter) or partial aggregation
    (events_hourly_agg)."""
    plan3 = _explain(Q.q3_top_orders(spark, SF))
    assert "PushedFilters" in plan3
    plan_ev = _explain(Q.events_hourly_agg(spark, SF))
    assert "partial_count" in plan_ev or "partial_sum" in plan_ev


def test_semantic_dedup_persist_and_no_cartesian(spark):
    """semantic_dedup_survivors: the celled relation (signature fold over
    every vector) has 3 consumers — both self-join sides and the survivor
    anti-join base — and must come from cache, not re-fold per branch; the
    intra-cell join must be an equi-join on cell, never a cross product."""
    import re

    from database_migration_spark.operators.similarity import (
        semantic_dedup_survivors,
    )

    emb = Q.table(spark, SF, "embeddings")
    plan = _explain(semantic_dedup_survivors(emb, bits=8))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert plan.count("InMemoryTableScan") >= 3
    scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", plan))
    assert len(scan_ids) <= 2, f"scans {scan_ids} (celled persist missing)"
    spark.catalog.clearCache()


def test_incremental_dedup_persist_and_join_shapes(spark):
    """incremental_dedup: both fingerprint inputs have 3 consumers (exact
    join, banding, signature compare) and must come from cache — the
    fingerprint pass re-shingles the corpus otherwise; every join is an
    equi-join (content_h / band+key / id)."""
    import re

    from pyspark.sql import functions as F

    from database_migration_spark.operators.dedup import (
        fingerprint_store,
        incremental_dedup,
    )

    d = Q.table(spark, SF, "documents").select("doc_id", "text")
    out = incremental_dedup(
        fingerprint_store(d.where(F.col("doc_id") % 2 == 0), k=8),
        fingerprint_store(d.where(F.col("doc_id") % 2 == 1), k=8),
    )
    plan = _explain(out)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert plan.count("InMemoryTableScan") >= 4  # >=2 consumers per side read cache
    # live parquet scans beyond the ones embedded in cached-plan blocks:
    # each side contributes at most its cache-embedded scan pair
    scan_ids = set(re.findall(r"Scan parquet\s+\((\d+)\)", plan))
    assert len(scan_ids) <= 4, f"scans {scan_ids} (fingerprint persist missing)"
    spark.catalog.clearCache()


def test_domain_mix_broadcast_and_pushdown(spark):
    """domain_mix_sample: the weights relation broadcasts (corpus never
    shuffles) and the corpus scan stays a plain filter pass."""
    plan = _explain(Q.QUERIES["domain_mix_sample_documents"](spark, SF))
    assert "BroadcastHashJoin" in plan
    # the only exchange in the plan is the weights broadcast — the corpus
    # itself moves zero bytes
    assert _nodes(plan, "BroadcastExchange") == 1
    assert _nodes(plan, "Exchange") == 0  # no shuffle exchange at all


def test_shard_layout_single_exchange(spark):
    """shard_layout: exactly one hash exchange (into shard groups) and one
    Window node — position and offset share the same sort."""
    plan = _explain(Q.QUERIES["shard_layout_documents"](spark, SF))
    assert _nodes(plan, "Exchange") == 1 and "BroadcastExchange" not in plan
    assert _nodes(plan, "Window") == 1


def _nodes(plan: str, name: str) -> int:
    """Count physical nodes of an exact type in a formatted plan (each node
    appears once in the tree and once in the details as '(n) Name')."""
    import re

    return len(re.findall(rf"^\(\d+\) {name}\s*$", plan, flags=re.M))


def test_minhash_signature_aggregate_runs_once(spark):
    """The banded self-join broadcasts one side, so ReusedExchange cannot
    share the signature aggregate — it must come from the persisted sigs
    relation. Guard: exactly one num_perm-wide min aggregate in the plan
    (an unpersisted plan shows 64 partial_min expressions, one set per
    join side)."""
    from database_migration_spark.operators.dedup import minhash_dedup_pairs

    docs = Q.table(spark, SF, "documents")
    plan = _explain(
        minhash_dedup_pairs(docs, k=8, num_perm=32, bands=4,
                            threshold_permille=800, seed=42)
    )
    assert plan.count("partial_min") <= 32, "signature aggregate duplicated"
    spark.catalog.clearCache()


def test_chunk_documents_no_shuffle(spark):
    """Chunking is the map-side layout pass: no Exchange of any kind — the
    chunk explosion happens inside the scan stage (fan_out's round-robin
    repartition is the only allowed exchange)."""
    plan = _explain(Q.QUERIES["chunk_documents"](spark, SF))
    # fan_out adds exactly one round-robin repartition; nothing else may
    # shuffle (no hash exchange, no broadcast, no sort)
    assert _nodes(plan, "Exchange") <= 1
    assert "hashpartitioning" not in plan
    assert "BroadcastExchange" not in plan and _nodes(plan, "Sort") == 0


def test_bigram_lm_stats_persisted_pairs_single_explode(spark):
    """The (w, nxt) pair relation feeds the token-keyed and successor-keyed
    groupBys; it must come from one persisted relation, not two explodes
    from scan."""
    plan = _explain(Q.QUERIES["bigram_lm_stats"](spark, SF))
    assert plan.count("InMemoryTableScan") >= 2, "pair relation not reused"
    # the one Generate lives INSIDE the cached relation's build plan; a
    # second one would mean a consumer re-exploded from scan
    assert _nodes(plan, "Generate") <= 1, "explode re-ran outside the cache"
    spark.catalog.clearCache()


def test_label_centroids_partial_agg_before_shuffle(spark):
    """Centroid sums must combine map-side: partial_count/partial_sum ahead
    of the (label, dim)-keyed exchange, so shuffle volume is labels x dims
    per partition regardless of corpus size."""
    plan = _explain(Q.QUERIES["embedding_label_centroids"](spark, SF))
    assert "partial_sum" in plan and "partial_count" in plan
    assert _nodes(plan, "Exchange") == 1


def test_cube_single_scan_expand_partial_agg(spark):
    """The CUBE report must be ONE scan + one Expand + a map-side-combined
    aggregate — not four unioned scans; the Expand's 4x rows collapse to
    grouping-sets x group-values per partition before the exchange."""
    plan = _explain(Q.QUERIES["corpus_mix_cube"](spark, SF))
    assert "Expand" in plan
    assert "partial_sum" in plan and "partial_count" in plan
    assert _nodes(plan, "Scan parquet") == 1
    assert _nodes(plan, "Exchange") == 1


def test_embedding_outliers_broadcast_no_corpus_explode(spark):
    """The distance pass must join the corpus against BROADCAST centroid
    arrays and compute the fold map-side: no Generate (explode) on the
    corpus branch, no corpus-keyed exchange beyond the per-label top-k
    window's."""
    plan = _explain(Q.QUERIES["embedding_outliers"](spark, SF))
    assert "BroadcastExchange" in plan
    # exactly one Generate — the centroid aggregate's posexplode over the
    # (tiny) per-label relation; the corpus-side distance is a zip_with
    # fold, never an explode of corpus vectors
    assert _nodes(plan, "Generate") == 1


def test_pivot_single_scan_no_distinct_pass(spark):
    """The explicit-values pivot must read the events ONCE — no
    driver-side distinct job over the pivot column, no second scan. Spark
    compiles it as two stacked aggregates (count keyed by (day, type),
    then pivotfirst keyed by day): both partial-aggregate map-side, so
    each exchange moves at most days×types rows per partition."""
    plan = _explain(Q.QUERIES["events_daily_pivot"](spark, SF))
    assert _nodes(plan, "Scan parquet") == 1
    assert _nodes(plan, "Exchange") == 2
    assert "partial_pivotfirst" in plan and "partial_count" in plan


def test_row_diff_shuffles_only_key_and_hash(spark):
    """rowdiff's 100 TB claim: phase 1's full-outer-join exchanges carry
    ONLY (key, md5) — the md5 is computed below the shuffle and no wide
    column rides it."""
    from database_migration_spark.operators.rowdiff import row_diff

    left = spark.read.parquet(f"{SF}/orders.parquet")
    plan = left._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        row_diff(left, left, ["o_orderkey"])._jdf.queryExecution(), "simple"
    )
    # both exchange inputs are 2-column projections: key + hash alias
    assert "AS _lh" in plan and "AS _rh" in plan
    for side in ("_lh", "_rh"):
        proj = [ln for ln in plan.splitlines()
                if "Project [o_orderkey" in ln and f"AS {side}" in ln]
        assert proj, f"narrow pre-shuffle projection for {side} missing"
        # exactly one top-level output column besides the key: the hash
        assert proj[0].count(" AS ") == 1


def test_corpus_attrition_broadcast_and_single_wide_join(spark):
    """Pipeline plan shape: the benchmark side is BROADCAST (shingle set
    and flag joins — never a corpus-wide shuffle on the shingle key), and
    the annotated corpus is persisted once (InMemoryRelation present)."""
    from database_migration_spark import queries as Q

    df = Q.queries()["corpus_attrition_report"](spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan
    # no cartesian anywhere in the composed pipeline
    assert "CartesianProduct" not in plan


def test_pps_sample_single_exchange_window_pair(spark):
    """PPS sampling plan shape: the per-group running sum and the group
    total are two Window nodes sharing ONE exchange (same partitioning) —
    the operator's only shuffle; no join, no second scan."""
    from database_migration_spark import queries as Q

    plan = plan_of(Q.queries()["pps_sample_documents"](spark, SF))
    # formatted mode prints each node once in the tree ("+- Exchange (3)")
    # and once in the detail list ("(3) Exchange") — count tree references
    assert plan.count("Exchange (") - plan.count("ReusedExchange (") == 1, plan
    assert "Join" not in plan


def test_classifier_is_joinless_single_pass(spark):
    """Hashing-trick classifier plan shape (r12): the linear score folds
    into one row-local aggregate() over the tokenizer's split array — the
    physical plan carries NO join and NO aggregate exchange; the only
    exchange allowed is the fan_out repartition."""
    from database_migration_spark import queries as Q

    plan = plan_of(Q.queries()["quality_classifier_documents"](spark, SF))
    assert "Join" not in plan, plan
    assert "HashAggregate" not in plan, plan
    # formatted plans mention each node twice (tree + detail section);
    # count detail headers "(n) Exchange" — one per physical node
    import re

    exchanges = re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)
    assert len(exchanges) <= 1, exchanges


def test_fan_out_decision_memo(spark, monkeypatch):
    """fan_out keeps no decision memo: every call pays its own fan
    decision, even for an identical relation re-built in the same
    session. The single-row-group documents scan comes back fanned to
    more than one partition with its rows unchanged."""
    from database_migration_spark.functions import parallel

    calls = []
    real = parallel._should_fan

    def counting(df, target, min_bytes=0):
        calls.append(target)
        return real(df, target, min_bytes)

    monkeypatch.setattr(parallel, "_should_fan", counting)
    docs = Q.table(spark, SF, "documents").select("doc_id", "text")
    a = parallel.fan_out(docs)
    b = parallel.fan_out(Q.table(spark, SF, "documents").select("doc_id", "text"))
    assert len(calls) == 2
    assert a.rdd.getNumPartitions() > 1 and b.rdd.getNumPartitions() > 1
    assert a.count() == docs.count()


def test_fan_floor_decides_known_small_without_partition_probe(spark, monkeypatch):
    """Under ``min_bytes`` the size estimate alone decides: the input
    passes through with no plan→RDD partition probe. Above it, the
    estimate (an upper bound) decides nothing and the probe runs."""
    from database_migration_spark.functions import parallel

    docs = Q.table(spark, SF, "documents").select("doc_id", "text")

    def no_probe(_df):
        raise AssertionError("partition probe ran")

    monkeypatch.setattr(type(docs), "rdd", property(no_probe))
    assert parallel.size_estimate(docs) < parallel.SPLIT_BYTES
    assert not parallel._should_fan(docs, 4, min_bytes=parallel.SPLIT_BYTES)
    assert parallel.fan_out(docs, min_bytes=parallel.SPLIT_BYTES) is docs
    with pytest.raises(AssertionError, match="partition probe ran"):
        parallel._should_fan(docs, 4, min_bytes=1)
