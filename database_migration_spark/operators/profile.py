"""Column-level data profiling: the assessment scan before a migration.

The reference's generators size target types from catalog metadata and its
optimizers (datatype_suggestion.sql, the convert_* scripts re-expressed in
operators/optimize_types.py) scan values to shrink them; a migration
assessment wants one step more: the VALUE DISTRIBUTION of each column —
how null, how skewed, what the frequent values are, where the mass sits.
That is what this operator produces, as a tall report relation.

Output schema (one relation for everything, so reports concatenate):

    (table_name, column_name, stat, key, n)

    stat='rows'     key=NULL          n = row count (once per table)
    stat='null'     key=NULL          n = NULL count
    stat='distinct' key=NULL          n = exact distinct (NULLs excluded)
    stat='hist'     key=bucket index  n = rows in equi-width bucket
    stat='topk'     key=value         n = value frequency (k most frequent)

Scale shape:

- rows/null/distinct and ALL histogram buckets come from ONE full scan:
  conditional ``sum(CASE)`` per bucket plus count_distinct, all map-side
  partially aggregated into a single wide row that is then unpivoted
  driver-free (the validate.py MIG_CHK pattern). Histogram bounds come
  from a preliminary min/max-only scan (one short row to the driver —
  the same bounded collect the reference's optimizers do).
- top-k frequent values is a ``groupBy(value)`` per requested column —
  rewritten as ONE scan over an exploded (column, value) stream so the
  shuffle is a single skinny (string, string) relation with map-side
  combine, then a per-column row_number ≤ k window over the (tiny)
  distinct-value counts. Exact top-k is inherently a value shuffle; cap
  the column list, not the semantics. NULLs are excluded (they are
  already counted by stat='null').

Histogram exactness: buckets are computed in exact fixed-point arithmetic
— ``(v - min) * bins div (max - min + 1)`` with DECIMAL(38,0) operands
(DuckDB: HUGEINT with ``//``) — so the bucket of every value is
engine-exact and the multiply cannot overflow 64 bits. Histograms therefore
apply to integral columns; fractional columns should be quantized by the
caller first (e6 fixed-point, the repo-wide convention) — never
double-divided (the 2^53 floor-rounding trap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def profile_table(
    df: DataFrame,
    table_name: str,
    hist_cols: list[str] | None = None,
    topk_cols: list[str] | None = None,
    bins: int = 10,
    k: int = 5,
    distinct_mode: str = "exact",
    fan_key: str | None = None,
) -> DataFrame:
    """Tall profile report for ``df`` (see module docstring for schema).

    ``hist_cols`` defaults to every integral column; ``topk_cols`` defaults
    to every string column. Rows order: deterministic by (column, stat,
    key) — callers sort for display.

    ``distinct_mode="approx"`` swaps the exact per-column count_distinct
    (an Expand branch per column — the term that grows at 100 TB, the
    mig_check x100 lesson) for an HLL sketch: still one scan, no Expand.
    Exact stays the default so the report is oracle-reproducible; approx
    is the recurring-monitoring mode, same convention as
    ``validate.compute_metrics``.
    """
    if hist_cols is None:
        hist_cols = [
            f.name for f in df.schema.fields if isinstance(f.dataType, _INTEGRAL)
        ]
    if topk_cols is None:
        topk_cols = [
            f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)
        ]
    bad = [c for c in hist_cols if not isinstance(df.schema[c].dataType, _INTEGRAL)]
    if bad:
        raise ValueError(
            f"hist_cols must be integral (exact bucket arithmetic): {bad} — "
            "quantize fractional columns to fixed-point first"
        )

    cols = df.columns

    # pass 1: histogram bounds only — one aggregated row to the driver
    bounds = {}
    if hist_cols:
        row = df.agg(
            *[F.min(c).cast("long").alias(f"mn_{c}") for c in hist_cols],
            *[F.max(c).cast("long").alias(f"mx_{c}") for c in hist_cols],
        ).collect()[0]
        bounds = {
            c: (row[f"mn_{c}"], row[f"mx_{c}"])
            for c in hist_cols
            if row[f"mn_{c}"] is not None
        }

    # pass 2: one scan → one wide row (counts, nulls, distincts, buckets).
    # The exact distinct counts live in their OWN narrow aggregate (the
    # validate.compute_metrics_wide split): exact COUNT(DISTINCT) over N
    # columns uses Spark's Expand (input duplicated once per distinct
    # aggregate), and keeping the plain null/hist counters out of that
    # aggregate keeps the expanded stream N× thinner. Both aggregates
    # consume the same fanned-out exchange (ReusedExchange — the input
    # moves once), which also repairs parallelism on single-row-group
    # files: without the fan_out the whole Expand pass ran on ONE task
    # (r12 opt round: profile_orders exec 3.17 s → see OPTIMIZATION_r12).
    if distinct_mode not in ("exact", "approx"):
        raise ValueError(f"distinct_mode must be exact|approx, got {distinct_mode!r}")
    aggs = [F.count(F.lit(1)).alias("rows__")]
    distinct_aggs = []
    for c in cols:
        aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"null__{c}"))
        if distinct_mode == "approx":
            # HLL sketch: single pass, no Expand — rides the plain aggregate
            aggs.append(F.approx_count_distinct(F.col(c)).alias(f"dist__{c}"))
        else:
            distinct_aggs.append(F.count_distinct(F.col(c)).alias(f"dist__{c}"))
    for c, (vmin, vmax) in bounds.items():
        span = vmax - vmin + 1
        for b in range(bins):
            # bucket membership via exact fixed-point arithmetic — `div`,
            # not `/` (long / long is DOUBLE division in Spark and rounds
            # above 2^53 before any floor), and DECIMAL(38,0) operands so
            # (v - min) * bins cannot overflow BIGINT for any 64-bit
            # input; v >= vmin so div == floor
            cond = (
                F.expr(
                    f"((CAST(`{c}` AS DECIMAL(38,0)) - {vmin}) * {bins}) "
                    f"div {span}"
                )
                == F.lit(b)
            ) & F.col(c).isNotNull()
            aggs.append(F.count(F.when(cond, 1)).alias(f"hist__{c}__{b}"))
    from database_migration_spark.functions.parallel import fan_out

    # fan_key (the table's PK when the caller knows it) = hash fan-out,
    # skipping round-robin's serial full-row sort (functions/parallel.py)
    fanned = fan_out(df, key=fan_key)
    wide = fanned.agg(*aggs)
    if distinct_aggs:
        # both aggregates read every column, so the two exchange subplans
        # canonicalize identically and the shuffle is planned once
        wide = wide.crossJoin(fanned.agg(*distinct_aggs))

    # unpivot the wide row into the tall report without touching the
    # driver — ONE stack (the 'rows' stat rides along), so the wide
    # aggregate (and its scan) is planned exactly once
    exprs = [("rows", None, "CAST(NULL AS STRING)", "rows__")]
    for c in cols:
        exprs.append(("null", c, "CAST(NULL AS STRING)", f"null__{c}"))
        exprs.append(("distinct", c, "CAST(NULL AS STRING)", f"dist__{c}"))
    for c, _ in bounds.items():
        for b in range(bins):
            exprs.append(("hist", c, f"'{b}'", f"hist__{c}__{b}"))
    stack_rows = ", ".join(
        f"'{stat}', "
        + ("CAST(NULL AS STRING)" if c is None else f"'{c}'")
        + f", {key}, {src}"
        for stat, c, key, src in exprs
    )
    out = wide.selectExpr(
        f"stack({len(exprs)}, {stack_rows}) AS (stat, column_name, key, n)"
    ).select(
        F.lit(table_name).alias("table_name"), "column_name", "stat", "key", "n"
    )

    # top-k frequent values: one exploded scan, map-side combined counts,
    # per-column bounded window over the distinct-value relation
    if topk_cols:
        from pyspark.sql import Window

        pairs = fanned.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("column_name"),
                            F.col(c).cast("string").alias("key"),
                        )
                        for c in topk_cols
                    ]
                )
            ).alias("p")
        ).select("p.column_name", "p.key").where(F.col("key").isNotNull())
        counts = pairs.groupBy("column_name", "key").agg(F.count(F.lit(1)).alias("n"))
        w = Window.partitionBy("column_name").orderBy(
            F.col("n").desc(), F.col("key").asc()
        )
        top = (
            counts.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= k)
            .select(
                F.lit(table_name).alias("table_name"),
                "column_name",
                F.lit("topk").alias("stat"),
                "key",
                "n",
            )
        )
        out = out.unionByName(top)
    return out


def equi_depth_bounds(
    df: DataFrame,
    column: str,
    buckets: int = 10,
) -> DataFrame:
    """Equi-DEPTH histogram boundaries: the smallest value v such that at
    least ``ceil(n * b / buckets)`` rows have ``column <= v``, for b in
    1..buckets — i.e. exact discrete quantiles. The profiler's equi-width
    histogram collapses under skew (one hot bucket); equi-depth bounds
    are what range-partitioners, binpack range splits and skew diagnoses
    actually want. NULLs are excluded (counted by the profiler).

    Scale shape: NO global sort of the data. One groupBy(value) count
    (map-side combined), then a running-total window over the DISTINCT-
    value relation — |distinct| rows, not |table| — and one aggregation
    picking each boundary. Rank-based boundaries are deterministic even
    under ties (the sorted multiset is unique as values), so an external
    oracle reproduces them exactly; no interpolation, no floats.

    Output: (bucket, boundary, cum_rows) — boundary is the raw column
    value (MAX of the column for b = buckets by construction).
    """
    from pyspark.sql import Window

    vals = (
        df.where(F.col(column).isNotNull())
        .groupBy(F.col(column).alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = vals.withColumn("cum", F.sum("c").over(w))
    n = F.max("cum").over(Window.partitionBy())
    # target rank for bucket b: ceil(n*b/B) in exact integer arithmetic
    b = F.explode(F.sequence(F.lit(1), F.lit(buckets))).alias("bucket")
    targets = cum.select("v", "cum", n.alias("n")).select("v", "cum", "n", b)
    # ceil(n*b/B) as (n*b + B-1) div B — all operands POSITIVE, where
    # truncating (Spark div) and flooring (DuckDB //) division agree;
    # the -((-x) div B) ceil trick does NOT port (div truncates toward
    # zero, // floors)
    target = F.expr(f"(n * bucket + {buckets - 1}) div {buckets}")
    return (
        targets.where(F.col("cum") >= target)
        .groupBy("bucket")
        .agg(
            F.min("v").alias("boundary"),
            F.min("cum").alias("cum_rows"),
        )
        .orderBy("bucket")
    )


def fd_candidates(
    df: DataFrame,
    pairs: list[tuple[str, str]],
) -> DataFrame:
    """Functional-dependency check: for each (determinant, dependent)
    pair, does A → B hold — i.e. does every A value map to exactly one B
    value? The normalization half of a migration assessment: a column
    functionally determined by another is a dimension-table candidate
    (the flat→star path `star_schema.build_dimension` then materializes),
    and a violated "should-hold" FD is a data-quality finding.

    A → B holds iff ``count_distinct(A) == count_distinct(A, B)`` —
    checked for EVERY requested pair in ONE scan of the two-column
    projections (each count_distinct partially aggregates map-side; cap
    the pair list, each adds an Expand branch). NULL is treated as a
    value on both sides (a NULL dependent under one determinant still
    violates uniqueness if another value exists), via the same
    length-prefixed canonical rendering rowdiff uses — Spark's
    multi-argument count_distinct would instead silently DROP rows
    containing any NULL.

    Output: (determinant, dependent, n_determinant, n_pairs, holds).
    """
    from database_migration_spark.operators.rowdiff import _canonical_sql

    for a, b in pairs:
        for c in (a, b):
            if c not in df.columns:
                raise ValueError(f"unknown column {c!r}")
    aggs = []
    for i, (a, b) in enumerate(pairs):
        aggs.append(
            F.expr(f"count(DISTINCT {_canonical_sql(a)}) AS `da__{i}`")
        )
        aggs.append(
            F.expr(
                f"count(DISTINCT concat({_canonical_sql(a)},"
                f" {_canonical_sql(b)})) AS `dab__{i}`"
            )
        )
    wide = df.agg(*aggs)
    stack_rows = ", ".join(
        f"'{a}', '{b}', da__{i}, dab__{i}" for i, (a, b) in enumerate(pairs)
    )
    return wide.selectExpr(
        f"stack({len(pairs)}, {stack_rows}) "
        "AS (determinant, dependent, n_determinant, n_pairs)"
    ).select(
        "determinant",
        "dependent",
        "n_determinant",
        "n_pairs",
        (F.col("n_determinant") == F.col("n_pairs")).alias("holds"),
    )


def profile_oracle_sql(
    table_name: str,
    columns: list[str],
    hist_bounds: dict[str, tuple[int, int]],
    topk_cols: list[str],
    bins: int = 10,
    k: int = 5,
) -> str:
    """DuckDB SQL computing the identical report (test/oracle aid) —
    bounds are passed in because the oracle, like the operator, derives
    them from the data's min/max; callers inline the known fixture values
    or a scalar subquery."""
    parts = [
        f"SELECT '{table_name}' AS table_name, CAST(NULL AS VARCHAR) AS column_name, "
        f"'rows' AS stat, CAST(NULL AS VARCHAR) AS key, count(*) AS n FROM {table_name}"
    ]
    for c in columns:
        parts.append(
            f"SELECT '{table_name}', '{c}', 'null', NULL, "
            f"count(*) FILTER (WHERE {c} IS NULL) FROM {table_name}"
        )
        parts.append(
            f"SELECT '{table_name}', '{c}', 'distinct', NULL, "
            f"count(DISTINCT {c}) FROM {table_name}"
        )
    for c, (vmin, vmax) in hist_bounds.items():
        span = vmax - vmin + 1
        parts.append(
            f"SELECT '{table_name}', '{c}', 'hist', CAST(b AS VARCHAR), "
            f"count(*) FILTER (WHERE ((CAST({c} AS HUGEINT) - {vmin}) * {bins})"
            f" // {span} = b AND {c} IS NOT NULL) "
            f"FROM {table_name}, (SELECT unnest(range({bins})) AS b) GROUP BY b"
        )
    for c in topk_cols:
        parts.append(
            f"SELECT '{table_name}', '{c}', 'topk', key, n FROM ("
            f"SELECT CAST({c} AS VARCHAR) AS key, count(*) AS n, "
            f"row_number() OVER (ORDER BY count(*) DESC, CAST({c} AS VARCHAR) ASC) AS r "
            f"FROM {table_name} WHERE {c} IS NOT NULL GROUP BY CAST({c} AS VARCHAR)"
            f") WHERE r <= {k}"
        )
    return "\nUNION ALL\n".join(parts)


# ---------------------------------------------------------------------------
# Distribution-key advisor
# ---------------------------------------------------------------------------

def distribution_key_advisor(
    df: DataFrame, candidates: list[str], n_buckets: int = 128
) -> DataFrame:
    """Rank candidate distribution keys by measured skew, not guesswork.

    The reference's generators emit ``DISTRIBUTE BY`` straight from the
    source catalog (dialects' dist/partition metadata feeding plans/ddl.py);
    when the source has no distribution metadata — or had a bad one — the
    migration engineer must pick a key. This operator measures what
    actually matters for that choice, per candidate column:

        column_name        the candidate
        n_null             rows that would all co-locate in the NULL slot
        n_distinct         exact distinct non-null values
        top1_cnt           frequency of the heaviest single value
        top1_share_ppm     top1_cnt / non-null rows, integer ppm
        max_bucket_cnt     heaviest of ``n_buckets`` md5-hash buckets
        max_bucket_share_ppm  its share of non-null rows, integer ppm
                              (1e6 / n_buckets == perfectly even)

    Scale shape: the candidates are unpivoted into ONE skinny
    ``(column_name, md5(value))`` stream in a single scan (``stack``), then
    aggregated twice over value-hash groups — per-value counts first
    (map-side combined), then the tiny per-value relation rolls up to
    per-candidate stats and per-bucket loads. No full-value shuffle: the
    hash is 8 bytes regardless of key width. All shares are integer ppm
    (DECIMAL(38,0) multiply, integral division) — the cross-engine exact
    rule; counts up to 1e12 rows cannot overflow.
    """
    from database_migration_spark.functions.hashing import md5_long

    if not candidates:
        raise ValueError("need at least one candidate column")
    b = int(n_buckets)
    if b <= 0:
        raise ValueError("n_buckets must be positive")
    stack_args = ", ".join(
        f"'{c}', CAST({c} AS STRING)" for c in candidates
    )
    stacked = df.select(
        F.expr(f"stack({len(candidates)}, {stack_args}) AS (column_name, key_str)")
    )
    per_value = stacked.groupBy(
        "column_name", md5_long(F.col("key_str")).alias("vh")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    per_value = per_value.persist()

    stats = per_value.groupBy("column_name").agg(
        F.coalesce(F.sum(F.when(F.col("vh").isNull(), F.col("cnt"))), F.lit(0)).alias("n_null"),
        F.count(F.when(F.col("vh").isNotNull(), F.lit(1))).alias("n_distinct"),
        F.coalesce(F.max(F.when(F.col("vh").isNotNull(), F.col("cnt"))), F.lit(0)).alias("top1_cnt"),
        F.coalesce(F.sum(F.when(F.col("vh").isNotNull(), F.col("cnt"))), F.lit(0)).alias("n_nonnull"),
    )
    buckets = (
        per_value.where(F.col("vh").isNotNull())
        .groupBy("column_name", F.pmod(F.col("vh"), F.lit(b)).alias("bucket"))
        .agg(F.sum("cnt").alias("load"))
        .groupBy("column_name")
        .agg(F.max("load").alias("max_bucket_cnt"))
    )
    ppm = "CAST(CAST({num} AS DECIMAL(38,0)) * 1000000 AS DECIMAL(38,0)) div CAST({den} AS DECIMAL(38,0))"
    out = (
        stats.join(buckets, "column_name", "left")
        .select(
            "column_name",
            "n_null",
            "n_distinct",
            "top1_cnt",
            F.when(
                F.col("n_nonnull") > 0,
                F.expr(ppm.format(num="top1_cnt", den="n_nonnull")),
            ).alias("top1_share_ppm"),
            F.coalesce(F.col("max_bucket_cnt"), F.lit(0)).alias("max_bucket_cnt"),
            F.when(
                F.col("n_nonnull") > 0,
                F.expr(ppm.format(num="coalesce(max_bucket_cnt, 0)", den="n_nonnull")),
            ).alias("max_bucket_share_ppm"),
        )
    )
    return out


def distribution_key_advisor_oracle_sql(
    table_name: str, candidates: list[str], n_buckets: int = 128
) -> str:
    """DuckDB-equivalent SQL for distribution_key_advisor (same md5 hash,
    same ppm arithmetic, same NULL conventions)."""
    from database_migration_spark.functions.hashing import md5_long_sql

    b = int(n_buckets)
    unions = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS column_name, CAST({c} AS VARCHAR) AS key_str FROM {table_name}"
        for c in candidates
    )
    vh = md5_long_sql("key_str")
    return f"""
WITH stacked AS ({unions}),
per_value AS (
  SELECT column_name, {vh} AS vh, count(*) AS cnt
  FROM stacked GROUP BY column_name, {vh}
),
stats AS (
  SELECT column_name,
         coalesce(sum(cnt) FILTER (WHERE vh IS NULL), 0) AS n_null,
         count(*) FILTER (WHERE vh IS NOT NULL) AS n_distinct,
         coalesce(max(cnt) FILTER (WHERE vh IS NOT NULL), 0) AS top1_cnt,
         coalesce(sum(cnt) FILTER (WHERE vh IS NOT NULL), 0) AS n_nonnull
  FROM per_value GROUP BY column_name
),
buckets AS (
  SELECT column_name, max(load) AS max_bucket_cnt FROM (
    SELECT column_name, vh % {b} AS bucket, sum(cnt) AS load
    FROM per_value WHERE vh IS NOT NULL GROUP BY column_name, vh % {b}
  ) GROUP BY column_name
)
SELECT s.column_name,
       CAST(s.n_null AS BIGINT) AS n_null,
       CAST(s.n_distinct AS BIGINT) AS n_distinct,
       CAST(s.top1_cnt AS BIGINT) AS top1_cnt,
       CAST(CASE WHEN s.n_nonnull > 0
            THEN CAST(s.top1_cnt AS HUGEINT) * 1000000 // s.n_nonnull
       END AS BIGINT) AS top1_share_ppm,
       CAST(coalesce(b.max_bucket_cnt, 0) AS BIGINT) AS max_bucket_cnt,
       CAST(CASE WHEN s.n_nonnull > 0
            THEN CAST(coalesce(b.max_bucket_cnt, 0) AS HUGEINT) * 1000000 // s.n_nonnull
       END AS BIGINT) AS max_bucket_share_ppm
FROM stats s LEFT JOIN buckets b USING (column_name)
"""
