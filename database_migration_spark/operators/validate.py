"""Migration validation by metric diffing (the reference's CHECK_MIGRATION).

The reference computes, per table and per system, ONE single-scan wide row of
metrics — table row count; per column NULL count, MIN, MAX, SUM (exact
numerics only), COUNT(DISTINCT), char-length MIN/MAX; temporal values
formatted to-the-second text — into ``<table>_MIG_CHK``, then unpivots both
sides into a per-schema comparison with STATUS OK/DEVIATION
(/root/reference/mysql_to_exasol.sql:249-318 — metric ids 0-7 and the
"single scan" comment at :249-252; /root/reference/oracle_to_exasol.sql:587-802
adds AVG / MEDIAN / mode).

Spark shape: :func:`validate_pair` unions both sides under a ``__side`` tag
and runs ONE aggregate grouped by side — one scan per side, map-side
partial aggregation and whole-stage codegen for free, one Spark action per
table — then diffs the two collected metric rows on the driver. A column
whose type differs between the sides travels as two union columns, so each
side keeps its own type (a union would widen it). :func:`compute_metrics`
and :func:`compare_metrics` keep the lazy single-relation form (wide row,
``stack()`` unpivot, full outer join) for queries that must stay
DataFrames. Metric values are normalized to strings the same way on both
systems (DECIMAL-stringified numerics, to-the-second timestamps) so a
faithful copy yields ZERO deviation rows.

Scale note: exact COUNT(DISTINCT) over many columns in one aggregate uses
Spark's Expand (one duplicated stream per distinct aggregate). At 100 TB
prefer ``distinct_mode="approx"`` (HLL sketch, still single-pass, no Expand)
for monitoring; exact mode is for migration sign-off where equality matters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

# metric ids follow mysql_to_exasol.sql:269-289
METRIC_ROW_CNT = "ROW_CNT"
METRIC_NULLS = "NULL_CNT"
METRIC_MIN = "MIN_VAL"
METRIC_MAX = "MAX_VAL"
METRIC_SUM = "SUM_VAL"
METRIC_DISTINCT = "DISTINCT_CNT"
METRIC_MIN_LEN = "MIN_LEN"
METRIC_MAX_LEN = "MAX_LEN"

_EXACT_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.DecimalType)
_ANY_NUMERIC = _EXACT_NUMERIC + (T.FloatType, T.DoubleType)
_TEMPORAL = (T.DateType, T.TimestampType, T.TimestampNTZType)


def _norm_sql(expr: str, dtype: T.DataType) -> str:
    """Render a metric value as comparison-stable text (SQL form).

    Timestamps to the second (the reference compares dates as to-the-second
    text — mysql_to_exasol.sql:279), floats through DECIMAL(38,6) so the two
    systems print identically, exact numerics via plain CAST.
    """
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return f"date_format({expr}, 'yyyy-MM-dd HH:mm:ss')"
    if isinstance(dtype, T.DateType):
        return f"date_format({expr}, 'yyyy-MM-dd')"
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return f"string(cast({expr} AS DECIMAL(38,6)))"
    return f"string({expr})"


def metric_exprs(
    df: DataFrame,
    columns: list[str] | None = None,
    distinct_mode: str = "exact",
    extended: bool = False,
) -> tuple[list[Column], list[Column]]:
    """All metric expressions for one table, split into (plain, distinct).

    The split matters for the physical plan: exact COUNT(DISTINCT) uses
    Spark's Expand (input duplicated once per distinct aggregate). Keeping
    the distinct aggregates in their own narrow aggregate means Expand
    carries ONLY the counted columns, not every min/max/sum expression —
    at N distinct columns that's an N× thinner expanded stream.

    Each metric renders as ONE SQL string / ``F.expr`` (the r12
    convention: the chained-Column form cost ~6 py4j round-trips per
    metric × ~55 metrics × 2 comparison legs of pure driver time).

    Output column naming: ``<metric>__<column>`` (ROW_CNT has no column).
    """
    cols = df.columns if columns is None else columns
    schema = {f.name: f.dataType for f in df.schema.fields}
    exprs: list[str] = ["string(count(1)) AS `ROW_CNT__`"]
    distinct_exprs: list[str] = []
    for c in cols:
        dt = schema[c]
        q = f"`{c}`"
        # count(*) - count(col): same null count, no per-row cast+sum
        exprs.append(
            f"string(count(1) - count({q})) AS `{METRIC_NULLS}__{c}`"
        )
        exprs.append(f"{_norm_sql(f'min({q})', dt)} AS `{METRIC_MIN}__{c}`")
        exprs.append(f"{_norm_sql(f'max({q})', dt)} AS `{METRIC_MAX}__{c}`")
        if isinstance(dt, _EXACT_NUMERIC):
            # SUM only over exact numerics to stay cross-system comparable
            # (the reference sums over Decimal to avoid wraparound —
            # README.md:155-162). The accumulator precision is dtype-aware:
            # int32-and-smaller inputs accumulate at DECIMAL(28,6) — the
            # sum's result type already hits the (38,6) cap, which skips
            # per-row precision promotion (~40% faster) and 10^22 of
            # headroom cannot wrap for ≤4-byte values even at 10^12 rows —
            # while BIGINT and wide DECIMAL inputs keep the full (38,6)
            # cast (10^32 headroom): their values can legitimately sum past
            # 10^22 and an ANSI overflow would kill the whole metric job.
            # Output strings are identical in either path.
            narrow = isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType))
            acc = "DECIMAL(28,6)" if narrow else "DECIMAL(38,6)"
            exprs.append(
                f"string(cast(sum(cast({q} AS {acc})) AS DECIMAL(38,6)))"
                f" AS `{METRIC_SUM}__{c}`"
            )
        if distinct_mode == "approx":
            # HLL sketch: single pass, no Expand — the 100 TB monitoring mode
            exprs.append(
                f"string(approx_count_distinct({q}))"
                f" AS `{METRIC_DISTINCT}__{c}`"
            )
        else:
            distinct_exprs.append(
                f"string(count(DISTINCT {q})) AS `{METRIC_DISTINCT}__{c}`"
            )
        if isinstance(dt, T.StringType):
            exprs.append(
                f"string(min(length({q}))) AS `{METRIC_MIN_LEN}__{c}`"
            )
            exprs.append(
                f"string(max(length({q}))) AS `{METRIC_MAX_LEN}__{c}`"
            )
        if extended and isinstance(dt, _ANY_NUMERIC):
            # Oracle extras (oracle_to_exasol.sql:630-683): AVG and MEDIAN
            exprs.append(
                f"string(cast(avg(cast({q} AS DOUBLE)) AS DECIMAL(38,6)))"
                f" AS `AVG_VAL__{c}`"
            )
            exprs.append(
                f"string(cast(median(cast({q} AS DOUBLE)) AS DECIMAL(38,6)))"
                f" AS `MEDIAN_VAL__{c}`"
            )
    return [F.expr(e) for e in exprs], [F.expr(e) for e in distinct_exprs]


def compute_metrics_wide(
    df: DataFrame,
    columns: list[str] | None = None,
    distinct_mode: str = "exact",
    extended: bool = False,
    fan_key: str | None = None,
) -> DataFrame:
    """The ``<table>_MIG_CHK`` wide row.

    Two scans max: one for every plain metric (single aggregate, map-side
    combined), one narrow Expand pass for the exact distinct counts; the
    1-row results cross-join back together. An input whose Expand work
    reaches one split is fanned out first (:func:`expand_fan_floor`) —
    single-row-group files otherwise serialize it onto a core.
    """
    from database_migration_spark.functions.parallel import fan_out

    plain, distinct = metric_exprs(df, columns, distinct_mode, extended)
    if not distinct:
        # single aggregate, single scan — map-side combine, no repartition
        return df.agg(*plain)
    # exact mode: once the Expand's work reaches one split (see
    # expand_fan_floor), BOTH aggregates consume the same fanned-out
    # exchange (one shuffle, two consumers — Spark reuses the exchange),
    # so the distinct side's Expand runs parallel and the input moves
    # once. fan_key (the table's PK when the caller knows it) switches the
    # fan to hash partitioning — skips round-robin's serial full-row sort
    # (r12 opt round: mig_check_lineitem exec 2.10 → see OPTIMIZATION_r12).
    fanned = fan_out(df, key=fan_key, min_bytes=expand_fan_floor(len(distinct)))
    dcols = [c for c in (columns or df.columns)]
    # a select() that keeps every column anyway would still make the two
    # exchange subplans textually differ and defeat ReusedExchange — only
    # project when the distinct side genuinely reads fewer columns
    dside = fanned if dcols == df.columns else fanned.select(dcols)
    return fanned.agg(*plain).crossJoin(dside.agg(*distinct))


def expand_fan_floor(n_distinct: int) -> int:
    """``fan_out``'s ``min_bytes`` for an aggregate with ``n_distinct``
    exact COUNT(DISTINCT)s: fan only when the Expand's volume — the
    input's size estimate × ``n_distinct`` — reaches one split, the work
    Spark itself gives one task. Below that, the round-robin fan's sort
    and shuffle of every row cost more than the single-task aggregate
    (``scale_probe.py --validate-fan``, lineitem pair on 4 cores: 1.93 s
    gated vs 2.42 s fanned at sf0.01, where the partition-count rule
    alone would fan). Above it the partition probe decides, as it does
    for every ``fan_out`` caller."""
    from database_migration_spark.functions.parallel import SPLIT_BYTES

    return -(-SPLIT_BYTES // n_distinct)


def compute_metrics(
    df: DataFrame,
    table_name: str,
    columns: list[str] | None = None,
    distinct_mode: str = "exact",
    extended: bool = False,
    fan_key: str | None = None,
) -> DataFrame:
    """Long-form metrics: (table_name, column_name, metric, value).

    Wide row → ``stack()`` unpivot (the reference unpivots via a metric-id
    cross join — mysql_to_exasol.sql:266-267; stack is the Spark idiom).
    """
    wide = compute_metrics_wide(df, columns, distinct_mode, extended, fan_key)
    pairs = []
    for fname in wide.columns:
        metric, _, colname = fname.partition("__")
        pairs.append((metric, colname, fname))
    stack_args = ", ".join(
        f"'{m}', '{c}', `{f}`" for m, c, f in pairs
    )
    long_df = wide.selectExpr(
        f"stack({len(pairs)}, {stack_args}) as (metric, column_name, value)"
    )
    return long_df.select(
        F.lit(table_name).alias("table_name"),
        "column_name",
        "metric",
        "value",
    )


def compare_metrics(ours: DataFrame, theirs: DataFrame) -> DataFrame:
    """Join the two systems' metric rows → OK/DEVIATION summary.

    Reference: ``<schema>_MIG_CHK`` comparison (mysql_to_exasol.sql:301-318,
    oracle_to_exasol.sql:786-802). Null-safe equality so NULL==NULL is OK.
    The metric side is tiny (O(tables × columns × 8)) → broadcast join.
    """
    keys = ["table_name", "column_name", "metric"]
    a = ours.withColumnRenamed("value", "value_a")
    b = theirs.withColumnRenamed("value", "value_b")
    # metric sides are tiny (O(tables × columns × 8) rows); the full-outer
    # join cannot broadcast-build, but AQE will pick a cheap plan.
    joined = a.join(b, keys, "full_outer")
    return joined.select(
        *keys,
        "value_a",
        "value_b",
        F.when(F.col("value_a").eqNullSafe(F.col("value_b")), F.lit("OK"))
        .otherwise(F.lit("DEVIATION"))
        .alias("status"),
    )


def metric_kind(dtype: T.DataType) -> str:
    """Bucket a Spark type for metric selection: exact | double | string |
    timestamp | date | other."""
    if isinstance(dtype, _EXACT_NUMERIC):
        return "exact"
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return "double"
    if isinstance(dtype, T.StringType):
        return "string"
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(dtype, T.DateType):
        return "date"
    return "other"


def oracle_metrics_sql(table_name: str, columns: list[tuple[str, str]]) -> str:
    """ANSI/DuckDB SQL computing the *same* long-form metrics as
    :func:`compute_metrics` — used as the external correctness oracle. The
    wide aggregate runs once in a CTE; the unpivot is a UNION ALL over it.

    ``columns``: (name, kind) pairs where kind ∈ metric_kind() values.
    Value normalization mirrors _norm(): timestamps to-the-second text,
    doubles through DECIMAL(38,6), everything else plain CAST to VARCHAR.
    """

    def vnorm(expr: str, kind: str) -> str:
        if kind == "timestamp":
            return f"strftime({expr}, '%Y-%m-%d %H:%M:%S')"
        if kind == "date":
            return f"strftime({expr}, '%Y-%m-%d')"
        if kind == "double":
            return f"CAST(CAST({expr} AS DECIMAL(38,6)) AS VARCHAR)"
        return f"CAST({expr} AS VARCHAR)"

    aggs = ["count(*) AS row_cnt"]
    rows = [f"SELECT '' AS column_name, 'ROW_CNT' AS metric, CAST(row_cnt AS VARCHAR) AS value FROM w"]
    for name, kind in columns:
        q = f'"{name}"'
        aggs.append(f"sum(CASE WHEN {q} IS NULL THEN 1 ELSE 0 END) AS nulls_{name}")
        aggs.append(f"{vnorm(f'min({q})', kind)} AS min_{name}")
        aggs.append(f"{vnorm(f'max({q})', kind)} AS max_{name}")
        aggs.append(f"count(DISTINCT {q}) AS dist_{name}")
        rows.append(
            f"SELECT '{name}', '{METRIC_NULLS}', CAST(nulls_{name} AS VARCHAR) FROM w"
        )
        rows.append(f"SELECT '{name}', '{METRIC_MIN}', min_{name} FROM w")
        rows.append(f"SELECT '{name}', '{METRIC_MAX}', max_{name} FROM w")
        rows.append(
            f"SELECT '{name}', '{METRIC_DISTINCT}', CAST(dist_{name} AS VARCHAR) FROM w"
        )
        if kind == "exact":
            aggs.append(
                f"CAST(CAST(sum({q}) AS DECIMAL(38,6)) AS VARCHAR) AS sum_{name}"
            )
            rows.append(f"SELECT '{name}', '{METRIC_SUM}', sum_{name} FROM w")
        if kind == "string":
            aggs.append(f"min(length({q})) AS minlen_{name}")
            aggs.append(f"max(length({q})) AS maxlen_{name}")
            rows.append(
                f"SELECT '{name}', '{METRIC_MIN_LEN}', CAST(minlen_{name} AS VARCHAR) FROM w"
            )
            rows.append(
                f"SELECT '{name}', '{METRIC_MAX_LEN}', CAST(maxlen_{name} AS VARCHAR) FROM w"
            )
    body = "\nUNION ALL\n".join(rows)
    return (
        f"WITH w AS (SELECT {', '.join(aggs)} FROM {table_name})\n"
        f"SELECT '{table_name}' AS table_name, u.column_name, u.metric, u.value\n"
        f"FROM (\n{body}\n) AS u(column_name, metric, value)"
    )


def mode_metric(df: DataFrame, column: str) -> DataFrame:
    """Most frequent value(s) + occurrence count for one column.

    Reference computes mode via ``count(*)`` + ``max(count(*)) over ()`` +
    listagg of tied values (oracle_to_exasol.sql:739-747). Spark shape:
    groupBy + broadcast of the 1-row max + filter — the reference's empty
    OVER () would be a global window (all distinct values through one
    task); a broadcast join of the scalar max keeps the filter distributed.
    Ties are all kept, concatenated sorted so the result is deterministic.
    """
    counts = df.groupBy(F.col(column).cast("string").alias("value")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    mx = counts.agg(F.max("cnt").alias("max_cnt"))
    top = counts.join(F.broadcast(mx), F.col("cnt") == F.col("max_cnt"))
    return top.groupBy().agg(
        F.array_join(F.array_sort(F.collect_list("value")), ", ").alias("mode_values"),
        F.max("cnt").alias("occurrences"),
    )


COMPARISON_SCHEMA = (
    "table_name STRING, column_name STRING, metric STRING, "
    "value_a STRING, value_b STRING, status STRING"
)
_Comparison = Row(
    "table_name", "column_name", "metric", "value_a", "value_b", "status"
)
# the count metrics: a global aggregate over an empty relation yields 0
# for these and NULL for every other metric
_COUNTS = (METRIC_ROW_CNT, METRIC_NULLS, METRIC_DISTINCT)


def validate_pair(
    left: DataFrame,
    right: DataFrame,
    table: str,
    distinct_mode: str = "exact",
) -> tuple[list[Row], list[str]]:
    """Metric-diff two relations of the same table on their COMMON columns.

    Returns ``(comparison, uncompared)``: the OK/DEVIATION rows
    (:data:`COMPARISON_SCHEMA` fields, sorted by column then metric, so
    ROW_CNT with its empty column name comes first) plus the columns
    present on only one side. The rows equal
    ``compare_metrics(compute_metrics(l), compute_metrics(r))``, computed
    by ONE Spark action: both sides are unioned under a ``__side`` tag
    (0 = left, 1 = right), fanned once in exact mode when the Expand's
    work reaches one split (:func:`expand_fan_floor`), aggregated grouped
    by side (the plain metrics joined on ``__side`` to the distinct ones,
    so Expand carries only the counted columns), and the two collected
    rows compare on the driver with null-safe equality. Union columns are
    positional (``c<i>``), so no source name collides with ``__side``; a
    common column whose Spark type differs between the sides travels as
    two (``c<i>s0``/``c<i>s1``, each side's under its own type, NULL on
    the other), because the union would widen the type and re-normalize
    the narrower side. A side with no rows has no group and reads as an
    empty relation's global aggregate: the counts "0", the rest NULL.

    Callers MUST surface ``uncompared``: a structurally missing column is
    a deviation the metric diff cannot see (it only compares what both
    sides have), and silently shrinking the comparison surface is how a
    cutover gate passes a broken target. Shared by MigrationRunner.execute,
    ``sync_table`` and the ``validate`` CLI so they stay behaviorally
    identical.
    """
    wide, owner, uncompared = _pair_plan(left, right, distinct_mode)
    got = {r["__side"]: r for r in wide.collect()}

    # (column, metric) -> [value_a, value_b]; a metric only one side's type
    # has keeps NULL on the other, as the full outer join does
    pairs: dict[tuple[str, str], list] = {}
    for field in wide.columns[1:]:
        metric, _, ucol = field.partition("__")
        column, only = owner.get(ucol, ("", None))  # ROW_CNT: no column
        for side in ((0, 1) if only is None else (only,)):
            row = got.get(side)
            value = (row[field] if row is not None
                     else "0" if metric in _COUNTS else None)
            pairs.setdefault((column, metric), [None, None])[side] = value
    return [
        _Comparison(table, column, metric, a, b,
                    "OK" if a == b else "DEVIATION")
        for (column, metric), (a, b) in sorted(pairs.items())
    ], uncompared


def _pair_plan(
    left: DataFrame, right: DataFrame, distinct_mode: str
) -> tuple[DataFrame, dict[str, tuple[str, int | None]], list[str]]:
    """:func:`validate_pair`'s one plan, unexecuted: ``(wide, owner,
    uncompared)`` — the per-side metric rows, the union column → (source
    column, owning side or None for both) map, and the one-sided
    columns."""
    from database_migration_spark.functions.parallel import fan_out

    rset, lset = set(right.columns), set(left.columns)
    common = [c for c in left.columns if c in rset]
    uncompared = [c for c in left.columns if c not in rset] + [
        c for c in right.columns if c not in lset
    ]
    ltype = {f.name: f.dataType for f in left.schema.fields}
    rtype = {f.name: f.dataType for f in right.schema.fields}
    lsel, rsel = [F.lit(0).alias("__side")], [F.lit(1).alias("__side")]
    # union column -> (source column, the side whose metrics it carries)
    owner: dict[str, tuple[str, int | None]] = {}
    for i, c in enumerate(common):
        src = F.col(f"`{c}`")
        if ltype[c] == rtype[c]:
            owner[f"c{i}"] = (c, None)
            lsel.append(src.alias(f"c{i}"))
            rsel.append(src.alias(f"c{i}"))
        else:
            owner[f"c{i}s0"], owner[f"c{i}s1"] = (c, 0), (c, 1)
            lsel += [src.alias(f"c{i}s0"),
                     F.lit(None).cast(rtype[c]).alias(f"c{i}s1")]
            rsel += [F.lit(None).cast(ltype[c]).alias(f"c{i}s0"),
                     src.alias(f"c{i}s1")]
    both = left.select(*lsel).union(right.select(*rsel))
    plain, distinct = metric_exprs(both, list(owner), distinct_mode)
    if distinct:
        # as compute_metrics_wide: both aggregates read one fanned
        # exchange once the Expand's work reaches one split
        both = fan_out(both, min_bytes=expand_fan_floor(len(distinct)))
        wide = both.groupBy("__side").agg(*plain).join(
            both.groupBy("__side").agg(*distinct), "__side"
        )
    else:
        wide = both.groupBy("__side").agg(*plain)
    return wide, owner, uncompared


# ---------------------------------------------------------------------------
# Key-completeness validation (row-loss detection)
# ---------------------------------------------------------------------------

def bucket_completeness(
    df: DataFrame, key: str, bucket_size: int = 1000,
    max_report_buckets: int = 10_000_000,
) -> DataFrame:
    """Per-id-range density report: WHERE did rows go missing?

    The metric engine (compute_metrics, the reference's MIG_CHK row) says
    *that* a table lost rows; this says *which key ranges* lost them — the
    follow-up that turns "count deviates by 1,204" into a re-extractable
    predicate (``WHERE key BETWEEN …``). One scan, one groupBy on
    ``key div bucket_size`` (exact integer division — F.floor(col/N)
    rounds in DOUBLE above 2^53), no windows, no global sort: the 100 TB
    shape. Rows out: ``bucket_start, bucket_end, n_rows, n_keys,
    missing`` where ``missing = bucket_size - n_keys`` inside the observed
    key span (clipped at the span edges so a sparse head/tail is not
    misreported as loss).

    EVERY bucket between the first and last observed key emits a row —
    including buckets with no rows at all (n_rows = 0, missing = full):
    a dropped extract chunk is the most common loss shape, and a report
    that only listed observed buckets would show missing = 0 everywhere
    while a thousand-key hole hid as an absent row (round-6 review
    finding). The grid is a sequence explode over the span's bucket
    range, so the report size is span/bucket_size; ``max_report_buckets``
    raises on key domains too sparse to grid (hash-valued keys — size
    buckets to the domain instead) rather than exploding.

    Duplicate keys show up as ``n_rows > n_keys`` — the same report
    answers "where did the loader double-insert?".
    """
    if bucket_size <= 0:
        raise ValueError("bucket_size must be positive")
    b = F.lit(int(bucket_size)).cast("long")
    k = F.col(key).cast("long")
    from pyspark import StorageLevel

    # ONE scan: per-bucket counts carry their own min/max key, and the
    # global span folds from the tiny per-bucket relation (a second
    # df-wide aggregate branch would re-scan the table — review finding)
    per_bucket = (
        df.where(F.col(key).isNotNull())
        .groupBy((k - F.pmod(k, b)).alias("bucket_start"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct(F.col(key)).alias("n_keys"),
            F.min(k).alias("_min_k"),
            F.max(k).alias("_max_k"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # a global aggregate always yields exactly one row, so collect()[0]
    # is total even on an empty per_bucket relation
    span_row = per_bucket.agg(
        F.min("_min_k").alias("span_lo"), F.max("_max_k").alias("span_hi")
    ).collect()[0]
    if span_row["span_lo"] is None:
        return per_bucket.sparkSession.createDataFrame(
            [], "bucket_start LONG, bucket_end LONG, n_rows LONG, "
                "n_keys LONG, missing LONG, duplicated LONG"
        )
    lo, hi = int(span_row["span_lo"]), int(span_row["span_hi"])
    first_bucket = lo - (((lo % bucket_size) + bucket_size) % bucket_size)
    last_bucket = hi - (((hi % bucket_size) + bucket_size) % bucket_size)
    n_buckets = (last_bucket - first_bucket) // bucket_size + 1
    if n_buckets > max_report_buckets:
        raise ValueError(
            f"key span {lo}..{hi} grids to {n_buckets} buckets of "
            f"{bucket_size} (> max_report_buckets={max_report_buckets}) — "
            "the key domain is too sparse for range completeness; widen "
            "bucket_size to the domain"
        )
    spark = per_bucket.sparkSession
    grid = spark.range(first_bucket, last_bucket + 1, bucket_size).select(
        F.col("id").alias("bucket_start")
    )
    joined = (
        grid.join(per_bucket.drop("_min_k", "_max_k"), "bucket_start", "left")
        .select(
            "bucket_start",
            F.coalesce(F.col("n_rows"), F.lit(0)).alias("n_rows"),
            F.coalesce(F.col("n_keys"), F.lit(0)).alias("n_keys"),
        )
        .withColumn("span_lo", F.lit(lo))
        .withColumn("span_hi", F.lit(hi))
    )
    expected = (
        F.least(F.col("span_hi"), F.col("bucket_start") + (b - F.lit(1).cast("long")))
        - F.greatest(F.col("span_lo"), F.col("bucket_start"))
        + F.lit(1).cast("long")
    )
    return joined.select(
        F.col("bucket_start"),
        (F.col("bucket_start") + b - F.lit(1).cast("long")).alias("bucket_end"),
        F.col("n_rows"),
        F.col("n_keys"),
        (expected - F.col("n_keys")).alias("missing"),
        (F.col("n_rows") - F.col("n_keys")).alias("duplicated"),
    )


def missing_keys(df: DataFrame, key: str, lo: int, hi: int) -> DataFrame:
    """Drill-down: the exact missing ids inside a flagged range.

    Anti-join of the generated id range against the observed keys —
    bounded by the caller-supplied range (use bucket_completeness to find
    the ranges worth listing; exploding an unbounded id space is the
    anti-pattern this two-phase split exists to avoid).
    """
    if hi < lo:
        raise ValueError("hi must be >= lo")
    spark = df.sparkSession
    expected = spark.range(int(lo), int(hi) + 1).withColumnRenamed("id", "missing_key")
    observed = (
        df.select(F.col(key).cast("long").alias("missing_key"))
        .where(F.col("missing_key").between(int(lo), int(hi)))
    )
    return expected.join(observed, "missing_key", "left_anti")
