"""Command-line surface: ``python -m database_migration_spark <cmd>``.

The reference ships as user-invocable scripts (a DBA runs the generator,
reviews the emitted statement stream, then executes it —
/root/reference/README.md's workflow); this CLI is the Spark-world
equivalent over the same planner/runner/validator APIs the library exposes:

- ``plan``     — catalog scan → reviewable statement stream (dry-run only,
                 exactly the reference's generator UX; nothing executes).
- ``migrate``  — execute a planned copy into a parquet target, with
                 per-table metric validation (MigrationRunner).
- ``validate`` — metric-diff two table directories (the MIG_CHK pass on
                 its own); exit code signals deviations, for CI cutover
                 gates.

Everything is a thin shell over the library; no logic lives here.
"""

from __future__ import annotations

import argparse
import sys

from database_migration_spark.functions import store_meta


def _with_defaults(defaults: dict, **given) -> tuple:
    """The given flag values in order, each None replaced by its default
    (the library module that owns the defaults passes them in)."""
    return tuple(defaults[n] if v is None else v for n, v in given.items())


def _source(spark, root: str, args=None):
    """Adapter dispatch: a ``jdbc:`` URL builds a JdbcSourceAdapter for
    ``--dialect`` (the reference's real workflow — database in, lake out);
    anything else is a parquet table directory."""
    if root.startswith("jdbc:"):
        from database_migration_spark.sources.dialects import ALL_DIALECTS
        from database_migration_spark.sources.jdbc import JdbcSourceAdapter

        dialect = getattr(args, "dialect", None) if args else None
        if not dialect or dialect not in ALL_DIALECTS:
            raise SystemExit(
                f"error: a jdbc: source needs --dialect "
                f"(one of {sorted(ALL_DIALECTS)})"
            )
        props = {}
        for kv in getattr(args, "jdbc_prop", None) or []:
            if "=" not in kv:
                raise SystemExit(
                    f"error: --jdbc-prop expects k=v, got {kv!r}"
                )
            k, v = kv.split("=", 1)
            props[k] = v
        return JdbcSourceAdapter(
            spark, ALL_DIALECTS[dialect], url=root, properties=props
        )
    from database_migration_spark.sources.parquet_source import ParquetSource

    return ParquetSource(spark, root)


def _read(adapter, meta):
    from database_migration_spark.sources.base import read_any

    return read_any(adapter, meta)


def _no_match(kind: str, args) -> int:
    print(
        f"error: no tables matched --schemas {args.schemas!r} "
        f"--tables {args.tables!r} in {kind}",
        file=sys.stderr,
    )
    return 2


def cmd_plan(args) -> int:
    from database_migration_spark.runner import MigrationPlanner
    from database_migration_spark.session import get_spark

    spark = get_spark(app_name="dms_plan")
    planner = MigrationPlanner(_source(spark, args.source, args))
    cat, plan = planner.plan(
        args.target_schema, schema_filter=args.schemas, table_filter=args.tables
    )
    if not cat.tables:
        # an empty match (e.g. a typo in --tables) must not pass silently:
        # the stream would be vacuous and a gating pipeline would read rc 0
        # as "planned successfully"
        return _no_match(args.source, args)
    for ord_, sql_text in plan.rows():
        print(f"{ord_:5d}  {sql_text}")
    n_warn = len(plan.warnings())
    n_stmt = sum(
        sum(1 for st in s.statements if st.kind != "warning")
        for s in plan.sections
    )
    print(
        f"-- {n_stmt} statements, {n_warn} warnings "
        "(dry run; nothing was executed)",
        file=sys.stderr,
    )
    return 0


def cmd_migrate(args) -> int:
    from database_migration_spark.runner import MigrationRunner
    from database_migration_spark.session import get_spark

    spark = get_spark(app_name="dms_migrate")
    adapter = _source(spark, args.source, args)
    cat = adapter.scan_catalog(args.schemas, args.tables)
    if not cat.tables:
        return _no_match(args.source, args)
    if args.save_catalog:
        from database_migration_spark.catalog import catalog_to_json

        with open(args.save_catalog, "w") as fh:
            fh.write(catalog_to_json(cat))
    runner = MigrationRunner(spark)
    report = runner.execute(
        cat,
        adapter,
        args.dest,
        validate=not args.no_validate,
        distinct_mode=args.distinct_mode,
    )
    if args.log:
        # the reference logs every job step to JOB_LOG/JOB_DETAILS through
        # QUERY_WRAPPER (delta_import:326-332); this is that table
        runner.logger.to_df(spark).write.mode("overwrite").parquet(args.log)
    for t in report.tables:
        status = "OK" if t.deviations == 0 else f"{t.deviations} DEVIATIONS"
        print(f"{t.table}: {t.rows_copied} rows, {status}")
        for w in t.warnings:
            print(f"  warning: {w}")
    return 0 if report.ok else 1


def _readers(adapter, schemas: str, tables: str) -> dict:
    """Normalize an adapter to {table_name: thunk returning DataFrame}.
    File adapters list/read by name; JDBC adapters go through the scanned
    catalog (columns only — keys/comments are irrelevant to a metric diff
    and may need privileges a read-only login lacks) and the typed
    read_table contract. Bare table names are the comparison key, so a
    multi-schema source with duplicate names is ambiguous — refuse it and
    ask for a --schemas scope rather than silently dropping a table from
    the gate."""
    if hasattr(adapter, "list_tables"):
        return {t: (lambda t=t: adapter.read(t)) for t in adapter.list_tables()}
    cat = adapter.scan_catalog(schemas, tables, include_metadata=False)
    out = {t.table: (lambda t=t: adapter.read_table(t)) for t in cat.tables}
    if len(out) < len(cat.tables):
        seen, dups = set(), set()
        for t in cat.tables:
            (dups if t.table in seen else seen).add(t.table)
        raise SystemExit(
            f"error: table name(s) {sorted(dups)} exist in several schemas; "
            "scope the comparison with --schemas"
        )
    return out


def cmd_validate(args) -> int:
    from database_migration_spark.functions.parallel import map_tables
    from database_migration_spark.operators.validate import validate_pair
    from database_migration_spark.session import get_spark

    spark = get_spark(app_name="dms_validate")
    lread = _readers(_source(spark, args.left, args), args.schemas, args.tables)
    rread = _readers(_source(spark, args.right, args), args.schemas, args.tables)
    # identifier matching everywhere else in the tool (Catalog.filter, LIKE
    # patterns) is case-insensitive; the explicit --tables list and the
    # cross-side intersection must be too, or `--tables items` against a
    # case-folding catalog (Derby/Oracle store ITEMS) reads as missing.
    # Compare case-folded, read through the real stored keys.
    lfold = {t.upper(): t for t in sorted(lread)}
    rfold = {t.upper(): t for t in sorted(rread)}
    if args.tables != "%":
        named = [t.strip() for t in args.tables.split(",") if t.strip()]
        missing = [t for t in named
                   if t.upper() not in lfold or t.upper() not in rfold]
        # only tables present on BOTH sides are readable; the missing ones
        # are reported (and fail the gate) rather than crashing the reads
        keys = [t.upper() for t in named if t not in missing]
    else:
        # the gate compares the UNION of both sides: a table present on only
        # one side is a structural deviation, not a silent skip
        keys = sorted(set(lfold) & set(rfold))
        missing = sorted((lfold | rfold)[k] for k in set(lfold) ^ set(rfold))
    bad = 0
    for t in missing:
        absent = [s for s, fold in (("left", lfold), ("right", rfold))
                  if t.upper() not in fold]
        print(f"{t}: MISSING in {' and '.join(absent)}")
        bad += 1

    def compare(k):
        rows, uncompared = validate_pair(
            lread[lfold[k]](), rread[rfold[k]](), lfold[k],
            distinct_mode=args.distinct_mode,
        )
        return [r for r in rows if r.status == "DEVIATION"], uncompared

    # tables compare concurrently; the report prints in table order
    for k, (dev, uncompared) in zip(keys, map_tables(spark, compare, keys)):
        ok = not dev and not uncompared
        print(f"{lfold[k]}: {'OK' if ok else f'{len(dev)} DEVIATIONS'}")
        for c in uncompared:
            print(f"  {c}: present on one side only — not metric-compared")
        if not ok:
            bad += 1
            for r in dev:
                print(f"  {r.metric} {r.column_name}: {r.value_a} != {r.value_b}")
    return 1 if bad else 0


def cmd_drift(args) -> int:
    """Distribution comparison gate: the layer above `validate`'s metric
    diff — histograms + total-variation distance per numeric column
    (operators/drift.py), failing on tv_ppm above the threshold."""
    from pyspark.sql import types as T

    from database_migration_spark.operators.drift import (
        distribution_drift,
        drift_summary,
    )
    from database_migration_spark.session import get_spark

    numeric = (
        T.ByteType, T.ShortType, T.IntegerType, T.LongType,
        T.FloatType, T.DoubleType, T.DecimalType,
    )
    comparable = (*numeric, T.StringType)
    spark = get_spark(app_name="dms_drift")
    lread = _readers(_source(spark, args.left, args), args.schemas, args.tables)
    rread = _readers(_source(spark, args.right, args), args.schemas, args.tables)
    lfold = {t.upper(): t for t in sorted(lread)}
    rfold = {t.upper(): t for t in sorted(rread)}
    if args.tables != "%":
        named = [t.strip() for t in args.tables.split(",") if t.strip()]
        missing = [t for t in named
                   if t.upper() not in lfold or t.upper() not in rfold]
        keys = [t.upper() for t in named if t not in missing]
    else:
        keys = sorted(set(lfold) & set(rfold))
        missing = sorted((lfold | rfold)[k] for k in set(lfold) ^ set(rfold))
    bad = 0
    for t in missing:
        print(f"{t}: MISSING on one side")
        bad += 1
    wanted = (
        [c.strip() for c in args.columns.split(",") if c.strip()]
        if args.columns else None
    )
    for k in keys:
        l, r = lread[lfold[k]](), rread[rfold[k]]()
        cols = [
            f.name for f in l.schema.fields
            if isinstance(f.dataType, comparable) and f.name in r.columns
            and isinstance(r.schema[f.name].dataType, type(f.dataType))
            and (wanted is None or f.name in wanted)
        ]
        if wanted is not None:
            # an explicitly named column that doesn't resolve (typo,
            # missing on a side, uncomparable type) must FAIL the gate —
            # silently comparing a subset turns the CI gate green while
            # checking nothing (review finding)
            unresolved = [c for c in wanted if c not in cols]
            if unresolved:
                print(
                    f"error: --columns not comparable on {lfold[k]}: "
                    f"{unresolved} (missing, type-mismatched, or not a "
                    "numeric/string column)",
                    file=sys.stderr,
                )
                return 2
        if not cols:
            print(f"{lfold[k]}: no shared comparable columns")
            bad += 1
            continue
        is_numeric = {
            f.name for f in l.schema.fields if isinstance(f.dataType, numeric)
        }
        rows = drift_summary(
            distribution_drift(l, r, cols, n_bins=args.bins)
        ).collect()
        worst = 0
        for row in sorted(rows, key=lambda x: -x["tv_ppm"]):
            # KS is order-based — meaningful for numeric value bins only;
            # categorical hash bins gate on TV alone
            score = (
                max(row["tv_ppm"], row["ks_ppm"])
                if row["column_name"] in is_numeric else row["tv_ppm"]
            )
            mark = "DRIFT" if score > args.threshold_ppm else "ok"
            print(
                f"{lfold[k]}.{row['column_name']}: tv_ppm={row['tv_ppm']} "
                f"ks_ppm={row['ks_ppm']} "
                f"null_shift_ppm={row['null_share_diff_ppm']} {mark}"
            )
            worst = max(worst, score)
        if worst > args.threshold_ppm:
            bad += 1
    return 1 if bad else 0


def cmd_diff(args) -> int:
    from database_migration_spark.plans.schema_diff import schema_diff_plan
    from database_migration_spark.session import get_spark

    spark = get_spark(app_name="dms_diff")

    def catalog_of(side):
        # a .json side is a saved snapshot (migrate --save-catalog) — the
        # normal case for `--old`: the source as it stood at migration
        # time, no longer reachable or already drifted
        if side.endswith(".json"):
            from database_migration_spark.catalog import catalog_from_json

            with open(side) as fh:
                return catalog_from_json(fh.read()).filter(
                    args.schemas, args.tables
                )
        return _source(spark, side, args).scan_catalog(args.schemas, args.tables)

    old = catalog_of(args.old)
    new = catalog_of(args.new)
    if not old.tables and not new.tables:
        return _no_match(f"{args.old} or {args.new}", args)
    plan = schema_diff_plan(old, new, args.target_schema)
    for ord_, sql_text in plan.rows():
        print(f"{ord_:5d}  {sql_text}")
    print(
        f"-- {len(plan.warnings())} drift warnings (dry run; nothing was "
        "executed)",
        file=sys.stderr,
    )
    return 0


def cmd_refresh(args) -> int:
    """Watermark-driven summary refresh: the sync workflow for DERIVED
    tables (operators/incremental_agg.watermark_refresh) — bootstrap on
    first run, delta-sized folds after."""
    from database_migration_spark.operators.incremental_agg import (
        watermark_refresh,
    )
    from database_migration_spark.session import get_spark

    spark = get_spark(app_name="dms_refresh")
    adapter = _source(spark, args.source, args)
    readers = _readers(adapter, args.schemas, args.table)
    if args.table not in readers:
        print(f"error: table {args.table!r} not found", file=sys.stderr)
        return 2
    keys = [k.strip() for k in args.keys.split(",") if k.strip()]
    measures = [m.strip() for m in args.measures.split(",") if m.strip()]
    distinct = (
        [d.strip() for d in args.distinct.split(",") if d.strip()]
        if args.distinct else None
    )
    res = watermark_refresh(
        spark, args.state, readers[args.table](), keys, measures,
        args.delta_col, distinct_cols=distinct,
    )
    print(
        f"{args.table}: applied_rows={res['applied_rows']} "
        f"watermark={res['watermark']}"
    )
    return 0


def cmd_compact(args) -> int:
    """Small-file hygiene: rewrite an append-grown parquet layout into
    size-targeted files (the #1 operational decay of long-lived lakes —
    thousands of per-epoch files turn every scan into open/seek churn).
    Partitioned layouts keep their partitioning with one file per
    partition value (operators/dedup.compact_partitioned); flat layouts
    repartition to ceil(bytes / --target-mb). --zorder additionally
    CLUSTERS the rewrite on a Morton key over the named columns
    (operators/layout.py), so parquet footer stats bound every keyed
    column per file and range scans on any of them prune — the layout
    step a 100 TB table needs where a plain compact only fixes file
    counts. Writes to --dest and leaves the swap to the caller: Spark
    cannot safely overwrite a dataset it is reading."""
    import math
    import os

    from database_migration_spark.session import get_spark

    if args.zorder and args.partition_col:
        print("error: --zorder clusters a FLAT layout; it cannot be "
              "combined with --partition-col (z-order within partitions "
              "is a per-partition compact over pre-split data)",
              file=sys.stderr)
        return 2
    spark = get_spark(app_name="dms_compact")
    src = args.source
    if args.partition_col:
        from database_migration_spark.operators.dedup import (
            compact_partitioned,
        )

        compact_partitioned(spark, src, args.dest, args.partition_col)
    else:
        total = 0
        n_in = 0
        for root, _dirs, files in os.walk(src):
            for f in files:
                if f.endswith(".parquet"):
                    total += os.path.getsize(os.path.join(root, f))
                    n_in += 1
        n_out = max(1, math.ceil(total / (args.target_mb * 1024 * 1024)))
        if args.zorder:
            from database_migration_spark.operators.layout import (
                zorder_span_report,
                zorder_write,
            )

            cols = [c.strip() for c in args.zorder.split(",") if c.strip()]
            df = spark.read.parquet(src)
            missing = [c for c in cols if c not in df.columns]
            if missing:
                print(f"error: --zorder columns {missing} not in the "
                      f"table (columns: {df.columns})", file=sys.stderr)
                return 2
            try:
                desc = zorder_write(
                    df, args.dest, cols, n_out, bits=args.zorder_bits
                )
            except ValueError as e:
                print(f"error: {e}", file=sys.stderr)
                return 2
            rep = zorder_span_report(args.dest, cols)
            spans = ", ".join(
                f"{c}={rep[c]}" for c in cols
            )
            print(f"{n_in} files ({total} bytes) -> {rep['files']} "
                  f"z-ordered files (bits={desc['bits']}); mean per-file "
                  f"span fraction: {spans}")
        else:
            spark.read.parquet(src).repartition(n_out).write.mode(
                "overwrite"
            ).parquet(args.dest)
            print(f"{n_in} files ({total} bytes) -> {n_out} files")
    n_rows_in = spark.read.parquet(src).count()
    n_rows_out = spark.read.parquet(args.dest).count()
    print(f"rows: {n_rows_in} -> {n_rows_out}")
    if n_rows_in != n_rows_out:
        print("error: row count changed during compaction", file=sys.stderr)
        return 1
    return 0


def cmd_layout(args) -> int:
    """Z-order layout lifecycle beyond the initial ``compact --zorder``
    write (operators/layout.py): ``append`` grows a stored layout with a
    new batch clustered on the SAME cell grid (stored bounds/bits from
    ``_layout_meta.json``; explicit --cols/--bits that contradict it exit
    2 naming the fix — the index-meta rule), so per-file footer spans
    stay bounded across old and new files until a ``compact --zorder``
    re-clusters with fresh bounds. ``report`` prints the per-column mean
    span fraction + file count from footers alone (no data scan) — the
    measurable pruning evidence. ``stats`` prints per-column storage
    facts (compressed/uncompressed bytes, exact ratio ppm, encodings,
    dictionary coverage) from the same footers — works on ANY parquet
    directory, layout or not: at 100 TB the compressed size is the scan
    cost, and a clustered write RLE-compresses what a hash-scattered
    write cannot."""
    from database_migration_spark.operators.layout import zorder_span_report

    if args.action == "stats":
        import os

        from database_migration_spark.operators.layout import storage_stats

        if not os.path.isdir(args.target):
            print(f"error: {args.target} is not a directory",
                  file=sys.stderr)
            return 2
        rows = storage_stats(args.target)
        if not rows:
            print(f"error: no parquet files under {args.target}",
                  file=sys.stderr)
            return 2
        for c in rows:
            print(f"{c['column']}: {c['compressed_bytes']} B compressed "
                  f"/ {c['uncompressed_bytes']} B raw "
                  f"(ratio {c['ratio_ppm']} ppm), "
                  f"dict {c['dict_chunks']}/{c['chunks']} chunks, "
                  f"encodings {','.join(c['encodings'])}, "
                  f"codecs {','.join(c['codecs'])}")
        return 0

    meta = store_meta.read(args.target, "layout")
    if meta is None:
        print(f"error: no z-order layout at {args.target} "
              "(its meta is missing) — create one with "
              "`compact --zorder` first", file=sys.stderr)
        return 2

    if args.action == "append":
        from database_migration_spark.operators.layout import zorder_append
        from database_migration_spark.session import get_spark

        if not args.batch:
            print("error: append needs --batch (the new rows' table "
                  "directory)", file=sys.stderr)
            return 2
        spark = get_spark(app_name="dms_layout")
        adapter = _source(spark, args.batch, args)
        cat = adapter.scan_catalog("%", args.table or "%")
        if not cat.tables:
            print(f"error: no table in {args.batch}", file=sys.stderr)
            return 2
        if len(cat.tables) > 1:
            names = sorted(t.table for t in cat.tables)
            print(f"error: {args.batch} holds several tables {names} — "
                  "pick one with --table", file=sys.stderr)
            return 2
        df = _read(adapter, cat.tables[0])
        cols = ([c.strip() for c in args.cols.split(",") if c.strip()]
                if args.cols else None)
        missing = [c for c in (cols or meta["cols"]) if c not in df.columns]
        if missing:
            print(f"error: layout columns {missing} not in the batch "
                  f"(columns: {df.columns})", file=sys.stderr)
            return 2
        try:
            desc = zorder_append(df, args.target, cols=cols, bits=args.bits,
                                 meta=meta)
        except ValueError as e:
            # grid contradictions and non-local targets name their fix
            print(f"error: {e}", file=sys.stderr)
            return 2
        rep = zorder_span_report(args.target, list(desc["cols"]))
        spans = ", ".join(f"{c}={rep[c]}" for c in desc["cols"])
        print(f"appended -> rows={desc['rows']} files={desc['n_files']} "
              f"(bits={desc['bits']}); mean per-file span fraction: "
              f"{spans}")
        return 0

    # report
    rep = zorder_span_report(args.target, list(meta["cols"]))
    spans = ", ".join(f"{c}={rep[c]}" for c in meta["cols"])
    print(f"layout cols={','.join(meta['cols'])} bits={meta['bits']} "
          f"rows={meta.get('rows')} files={rep['files']}; mean per-file "
          f"span fraction: {spans}")
    return 0


def cmd_expect(args) -> int:
    import json

    from database_migration_spark.operators.expectations import (
        Expectation,
        run_expectations,
    )
    from database_migration_spark.session import get_spark

    spark = get_spark(app_name="dms_expect")
    with open(args.rules) as fh:
        rules = [Expectation(**r) for r in json.load(fh)]
    adapter = _source(spark, args.source, args)
    # scope the catalog scan to the one requested table — a wide scan
    # wastes remote round-trips and can trip the duplicate-name refusal
    # on tables unrelated to --table
    readers = _readers(adapter, args.schemas, args.table)
    if args.table not in readers:
        print(f"error: table {args.table!r} not found", file=sys.stderr)
        return 2
    report = run_expectations(readers[args.table](), rules)
    bad = 0
    for r in report.collect():
        print(f"{r.rule_id}: {r.status}  ({r.rule}; measured={r.measured}, "
              f"threshold={r.threshold})")
        bad += r.status == "FAIL"
    return 1 if bad else 0


def cmd_sync(args) -> int:
    """The reference's most-used executor after the generators: DELTA_IMPORT
    (delta_import_on_primary_keys.sql:374-435 three-strategy machine, with
    the :439-463 execute_statements=false preview as --dry-run)."""
    from database_migration_spark.operators.delta_sync import sync_table
    from database_migration_spark.session import get_spark

    spark = get_spark(app_name="dms_sync")
    adapter = _source(spark, args.source, args)
    keys = (
        tuple(k.strip() for k in args.keys.split(",") if k.strip())
        if args.keys
        else None
    )
    try:
        result = sync_table(
            spark,
            adapter,
            args.target,
            args.table,
            keys=keys,
            delta_col=args.delta_col,
            dry_run=args.dry_run,
            validate=not args.no_validate,
            distinct_mode=args.distinct_mode,
        )
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    plan = result if args.dry_run else result.plan
    print(f"strategy: {plan.strategy.name} — {plan.strategy.value}")
    if plan.watermark is not None:
        print(f"watermark: {plan.watermark}")
    for i, s in enumerate(plan.statements, 1):
        print(f"{i:5d}  {s}")
    if args.dry_run:
        print("-- dry run; nothing was executed", file=sys.stderr)
        return 0
    if result.deviations is None:
        status = "not validated"
    elif result.deviations == 0:
        status = "OK"
    else:
        status = f"{result.deviations} DEVIATIONS"
    print(f"{result.table}: {result.rows_after} rows after sync, {status}")
    for c in result.uncompared:
        print(f"  {c}: present on one side only — not metric-compared")
    return 1 if result.deviations else 0


def cmd_load(args) -> int:
    """The reference's parallel file loaders (s3_to_exasol.sql:107-319):
    manifest-driven list → reconcile → load pending → per-file statuses,
    with --dry-run as execute_statements=false (:290-292)."""
    from pyspark.sql import functions as F

    from database_migration_spark.session import get_spark
    from database_migration_spark.streaming.manifest import ManifestLoader

    spark = get_spark(app_name="dms_load")
    options = {}
    for kv in args.read_option or []:
        if "=" not in kv:
            raise SystemExit(f"error: --read-option expects k=v, got {kv!r}")
        k, v = kv.split("=", 1)
        options[k] = v
    loader = ManifestLoader(
        spark,
        args.manifest,
        file_format=args.format,
        read_options=options,
        column_range=args.column_range,
    )
    if args.dry_run:
        stmts = loader.load(
            args.folder, args.pattern, execute=False,
            force_reload=args.force_reload,
        )
        for i, s in enumerate(stmts, 1):
            print(f"{i:5d}  {s}")
        print(
            f"-- {len(stmts)} pending files (dry run; nothing was loaded)",
            file=sys.stderr,
        )
        return 0
    if args.per_file:
        # one job per file: exact error text per file (the reference's
        # semantics); pick for small batches — load_batch for throughput
        sink = None
        if args.dest:
            sink = lambda df, f: (  # noqa: E731
                df.write.mode("append").parquet(args.dest)
            )
        report = loader.load(
            args.folder, args.pattern,
            force_reload=args.force_reload, sink=sink,
        )
    else:
        # --dest goes through load_batch's sink hook so the destination
        # write happens BEFORE the manifest marks files done: a failed
        # write leaves them waiting (retryable), not silently "loaded"
        sink = None
        if args.dest:
            sink = lambda df: (  # noqa: E731
                df.write.mode("append").parquet(args.dest)
            )
        data, report = loader.load_batch(
            args.folder, args.pattern,
            force_reload=args.force_reload, max_files=args.max_files,
            sink=sink,
        )
    for f in report.loaded_files:
        print(f"{f}: done")
    for f, msg in report.error_files:
        print(f"{f}: Error: {msg}")
    print(f"-- {report.rows_loaded} rows from {len(report.loaded_files)} "
          f"files, {len(report.error_files)} errors", file=sys.stderr)
    by_status = (
        loader.read_manifest().groupBy("status").agg(F.count("*").alias("n"))
    )
    for r in sorted(by_status.collect(), key=lambda r: r.status):
        print(f"--   manifest {r.status}: {r.n}", file=sys.stderr)
    return 1 if report.error_files else 0


def cmd_check(args) -> int:
    """Catalog-driven constraint sweep: one report row per declared PK
    (duplicate/NULL-key excess) and FK (orphan rows) — the referential
    half of migration validation that the metric diff (validate) doesn't
    cover; the reference's post-load key enforcement
    (set_primary_keys.sql) as a read-only CI gate."""
    from database_migration_spark.operators.constraints import (
        catalog_constraint_rows,
        constraint_report,
    )
    from database_migration_spark.session import get_spark

    spark = get_spark(app_name="dms_check")
    adapter = _source(spark, args.source, args)
    cat = adapter.scan_catalog(args.schemas, args.tables, include_keys=True)
    if not cat.tables:
        return _no_match(args.source, args)
    tables = {t.table: _read(adapter, t) for t in cat.tables}
    pk_rows, fk_rows = catalog_constraint_rows(cat)
    try:
        report = constraint_report(tables, pk_rows, fk_rows)
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    bad = 0
    for r in report.orderBy("table_name", "constraint_name").collect():
        status = "OK" if r.n_bad == 0 else f"{r.n_bad} VIOLATIONS"
        print(f"{r.table_name}.{r.constraint_name} [{r.kind}]: "
              f"{r.n_rows} rows, {r.n_distinct} distinct, {status}")
        bad += r.n_bad != 0
    return 1 if bad else 0


def cmd_profile(args) -> int:
    """Assessment scan before a migration: per-column null/distinct
    counts, exact equi-width histograms for integral columns, top-k
    frequent values for string columns (operators/profile.py)."""
    from database_migration_spark.operators.profile import profile_table
    from database_migration_spark.session import get_spark

    spark = get_spark(app_name="dms_profile")
    adapter = _source(spark, args.source, args)
    cat = adapter.scan_catalog(args.schemas, args.tables)
    if not cat.tables:
        return _no_match(args.source, args)
    for t in sorted(cat.tables, key=lambda t: t.table):
        rep = profile_table(
            _read(adapter, t), t.table, bins=args.bins, k=args.topk,
            distinct_mode=args.distinct_mode,
        )
        rows = rep.orderBy("column_name", "stat", "key").collect()
        n_rows = next(r.n for r in rows if r.stat == "rows")
        print(f"{t.table}: {n_rows} rows")
        for r in rows:
            if r.stat == "rows":
                continue
            key = "" if r.key is None else f" [{r.key}]"
            print(f"  {r.column_name} {r.stat}{key}: {r.n}")
    return 0


def cmd_scd2(args) -> int:
    """History-preserving counterpart of ``sync``: merge the source table
    into a type-2 SCD dimension at --target (operators/scd2.py).
    Bootstraps on first run; each later run closes changed entities' open
    versions and opens new ones. The version timestamp is --ts or the
    previous maximum valid_from + 1 (a BIGINT version counter)."""
    from database_migration_spark.operators.scd2 import (
        check_close_missing,
        scd2_bootstrap,
        scd2_merge,
    )
    from database_migration_spark.session import get_spark

    spark = get_spark(app_name="dms_scd2")
    adapter = _source(spark, args.source, args)
    cat = adapter.scan_catalog("%", args.table, include_keys=True)
    if not cat.tables:
        print(f"error: table {args.table!r} not found in {args.source}",
              file=sys.stderr)
        return 2
    meta = cat.tables[0]
    source = _read(adapter, meta)
    keys = (
        [k.strip() for k in args.keys.split(",") if k.strip()]
        if args.keys
        else (list(meta.primary_key.columns) if meta.primary_key else None)
    )
    if not keys:
        print("error: no primary key in catalog and no --keys",
              file=sys.stderr)
        return 2
    by_upper = {c.upper(): c for c in source.columns}
    keys = [by_upper.get(k.upper(), k) for k in keys]
    attrs = (
        [a.strip() for a in args.attrs.split(",") if a.strip()]
        if args.attrs
        else [c for c in source.columns if c not in keys]
    )
    attrs = [by_upper.get(a.upper(), a) for a in attrs]
    from pyspark.sql import functions as F

    from database_migration_spark.functions.io import keyed_epoch

    ts = args.ts

    def merge(cur, batch):
        nonlocal ts
        if cur is None:
            ts = 0 if ts is None else ts
            return scd2_bootstrap(batch.select(*keys, *attrs), keys, attrs,
                                  ts)
        if ts is None:
            # over the WHOLE dimension: a partitioned store hands the
            # merge only the touched slice, whose maximum can lag. The
            # slice's schema spares this re-read a schema-inference job.
            whole = spark.read.schema(cur.schema).parquet(args.target)
            ts = (whole.agg(F.max("valid_from")).collect()[0][0] or 0) + 1
        return scd2_merge(cur, batch, keys, attrs, ts,
                          close_missing=args.close_missing)

    try:
        check_close_missing(args.target, args.partitions, args.close_missing)
        committed, bootstrapped = keyed_epoch(
            spark, args.target, args.target + ".scd2-tmp", keys,
            args.partitions, source, merge,
        )
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    if not committed:
        print(f"{args.table}: source is empty — dimension not created")
        return 0
    action = "bootstrap" if bootstrapped else "merge"
    final = spark.read.parquet(args.target)
    n_open = final.where("is_current").count()
    n_all = final.count()
    print(f"{args.table}: {action} at ts={ts} — {n_open} open entities, "
          f"{n_all} versions total")
    return 0


def cmd_pipeline(args) -> int:
    """Corpus cleaning end-to-end (operators/pipeline.py): quality filter
    → exact dedup → decontamination vs a held-out slice → salted split,
    printing the attrition report; --out writes the kept corpus
    partitioned by split."""
    from pyspark.sql import functions as F

    from database_migration_spark.operators.pipeline import (
        STAGES,
        annotate_corpus,
        attrition_report,
        corpus_clean,
    )
    from database_migration_spark.session import get_spark

    spark = get_spark(app_name="dms_pipeline")
    adapter = _source(spark, args.source, args)
    cat = adapter.scan_catalog("%", args.table)
    if not cat.tables:
        print(f"error: table {args.table!r} not found in {args.source}",
              file=sys.stderr)
        return 2
    docs = _read(adapter, cat.tables[0])
    if args.markup_col:
        # web-ingestion front door INSIDE the pipeline: extract main
        # text from markup first, so quality/dedup/decontamination score
        # prose, not boilerplate (the standalone route is `text extract`)
        from database_migration_spark.operators.text import (
            extract_markup_text,
        )

        missing = [c for c in (args.markup_col, "doc_id")
                   if c not in docs.columns]
        if missing:
            # doc_id validated HERE too: the extraction keys on it, and
            # the shared check below only runs after this block — an
            # AnalysisException traceback is not an rc=2 fix-naming
            # message (review finding)
            print(f"error: columns {missing} missing from {args.table}",
                  file=sys.stderr)
            return 2
        keep = [c for c in docs.columns
                if c not in ("text", args.markup_col)]
        extracted = extract_markup_text(
            docs,
            html_col=args.markup_col,
            id_col="doc_id",
            min_line_chars=args.min_line_chars,
            max_anchor_ppm=args.max_anchor_ppm,
        ).select("doc_id", "text")
        docs = docs.select(*keep).join(extracted, "doc_id", "inner")
    for c in ("doc_id", "text", args.bench_col):
        if c not in docs.columns:
            print(f"error: column {c!r} missing from {args.table}",
                  file=sys.stderr)
            return 2
    # eqNullSafe: a NULL bench-col row must land in the CORPUS (plain
    # != filters NULL out of BOTH sides, and the attrition report's
    # whole point is that stage counts sum to the table size)
    is_bench = F.col(args.bench_col).eqNullSafe(F.lit(args.bench_value))
    bench = docs.where(is_bench)
    corpus = docs.where(~is_bench)
    ann = annotate_corpus(
        corpus,
        bench,
        min_tokens=args.min_tokens,
        min_alpha_ppm=args.min_alpha_ppm,
        max_contamination_ppm=args.max_contamination_ppm,
    )
    rep = {r.stage: r.n_docs for r in attrition_report(ann).collect()}
    kept = 0
    for stage in STAGES:
        print(f"{stage}: {rep.get(stage, 0)} dropped")
    for split in ("train", "val", "test"):
        n = rep.get(f"kept_{split}", 0)
        kept += n
        print(f"kept_{split}: {n}")
    print(f"kept: {kept} of {sum(rep.values())}")
    if args.out:
        corpus_clean(ann).write.partitionBy("split").mode(
            "error" if not args.overwrite else "overwrite"
        ).parquet(args.out)
        print(f"wrote {args.out} (partitioned by split)")
    return 0 if kept else 1


def cmd_rowdiff(args) -> int:
    """Row-granular complement of ``validate``: where the metric gate says
    WHETHER two table versions agree, this says WHICH rows and columns
    differ (operators/rowdiff.py hash-compare — wide rows are re-read only
    for changed keys). Keys come from --keys or the left catalog's PK."""
    from pyspark.sql import functions as F

    from database_migration_spark.operators.rowdiff import (
        changed_cells,
        diff_report,
        row_diff,
    )
    from database_migration_spark.session import get_spark

    spark = get_spark(app_name="dms_rowdiff")
    ladapter = _source(spark, args.left, args)
    radapter = _source(spark, args.right, args)
    lcat = ladapter.scan_catalog(args.schemas, args.tables, include_keys=True)
    if not lcat.tables:
        return _no_match(args.left, args)
    rnames = {
        t.table.upper(): t
        for t in radapter.scan_catalog(args.schemas, args.tables).tables
    }
    named_keys = (
        [k.strip() for k in args.keys.split(",") if k.strip()]
        if args.keys
        else None
    )
    bad = 0
    for t in sorted(lcat.tables, key=lambda t: t.table):
        if t.table.upper() not in rnames:
            print(f"{t.table}: MISSING in right")
            bad += 1
            continue
        keys = named_keys or (
            list(t.primary_key.columns) if t.primary_key else None
        )
        if not keys:
            print(f"{t.table}: no primary key in catalog and no --keys — "
                  "skipped (rowdiff needs a row identity)")
            bad += 1
            continue
        from pyspark import StorageLevel

        left = _read(ladapter, t)
        right = _read(radapter, rnames[t.table.upper()])
        # case-fold identifiers onto the LEFT side's spelling (the
        # sync_table Derby lesson): catalog PKs surface as O_ORDERKEY
        # while a parquet side is lowercase, and row_diff's column check
        # is exact-case. Keys fold to left's columns; right's columns
        # rename to left's spelling where the upper-cased names match.
        lfold = {c.upper(): c for c in left.columns}
        keys = [lfold.get(k.upper(), k) for k in keys]
        rfold = {c.upper(): c for c in right.columns}
        right = right.select(
            *[
                F.col(rfold[c.upper()]).alias(c)
                for c in left.columns
                if c.upper() in rfold
            ],
            *[
                F.col(c)
                for c in right.columns
                if c.upper() not in {x.upper() for x in left.columns}
            ],
        )
        # one persisted phase-1 diff feeds the report AND the --show
        # cells — never re-scan/re-hash both sides for the same answer
        d = row_diff(left, right, keys).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            counts = {
                (r.diff_kind, r.column_name): r.n_rows
                for r in diff_report(left, right, keys, diff=d).collect()
            }
            fates = {k: v for (k, c), v in counts.items() if c is None}
            n_diff = sum(fates.values())
            if n_diff == 0:
                print(f"{t.table}: OK (no row differences)")
                continue
            bad += 1
            summary = ", ".join(
                f"{fates.get(k, 0)} {k}"
                for k in ("added", "removed", "changed")
            )
            print(f"{t.table}: {summary}")
            for (kind, col), v in sorted(
                counts.items(), key=lambda kv: str(kv)
            ):
                if col is not None:
                    print(f"  {col}: {v} changed")
            if args.show:
                for r in (
                    changed_cells(left, right, keys, d)
                    .orderBy(*keys, "column_name")
                    .limit(args.show)
                    .collect()
                ):
                    key_repr = ", ".join(str(r[k]) for k in keys)
                    print(f"  [{key_repr}] {r.column_name}: "
                          f"{r.left_value!r} -> {r.right_value!r}")
        finally:
            # a many-table sweep must not accumulate one cache per table
            d.unpersist(blocking=False)
    return 1 if bad else 0


def cmd_optimize(args) -> int:
    """Post-load type optimizer — the reference's directly-executed
    ``convert_varchar.sql`` (report mode :36-44) and
    ``convert_datatypes.sql`` (``apply_conversion=false`` preview :49-62)
    as one subcommand over the library operators (operators/
    optimize_types.py, all graded/golden-tested):

    - default: the classification REPORT — per column, what the data
      actually holds and the tighter type it supports (kept columns say
      why they're kept).
    - ``--apply``: additionally render the ordered apply stream the
      reference generates (:651 DROP FKs → MODIFYs → RE-ADD FKs). Always
      a dry run, like ``plan`` — the stream is for review/execution
      elsewhere; nothing here mutates the source.
    FK key-group harmonization applies in both modes: columns linked by
    foreign keys convert identically or not at all.
    """
    from pyspark.sql import types as T

    from database_migration_spark.operators.optimize_types import (
        TypeProposal,
        classify_varchar,
        conversion_statements,
        double_scale_detect,
        harmonize_fk_groups,
        probe_date_formats,
        propose_double_conversion,
        propose_varchar_conversion,
        timestamp_has_time,
        veto_out_of_scope_fk,
    )
    from database_migration_spark.session import get_spark

    spark = get_spark(app_name="dms_optimize")
    adapter = _source(spark, args.source, args)
    cat = adapter.scan_catalog(args.schemas, args.tables, include_keys=True)
    if not cat.tables:
        return _no_match(args.source, args)

    # everything downstream keys columns by (schema, table, column) —
    # bare (table, column) keys aliased same-named tables across schemas
    # (round-8 ADVICE), silently merging their FK groups and proposals
    proposals: dict = {}
    kept: list = []
    declared = {
        (t.schema, c.table, c.name): c.char_length
        for t in cat.tables
        for c in t.columns
    }
    scanned = {(t.schema, t.table) for t in cat.tables}
    fks: list = []
    fk_edges: list = []

    def _fk_ends(fk):
        """((child_schema, child_table, col), (parent_schema, parent_table,
        ref_col)) pairs of one FK — parent schema from the FK's own
        ref_schema, falling back to the child's (same-schema FK)."""
        ps = fk.ref_schema or fk.schema
        return [
            ((fk.schema, fk.table, c), (ps, fk.ref_table, rc))
            for c, rc in zip(fk.columns, fk.ref_columns or ())
        ]

    if args.schemas != "%" or args.tables != "%":
        # catalog FKs are outbound-only: a filtered scan never shows the
        # FK an UNSCANNED child declares against a scanned parent column,
        # so that parent conversion escaped the out-of-scope veto (the
        # half-scanned-pair breakage, inbound direction). One extra
        # metadata-only unfiltered scan surfaces those inbound edges.
        wide = adapter.scan_catalog("%", "%", include_keys=True)
        for wt in wide.tables:
            if (wt.schema, wt.table) in scanned:
                continue
            for fk in wt.foreign_keys:
                if ((fk.ref_schema or fk.schema), fk.ref_table) in scanned:
                    fk_edges.extend(_fk_ends(fk))
    for t in sorted(cat.tables, key=lambda t: (t.schema, t.table)):
        fks.extend(t.foreign_keys)
        for fk in t.foreign_keys:
            fk_edges.extend(_fk_ends(fk))
        df = _read(adapter, t)
        for field in df.schema.fields:
            col, key = field.name, (t.schema, t.table, field.name)
            if isinstance(field.dataType, T.StringType):
                stats = classify_varchar(df, col, sample_rows=args.sample)
                nn = stats["n"] - stats["n_null"]
                probe = (
                    probe_date_formats(df, col)
                    if nn > 0 and stats["n_dateish"] == nn
                    else None
                )
                p = propose_varchar_conversion(
                    col, stats, probe, declared.get(key)
                )
            elif isinstance(field.dataType, (T.DoubleType, T.FloatType)):
                p = propose_double_conversion(col, double_scale_detect(df, col))
            elif isinstance(field.dataType, (T.TimestampType, T.TimestampNTZType)):
                # convert_datatypes.sql:449-453: timestamp -> DATE when no
                # value carries a time-of-day component
                p = (
                    None
                    if timestamp_has_time(df, col)
                    else TypeProposal(
                        col, "timestamp", "DATE", f'CAST("{col}" AS DATE)',
                        "no time-of-day component",
                    )
                )
            else:
                continue  # already a tight type; the reference skips too
            if p is None:
                kept.append(key)
            proposals[key] = p

    proposals, out_of_scope = veto_out_of_scope_fk(
        proposals, fk_edges, scanned
    )
    proposals = harmonize_fk_groups(proposals, fk_edges)
    vetoed = [
        k for k, p in proposals.items()
        if p is None and k not in kept and k not in out_of_scope
    ]
    for key, p in sorted(proposals.items()):
        _sch, tbl, col = key
        if p is not None:
            print(f"{tbl}.{col}: {p.current_type} --> {p.proposed_type} "
                  f"({p.reason}{'' if p.lossless else '; LOSSY'})")
        elif key in out_of_scope:
            print(f"{tbl}.{col}: kept (FK partner table outside --tables "
                  "scope — convert both sides together)")
        elif key in vetoed:
            print(f"{tbl}.{col}: kept (FK group members disagree)")
        else:
            print(f"{tbl}.{col}: kept (no tighter type supported)")
    n_prop = sum(1 for p in proposals.values() if p is not None)
    print(f"-- {n_prop} conversions proposed over "
          f"{len(proposals)} inspected columns", file=sys.stderr)
    if args.apply:
        # one stream PER SCHEMA: qualifying every statement with the first
        # table's schema produced wrong DDL (incl. FK re-adds) for tables
        # in other schemas under a multi-schema scan
        accepted3 = {k for k, p in proposals.items() if p is not None}
        schemas_present = sorted(
            {sch for (sch, _t, _c) in accepted3}
        ) or [cat.tables[0].schema]

        def _modified_schemas(fk) -> set:
            ps = fk.ref_schema or fk.schema
            out = set()
            if any((fk.schema, fk.table, c) in accepted3
                   for c in fk.columns):
                out.add(fk.schema)
            if any((ps, fk.ref_table, rc) in accepted3
                   for rc in fk.ref_columns or ()):
                out.add(ps)
            return out

        # an FK whose MODIFIED columns span two schema streams cannot be
        # bracketed inside either: the first stream's RE-ADD would
        # re-create the constraint while the other schema's column is
        # still unconverted (streams execute in printed order — round-9
        # review). Hoist those: DROP before ALL streams, RE-ADD after.
        hoisted = [fk for fk in fks if len(_modified_schemas(fk)) > 1]
        hoisted_ids = {id(fk) for fk in hoisted}

        from database_migration_spark.operators.optimize_types import (
            render_fk_drop,
            render_fk_readd,
        )

        if hoisted:
            print("-- cross-schema foreign keys: dropped before every "
                  "schema stream, re-added after the last")
            for fk in sorted(hoisted, key=lambda k: (k.schema, k.table,
                                                     k.name)):
                print(render_fk_drop(fk))
            print()

        def _touches_in(fk, s):
            # the in-stream DROP/RE-ADD bracket belongs in every stream
            # that MODIFIES a column of this FK (the round-8 ADVICE
            # closure) — EXCEPT the hoisted cross-schema set above
            if id(fk) in hoisted_ids:
                return False
            ps = fk.ref_schema or fk.schema
            return any(
                fk.schema == s and (s, fk.table, c) in accepted3
                for c in fk.columns
            ) or any(
                ps == s and (s, fk.ref_table, rc) in accepted3
                for rc in fk.ref_columns or ()
            )

        for s in schemas_present:
            sub = {
                (t, c): p
                for (sch, t, c), p in proposals.items()
                if sch == s
            }
            sub_fks = [fk for fk in fks if _touches_in(fk, s)]
            if len(schemas_present) > 1:
                print(f"-- schema: {s}")
            plan = conversion_statements(sub, fks=sub_fks, schema=s)
            print(plan.to_sql())
        if hoisted:
            print("-- cross-schema foreign keys: re-add (every referenced "
                  "column now converted)")
            for fk in sorted(hoisted, key=lambda k: (k.schema, k.table,
                                                     k.name)):
                print(render_fk_readd(fk))
        print("-- apply stream above is a dry run; nothing was executed",
              file=sys.stderr)
    return 0


def cmd_star(args) -> int:
    """Star-schema conversion — the reference's directly-executed
    ``Convert_To_Star_Schema.sql`` (:469-489 ``do_create_tables`` /
    ``transfer_data`` flags) over operators/star_schema.py: split a flat
    table into dimension tables (DISTINCT dim columns + deterministic
    content-hash surrogate keys, :386) and a fact table joining back on
    NULL-safe equality (:372,405-418).

    - ``--dim name:col1,col2`` (repeatable) names each dimension and its
      source columns; measures default to every remaining non-dim,
      non-fact-id column.
    - ``--no-create`` skips writing entirely (plan review: prints the
      would-be layout — the reference's do_create_tables=false).
    - ``--no-transfer`` writes empty tables with the final schema only
      (the reference's transfer_data=false).
    - ``--validate`` reconstructs the flat view (fact ⋈ dims) and runs the
      metric engine over source vs reconstruction — rc 1 on any DEVIATION
      (the MIG_CHK gate applied to the conversion itself).
    """
    import os

    from database_migration_spark.operators.star_schema import (
        build_dimension,
        build_fact,
    )
    from database_migration_spark.operators.validate import validate_pair
    from database_migration_spark.session import get_spark

    spark = get_spark(app_name="dms_star")
    adapter = _source(spark, args.source, args)
    cat = adapter.scan_catalog("%", args.table, include_keys=True)
    if not cat.tables:
        print(f"error: table {args.table!r} not found in {args.source}",
              file=sys.stderr)
        return 2
    meta = cat.tables[0]
    flat = _read(adapter, meta)
    by_upper = {c.upper(): c for c in flat.columns}

    def resolve(names: list) -> list:
        missing = [n for n in names if n.upper() not in by_upper]
        if missing:
            raise SystemExit(
                f"error: column(s) {missing} not in {args.table} "
                f"(has {flat.columns})"
            )
        return [by_upper[n.upper()] for n in names]

    dims_spec: dict = {}
    for spec in args.dim or []:
        if ":" not in spec:
            raise SystemExit(
                f"error: --dim expects name:col1,col2 — got {spec!r}"
            )
        name, _, cols = spec.partition(":")
        cols = resolve([c.strip() for c in cols.split(",") if c.strip()])
        if not cols:
            raise SystemExit(f"error: --dim {name} names no columns")
        dims_spec[name.strip()] = cols
    if not dims_spec:
        raise SystemExit("error: at least one --dim name:cols is required")

    fact_ids = (
        resolve([k.strip() for k in args.fact_id.split(",") if k.strip()])
        if args.fact_id
        else (
            resolve(list(meta.primary_key.columns))
            if meta.primary_key
            else None
        )
    )
    if not fact_ids:
        print("error: no primary key in catalog and no --fact-id",
              file=sys.stderr)
        return 2
    dim_cols_all = {c for cols in dims_spec.values() for c in cols}
    measures = (
        resolve([m.strip() for m in args.measures.split(",") if m.strip()])
        if args.measures
        else [
            c for c in flat.columns
            if c not in dim_cols_all and c not in fact_ids
        ]
    )

    dims = {
        f"{name}_key": (build_dimension(flat, cols, f"{name}_key"), cols)
        for name, cols in dims_spec.items()
    }
    fact = build_fact(flat, dims, measure_cols=measures, fact_id_cols=fact_ids)

    fact_name = f"fact_{args.table}"
    for name, cols in dims_spec.items():
        print(f"dim {name}({name}_key, {', '.join(cols)})")
    print(f"{fact_name}({', '.join(fact_ids)}, "
          f"{', '.join(k for k in dims)}, {', '.join(measures)})")
    if args.create:
        for name in dims_spec:
            df = dims[f"{name}_key"][0]
            out = df if args.transfer else df.limit(0)
            out.write.mode("overwrite").parquet(
                os.path.join(args.target, f"{name}.parquet")
            )
        (fact if args.transfer else fact.limit(0)).write.mode(
            "overwrite"
        ).parquet(os.path.join(args.target, f"{fact_name}.parquet"))
        wrote = "tables + data" if args.transfer else "empty tables (schema only)"
        print(f"-- wrote {wrote} under {args.target}", file=sys.stderr)
    else:
        print("-- --no-create: layout printed, nothing written",
              file=sys.stderr)

    if args.validate:
        if not (args.create and args.transfer):
            print("error: --validate needs created+transferred tables",
                  file=sys.stderr)
            return 2
        # reconstruct the flat view from what was WRITTEN (not the in-memory
        # plan): fact joins each dimension back on its surrogate key
        rec = spark.read.parquet(os.path.join(args.target, f"{fact_name}.parquet"))
        for name, cols in dims_spec.items():
            d = spark.read.parquet(os.path.join(args.target, f"{name}.parquet"))
            rec = rec.join(d, f"{name}_key", "left")
        flat_cols = fact_ids + sorted(dim_cols_all) + measures
        # the rows come sorted by column, then metric
        cmp_rows, _same_cols = validate_pair(
            flat.select(*flat_cols), rec.select(*flat_cols), args.table
        )
        bad = [r for r in cmp_rows if r.status != "OK"]
        for r in bad:
            print(f"DEVIATION {r.column_name} {r.metric}: "
                  f"{r.value_a!r} != {r.value_b!r}")
        print(f"-- validation: {len(cmp_rows) - len(bad)}/{len(cmp_rows)} "
              f"metrics OK", file=sys.stderr)
        if bad:
            return 1
    return 0


def cmd_cdc(args) -> int:
    """Apply an op-coded (I/U/D) change feed to a parquet target
    (operators/cdc.py) — the delete-capable sibling of ``sync``
    (watermark+MERGE cannot express a source-side delete). The feed is a
    table with the target's columns plus --seq-col and --op-col;
    ``--dry-run`` prints the per-op event/net counts without writing."""
    from database_migration_spark.operators.cdc import apply_cdc, cdc_counts
    from database_migration_spark.session import get_spark

    spark = get_spark(app_name="dms_cdc")
    eadapter = _source(spark, args.events, args)
    ecat = eadapter.scan_catalog("%", args.events_table or "%")
    if not ecat.tables:
        print(f"error: no events table in {args.events}", file=sys.stderr)
        return 2
    if len(ecat.tables) > 1:
        names = sorted(t.table for t in ecat.tables)
        print(f"error: {args.events} holds several tables {names} — "
              "pick one with --events-table", file=sys.stderr)
        return 2
    events = _read(eadapter, ecat.tables[0])
    keys = [k.strip() for k in args.keys.split(",") if k.strip()]
    counts = {
        r.op: (r.events, r.net_keys)
        for r in cdc_counts(events, keys, args.seq_col, args.op_col).collect()
    }
    for op in sorted(counts):
        ev, net = counts[op]
        print(f"{op}: {ev} events, {net} net keys")
    if args.dry_run:
        print("-- dry run; target untouched", file=sys.stderr)
        return 0
    from database_migration_spark.functions.io import keyed_epoch, read_keyed

    def merge(base, feed):
        if base is None:
            # bootstrap: an empty base with the feed's business columns
            base = feed.drop(args.seq_col, args.op_col).limit(0)
        return apply_cdc(base, feed, keys, args.seq_col, args.op_col)

    try:
        committed, _ = keyed_epoch(
            spark, args.target, args.target + ".cdc-tmp", keys,
            args.partitions, events, merge,
        )
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    if not committed:
        # a delete-only first feed nets to zero rows: nothing to write
        # and no layout to commit
        print("target now has 0 rows (feed netted to nothing; "
              "target not created)")
        return 0
    # a partitioned store CAN legally end up with zero partitions (a feed
    # that deleted every key): read_keyed reports it as no rows
    final = read_keyed(spark, args.target)
    n = 0 if final is None else final.count()
    print(f"target now has {n} rows")
    return 0


def cmd_dedup(args) -> int:
    """Fingerprint-index lifecycle (operators/dedup.py:909-1240) — the
    repo's recurring-crawl dedup store, now CLI-reachable like every
    reference workflow:

    - ``build``: fingerprint the corpus (content hash + minhash) and write
      the two partition-pruned indexes (content/ + bands/) with the layout
      recorded in ``_index_meta.json`` (incl. shingle k and minhash seed —
      later appends must sign with the same ones or band keys never
      collide).
    - ``append``: grow the index with a batch's fingerprints; layout
      resolves from the stored metadata, explicit contradictions are an
      ERROR naming the stored layout (the silent-misprune trap).
    - ``probe``: dedup a batch against the index (partition-pruned reads);
      prints per-status counts; ``--out`` writes the (id, status,
      match_id) decisions, ``--apply-new`` appends the batch's 'new'
      fingerprints back (the crawl-loop store maintenance); ``--dry-run``
      suppresses both writes.
    - ``compact``: rewrite each sub-index to one file per bucket (append
      epochs accumulate small files) and swap it into place.
    - ``forget``: the takedown / right-to-be-forgotten pass — drop the
      given document ids from both sub-indexes by rewriting ONLY the
      partitions that hold them (one column-pruned locate scan each;
      untouched partitions keep their file identity). The corpus files
      themselves are the caller's storage; this removes the ids'
      fingerprints so future probes never match against them.
    - ``overlap``: the index-free winnowing/MOSS shared-passage detector
      (operators/text.py winnow_overlap_pairs, SIGMOD'03): document
      pairs sharing >= ``--min-shared`` distinct selected fingerprints,
      with ``--max-bucket`` dropping boilerplate fingerprints before the
      join. Reads ``--corpus`` directly — no index is built or read.
    - ``cluster``: near-dup cluster labels for the whole corpus —
      MinHash pairs (same knobs as build/probe) → connected components →
      an (id, cluster_id) parquet, the table ``sample split
      --cluster-labels`` consumes for leakage-safe holdouts. Index-free
      like overlap.
    """
    import os

    from pyspark.sql import functions as F

    from database_migration_spark.operators.dedup import (
        INDEX_DEFAULTS,
        append_fingerprint_index,
        fingerprint_store,
        incremental_dedup_indexed,
        write_fingerprint_index,
    )
    from database_migration_spark.session import get_spark

    if args.action not in ("overlap", "cluster") and not args.index:
        print(f"error: dedup {args.action} needs --index", file=sys.stderr)
        return 2
    if args.action == "cluster":
        if not args.dry_run and not args.out:
            print("error: pass --out for the label table, or --dry-run "
                  "for cluster stats only", file=sys.stderr)
            return 2
        k, num_perm, bands, seed = _with_defaults(
            INDEX_DEFAULTS, shingle_k=args.k, num_perm=args.num_perm,
            bands=args.bands, seed=args.seed,
        )
        if k < 1 or num_perm < 1 or bands < 1:
            print("error: dedup cluster needs --k, --num-perm and "
                  "--bands all >= 1", file=sys.stderr)
            return 2
        if num_perm % bands != 0:
            print(f"error: dedup cluster got --num-perm={num_perm} not "
                  f"divisible by --bands={bands} — rows-per-band must "
                  "be exact or signatures silently truncate",
                  file=sys.stderr)
            return 2
        if not 0 <= args.min_agree <= 1000:
            print(f"error: dedup cluster got --min-agree="
                  f"{args.min_agree} — the near-dup agreement threshold "
                  "is permille, pass 0..1000", file=sys.stderr)
            return 2
    if args.action == "overlap":
        if (args.k is not None and args.k < 1) or args.window < 1:
            print("error: dedup overlap needs --k >= 1 and --window >= 1",
                  file=sys.stderr)
            return 2
        if args.min_shared < 1:
            print(f"error: dedup overlap got --min-shared="
                  f"{args.min_shared} — pass --min-shared >= 1",
                  file=sys.stderr)
            return 2
        if args.max_bucket is not None and args.max_bucket < 2:
            print(f"error: dedup overlap got --max-bucket="
                  f"{args.max_bucket} — a cap below 2 drops every "
                  "fingerprint two documents could share; pass "
                  "--max-bucket >= 2 or omit it", file=sys.stderr)
            return 2
        if not args.dry_run and not args.out:
            print("error: pass --out for the pair table, or --dry-run for "
                  "counts only", file=sys.stderr)
            return 2

    spark = get_spark(app_name="dms_dedup")

    def corpus_df():
        if not args.corpus:
            print(f"error: dedup {args.action} needs --corpus",
                  file=sys.stderr)
            return None
        adapter = _source(spark, args.corpus, args)
        cat = adapter.scan_catalog("%", args.table or "%")
        if not cat.tables:
            print(f"error: no table in {args.corpus}", file=sys.stderr)
            return None
        if len(cat.tables) > 1:
            names = sorted(t.table for t in cat.tables)
            print(f"error: {args.corpus} holds several tables {names} — "
                  "pick one with --table", file=sys.stderr)
            return None
        return _read(adapter, cat.tables[0])

    def signing_params():
        """k/seed/num_perm the fingerprints must be computed with: stored
        metadata wins; an explicit contradiction is the misprune error."""
        if not os.path.isdir(os.path.join(args.index, "content")):
            print(f"error: no fingerprint index at {args.index} "
                  "(run `dedup build` first)", file=sys.stderr)
            return None
        try:
            p = store_meta.resolve(
                args.index, "minhash",
                {"shingle_k": args.k, "seed": args.seed,
                 "num_perm": args.num_perm},
                INDEX_DEFAULTS,
            )
        except ValueError as e:
            print(f"error: {e}", file=sys.stderr)
            return None
        return p["shingle_k"], p["seed"], p["num_perm"]

    if args.media:
        if args.action not in ("build", "append", "probe"):
            print("error: --media applies to build/append/probe "
                  "(compact/forget detect the index kind from the "
                  "stored metadata)", file=sys.stderr)
            return 2
        return _dedup_media(args, spark, corpus_df)

    if args.action == "cluster":
        df = corpus_df()
        if df is None:
            return 2
        from database_migration_spark.operators.dedup import (
            connected_components,
            minhash_dedup_pairs,
        )

        pairs = minhash_dedup_pairs(
            df,
            args.text_col,
            args.id_col,
            k=k,
            num_perm=num_perm,
            bands=bands,
            threshold_permille=args.min_agree,
            seed=seed,
        )
        labels = connected_components(pairs, df, id_col=args.id_col)
        if not args.dry_run:
            labels.write.mode("overwrite").parquet(args.out)
            labels = spark.read.parquet(args.out)
        n_docs = labels.count()
        sizes = labels.groupBy("cluster_id").count()
        n_clusters = sizes.count()
        n_multi = sizes.where("count > 1").count()
        biggest = sizes.agg(F.max("count")).collect()[0][0] or 0
        print(f"{n_docs} documents -> {n_clusters} clusters "
              f"({n_multi} with >1 member, largest {biggest})")
        if not args.dry_run:
            print(f"label table written to {args.out} — feed it to "
                  "`sample split --cluster-labels` for a leakage-safe "
                  "holdout")
        return 0

    if args.action == "overlap":
        df = corpus_df()
        if df is None:
            return 2
        from database_migration_spark.operators.text import (
            winnow_overlap_pairs,
        )

        pairs = winnow_overlap_pairs(
            df,
            args.text_col,
            args.id_col,
            k=args.k if args.k is not None else 8,
            window=args.window,
            min_shared=args.min_shared,
            max_bucket=args.max_bucket,
        )
        if args.dry_run:
            top = (
                pairs.orderBy(F.desc("shared"), "doc_a", "doc_b")
                .limit(6)
                .collect()
            )
            n = pairs.count()
        else:
            pairs.write.mode("overwrite").parquet(args.out)
            written = spark.read.parquet(args.out)
            top = (
                written.orderBy(F.desc("shared"), "doc_a", "doc_b")
                .limit(6)
                .collect()
            )
            n = written.count()
        cap = "none" if args.max_bucket is None else args.max_bucket
        print(f"{n} overlapping pair(s) at min_shared={args.min_shared} "
              f"(k={args.k if args.k is not None else 8}, "
              f"window={args.window}, max_bucket={cap})")
        for r in top[:5]:
            print(f"  {r['doc_a']} ~ {r['doc_b']}: {r['shared']} shared "
                  "fingerprints")
        if len(top) > 5:
            print("  ...")
        if not args.dry_run:
            print(f"pair table written to {args.out}")
        return 0

    if args.action == "build":
        df = corpus_df()
        if df is None:
            return 2
        k, seed, num_perm, bands, buckets = _with_defaults(
            INDEX_DEFAULTS, shingle_k=args.k, seed=args.seed,
            num_perm=args.num_perm, bands=args.bands, buckets=args.buckets,
        )
        fp = fingerprint_store(df, args.text_col, args.id_col, k=k,
                               num_perm=num_perm, seed=seed)
        write_fingerprint_index(
            fp, args.index, num_perm=num_perm, bands=bands, buckets=buckets,
            extra={"shingle_k": k, "seed": seed},
        )
        n = spark.read.parquet(f"{args.index}/content").count()
        print(f"index built: {n} documents, layout "
              f"{store_meta.read(args.index, 'minhash')}")
        return 0

    if args.action == "append":
        sp = signing_params()
        if sp is None:
            return 2
        df = corpus_df()
        if df is None:
            return 2
        k, seed, num_perm = sp
        fp = fingerprint_store(df, args.text_col, args.id_col, k=k,
                               num_perm=num_perm, seed=seed)
        try:
            append_fingerprint_index(fp, args.index, num_perm=args.num_perm,
                                     bands=args.bands, buckets=args.buckets)
        except ValueError as e:
            print(f"error: {e}", file=sys.stderr)
            return 2
        n = fp.count()
        print(f"appended {n} fingerprints to {args.index}")
        return 0

    if args.action == "probe":
        sp = signing_params()
        if sp is None:
            return 2
        df = corpus_df()
        if df is None:
            return 2
        k, seed, num_perm = sp
        fp = fingerprint_store(df, args.text_col, args.id_col, k=k,
                               num_perm=num_perm, seed=seed)
        try:
            decisions = incremental_dedup_indexed(
                spark, args.index, fp, num_perm=args.num_perm,
                bands=args.bands, buckets=args.buckets,
                min_agree_permille=args.min_agree,
            )
        except ValueError as e:
            print(f"error: {e}", file=sys.stderr)
            return 2
        from pyspark import StorageLevel

        decisions = decisions.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            counts = {
                r.status: r.n
                for r in decisions.groupBy("status")
                .agg(F.count("*").alias("n")).collect()
            }
            for s in ("exact_dup", "near_dup", "new"):
                print(f"{s}: {counts.get(s, 0)}")
            if args.dry_run:
                print("-- dry run; nothing written", file=sys.stderr)
                return 0
            if args.out:
                decisions.write.mode("overwrite").parquet(args.out)
                print(f"decisions written to {args.out}")
            if args.apply_new:
                new_fp = fp.join(
                    decisions.where(F.col("status") == "new").select("id"),
                    "id",
                )
                append_fingerprint_index(new_fp, args.index)
                print(f"appended {counts.get('new', 0)} new fingerprints")
        finally:
            decisions.unpersist(blocking=False)
        return 0

    if args.action == "forget":
        from database_migration_spark.operators.dedup import (
            delete_rows_partitioned,
        )

        sub_ixs = _dedup_sub_indexes(args.index)
        if not os.path.isdir(os.path.join(args.index, sub_ixs[0])):
            print(f"error: no dedup index at {args.index} "
                  "(run `dedup build` first)", file=sys.stderr)
            return 2
        ids: list = []
        try:
            if args.ids:
                ids += [int(x) for x in args.ids.split(",") if x.strip()]
            if args.ids_file:
                with open(args.ids_file) as fh:
                    ids += [int(x) for x in fh.read().split() if x.strip()]
        except ValueError as e:
            print(f"error: dedup forget ids must be integers ({e})",
                  file=sys.stderr)
            return 2
        if not ids:
            print("error: dedup forget needs --ids or --ids-file",
                  file=sys.stderr)
            return 2
        total_deleted = 0
        for sub_ix in sub_ixs:
            src = f"{args.index}/{sub_ix}"
            # the sub-indexes bucket on CONTENT/band-key hashes, not on
            # the id, so the locate pass is the column-pruned
            # (sid, bucket) scan — still never a full-row read
            res = delete_rows_partitioned(
                spark, src, src + ".forget", ids, "sid", "bucket"
            )
            total_deleted += res["rows_deleted"]
            print(f"{sub_ix}: {res['rows_deleted']} rows dropped from "
                  f"{len(res['partitions'])} partition(s), "
                  f"{res['rows_kept']} kept in them")
        if total_deleted == 0:
            print("warning: none of the ids were in the index",
                  file=sys.stderr)
        return 0

    # compact: one file per bucket per sub-index
    sub_ixs = _dedup_sub_indexes(args.index)
    if not os.path.isdir(os.path.join(args.index, sub_ixs[0])):
        print(f"error: no dedup index at {args.index} "
              "(run `dedup build` first)", file=sys.stderr)
        return 2
    _compact_sub_indexes(spark, args.index, sub_ixs, "bucket")
    return 0


def _compact_sub_indexes(spark, index: str, sub_ixs, partition_col: str) -> None:
    """`dedup compact` / `ann compact`: rewrite each sub-index to one file
    per partition value and commit it over the old one in one swap."""
    import os

    from database_migration_spark.functions.io import build_store
    from database_migration_spark.operators.dedup import compact_partitioned

    for sub_ix in sub_ixs:
        src = f"{index}/{sub_ix}"
        build_store(
            src, lambda dest: compact_partitioned(spark, src, dest, partition_col)
        )
        n_files = sum(
            len([f for f in files if f.endswith(".parquet")])
            for _, _, files in os.walk(src)
        )
        print(f"{sub_ix}: compacted to {n_files} files")


def _dedup_sub_indexes(index_path: str) -> tuple:
    """The sub-index set follows the stored index kind: one chunk index
    for hamming (media/simhash) stores, content+bands for minhash
    fingerprint stores — shared by forget and compact (review finding:
    the detection was copy-pasted in both branches)."""
    if store_meta.read(index_path, "hamming") is not None:
        return ("chunks",)
    return ("content", "bands")


def _dedup_media(args, spark, corpus_df) -> int:
    """The image leg of the dedup lifecycle (round-12: text had the full
    store/append/probe/forget loop, images were batch-only): dHash
    signatures (operators/multimodal.perceptual_dhash — pixels never
    leave the map side) into the partition-pruned hamming chunk index
    (operators/dedup.write_hamming_index), probed with the same
    (id, status, match_id) decision convention as the text probe plus
    ``min_hamming`` (0 = signature-identical re-encode)."""
    import os

    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from database_migration_spark.operators.dedup import (
        HAMMING_DEFAULTS,
        append_hamming_index,
        hamming_dedup_indexed,
        write_hamming_index,
    )
    from database_migration_spark.operators.multimodal import (
        perceptual_dhash,
    )

    if args.action in ("append", "probe") and not os.path.isdir(
        os.path.join(args.index, "chunks")
    ):
        print(f"error: no hamming media index at {args.index} "
              "(run `dedup build --media` first)", file=sys.stderr)
        return 2
    df = corpus_df()
    if df is None:
        return 2
    sigs_all = perceptual_dhash(
        df, payload_col=args.payload_col, id_col=args.id_col
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n_err = sigs_all.where(F.col("error").isNotNull()).count()
        if n_err:
            print(f"warning: {n_err} payload(s) failed to decode — "
                  "excluded from the index (error rows stay visible "
                  "via perceptual_dhash)", file=sys.stderr)
        sigs = sigs_all.where(F.col("error").isNull()).select(
            "id", "sig_lo", "sig_hi"
        )

        if args.action == "build":
            # one cached count serves the emptiness guard AND the log
            # line (re-reading the written index for the count was an
            # extra full scan + distinct — review finding)
            n = sigs.count()
            if n == 0:
                print("error: no decodable payloads in the corpus — an "
                      "empty index would break every later probe; check "
                      f"--payload-col (got {args.payload_col!r})",
                      file=sys.stderr)
                return 2
            max_hamming, buckets = _with_defaults(
                HAMMING_DEFAULTS, max_hamming=args.max_hamming,
                buckets=args.buckets,
            )
            write_hamming_index(
                sigs, args.index, max_hamming=max_hamming, buckets=buckets,
                extra={"signature": "dhash64"},
            )
            print(f"media index built: {n} image signature(s), layout "
                  f"{store_meta.read(args.index, 'hamming')}")
            return 0

        if args.action == "append":
            try:
                append_hamming_index(
                    sigs, args.index, max_hamming=args.max_hamming,
                    buckets=args.buckets,
                )
            except ValueError as e:
                print(f"error: {e}", file=sys.stderr)
                return 2
            print(f"appended {sigs.count()} image signature(s) to "
                  f"{args.index}")
            return 0

        # probe
        try:
            decisions = hamming_dedup_indexed(
                spark, args.index, sigs, max_hamming=args.max_hamming,
                buckets=args.buckets,
            ).persist(StorageLevel.MEMORY_AND_DISK)
        except ValueError as e:
            print(f"error: {e}", file=sys.stderr)
            return 2
        try:
            counts = {
                r.status: r.n
                for r in decisions.groupBy("status")
                .agg(F.count("*").alias("n")).collect()
            }
            for s in ("near_dup", "new"):
                print(f"{s}: {counts.get(s, 0)}")
            if args.dry_run:
                print("-- dry run; nothing written", file=sys.stderr)
                return 0
            if args.out:
                decisions.write.mode("overwrite").parquet(args.out)
                print(f"decisions written to {args.out}")
            if args.apply_new:
                new_sigs = sigs.join(
                    decisions.where(F.col("status") == "new").select("id"),
                    "id",
                )
                append_hamming_index(new_sigs, args.index)
                print(f"appended {counts.get('new', 0)} new image "
                      "signature(s)")
        finally:
            decisions.unpersist(blocking=False)
        return 0
    finally:
        sigs_all.unpersist(blocking=False)


def cmd_sample(args) -> int:
    """Training-data draws over a corpus table (operators/sampling.py) —
    the most operational LLM-pipeline capability, behind one subcommand
    (the round-8 dedup/ann treatment):

    - ``pps``: probability-proportional-to-size systematic draw —
      inclusion probability ≈ n·w/W, integer-exact, no float randomness.
    - ``stratified``: up to N rows per stratum in deterministic md5 order.
    - ``budget``: fill a token budget per group in deterministic order.
    - ``mix``: reweight to a target domain mixture (exact integer ppm
      rates, ``domain=ppm`` pairs).
    - ``split``: salted deterministic train/val/test assignment.
    - ``calibrate``: per-group percentile rank (integer ppm) of a score
      column, optionally gated at ``--threshold-ppm``.
    - ``topmass``: keep the highest-scoring rows per group until they
      cover ``--mass-ppm`` of the group's weight (division-free exact
      arithmetic).
    - ``pack``: annotate every row with its fixed-token-budget training
      sequence (pack id + offset) — concat-and-chunk layout, keeps all
      rows.

    ``--dry-run`` prints the exact draw counts and writes nothing;
    otherwise ``--out`` is required (a draw must land somewhere). Bad
    parameters (unknown columns, rates outside [0, 1e6], val+test ≥ 1000,
    n/budget < 1) exit 2 naming the fix.
    """
    from pyspark.sql import functions as F

    from database_migration_spark.operators.sampling import (
        budget_sample,
        domain_mix_sample,
        hash_split,
        percentile_calibrate,
        pps_systematic_sample,
        sequence_pack,
        stratified_sample,
        top_mass_sample,
    )
    from database_migration_spark.session import get_spark

    need = {
        "pps": ("weight_col", "n"),
        "stratified": ("strata_cols", "n_per_stratum"),
        "budget": ("token_col", "budget"),
        "mix": ("weights", "domain_col"),
        "split": (),
        "calibrate": ("score_col",),
        "topmass": ("score_col", "weight_col", "mass_ppm"),
        "pack": ("token_col", "budget"),
    }[args.action]
    missing = [
        "--" + a.replace("_", "-") for a in need if getattr(args, a) is None
    ]
    if missing:
        print(f"error: sample {args.action} needs {' '.join(missing)}",
              file=sys.stderr)
        return 2
    if not args.dry_run and not args.out:
        print("error: pass --out for the draw, or --dry-run for counts "
              "only", file=sys.stderr)
        return 2

    spark = get_spark(app_name="dms_sample")
    adapter = _source(spark, args.source, args)
    cat = adapter.scan_catalog("%", args.table or "%")
    if not cat.tables:
        print(f"error: no table in {args.source}", file=sys.stderr)
        return 2
    if len(cat.tables) > 1:
        names = sorted(t.table for t in cat.tables)
        print(f"error: {args.source} holds several tables {names} — pick "
              "one with --table", file=sys.stderr)
        return 2
    df = _read(adapter, cat.tables[0])

    def cols_of(spec: "str | None") -> list:
        return [c.strip() for c in spec.split(",") if c.strip()] if spec else []

    group_cols = cols_of(args.group_cols)
    used = [args.id_col] + group_cols + [
        c for c in (args.weight_col, args.token_col, args.score_col,
                    args.domain_col) if c
    ] + cols_of(args.strata_cols)
    unknown = [c for c in used if c not in df.columns]
    if unknown:
        print(f"error: column(s) {unknown} not in the table "
              f"(has {df.columns})", file=sys.stderr)
        return 2

    n_in = df.count()
    per_group_report = None
    try:
        if args.action == "pps":
            if args.n < 1:
                raise ValueError(f"--n must be >= 1, got {args.n}")
            out = pps_systematic_sample(
                df, args.id_col, args.weight_col, args.n,
                partition_cols=group_cols or None, offset=args.offset,
            )
            wv = F.col(args.weight_col).cast("long")
            kept_mass, total_mass = (
                out.agg(F.sum(wv)).collect()[0][0] or 0,
                df.agg(F.sum(wv)).collect()[0][0] or 0,
            )
            per_group_report = (
                f"weight mass kept: {kept_mass}/{total_mass}"
            )
        elif args.action == "stratified":
            strata = cols_of(args.strata_cols)
            if args.n_per_stratum < 1:
                raise ValueError(
                    f"--n-per-stratum must be >= 1, got {args.n_per_stratum}"
                )
            out = stratified_sample(
                df, strata, args.id_col, args.n_per_stratum
            )
            n_strata = df.select(*strata).distinct().count()
            per_group_report = f"strata: {n_strata}"
        elif args.action == "budget":
            if args.budget < 1:
                raise ValueError(f"--budget must be >= 1, got {args.budget}")
            out = budget_sample(
                df, args.id_col, args.token_col, args.budget,
                partition_cols=group_cols or None,
            )
            toks = out.agg(
                F.sum(F.col(args.token_col).cast("long"))
            ).collect()[0][0] or 0
            per_group_report = f"tokens kept: {toks}"
        elif args.action == "mix":
            pairs = []
            for item in args.weights.split(","):
                dom, _, ppm_s = item.partition("=")
                if not dom or not ppm_s:
                    raise ValueError(
                        f"--weights entry {item!r} is not domain=ppm"
                    )
                ppm = int(ppm_s)
                if not 0 <= ppm <= 1_000_000:
                    raise ValueError(
                        f"--weights rate for {dom!r} is {ppm} — rates are "
                        "parts-per-million in [0, 1000000]"
                    )
                pairs.append((dom.strip(), ppm))
            w = spark.createDataFrame(
                pairs, f"{args.domain_col} STRING, target_ppm LONG"
            )
            out = domain_mix_sample(df, w, args.domain_col, args.id_col)
            got = {
                r[0]: r[1]
                for r in out.groupBy(args.domain_col).count().collect()
            }
            per_group_report = "kept per domain: " + ", ".join(
                f"{d}={got.get(d, 0)}" for d, _ in pairs
            )
        elif args.action == "split":
            if (
                args.val_permille < 0
                or args.test_permille < 0
                or args.val_permille + args.test_permille >= 1000
            ):
                raise ValueError(
                    f"--val-permille and --test-permille must be >= 0 and "
                    f"sum below 1000, got "
                    f"{args.val_permille}+{args.test_permille}"
                )
            if args.cluster_labels:
                from database_migration_spark.operators.sampling import (
                    cluster_safe_split,
                )

                lab_adapter = _source(spark, args.cluster_labels, args)
                lab_cat = lab_adapter.scan_catalog("%", "%")
                if len(lab_cat.tables) != 1:
                    print(f"error: --cluster-labels {args.cluster_labels} "
                          f"must hold exactly one table, found "
                          f"{sorted(t.table for t in lab_cat.tables)}",
                          file=sys.stderr)
                    return 2
                labels = _read(lab_adapter, lab_cat.tables[0])
                if args.cluster_col not in labels.columns:
                    print(f"error: --cluster-labels table has no "
                          f"'{args.cluster_col}' column (columns: "
                          f"{labels.columns}) — pass --cluster-col",
                          file=sys.stderr)
                    return 2
                out = cluster_safe_split(
                    df, args.id_col, labels,
                    val_permille=args.val_permille,
                    test_permille=args.test_permille, salt=args.salt,
                    cluster_col=args.cluster_col,
                )
            else:
                out = hash_split(
                    df, args.id_col, val_permille=args.val_permille,
                    test_permille=args.test_permille, salt=args.salt,
                )
            got = {r[0]: r[1] for r in out.groupBy("split").count().collect()}
            per_group_report = "split counts: " + ", ".join(
                f"{s}={got.get(s, 0)}" for s in ("train", "val", "test")
            )
        elif args.action == "pack":
            if args.budget < 1:
                raise ValueError(f"--budget must be >= 1, got {args.budget}")
            out = sequence_pack(
                df, args.id_col, args.token_col, args.budget,
                partition_cols=group_cols or None,
            )
            part = group_cols or ["_shard"]
            n_packs = out.select(*part, "pack_id").distinct().count()
            per_group_report = f"packs: {n_packs} of budget {args.budget}"
        elif args.action == "topmass":
            out = top_mass_sample(
                df, args.id_col, args.score_col, args.weight_col,
                args.mass_ppm, group_cols=group_cols or None,
            )
            wv = F.col(args.weight_col).cast("long")
            kept_mass, total_mass = (
                out.agg(F.sum(wv)).collect()[0][0] or 0,
                df.agg(F.sum(wv)).collect()[0][0] or 0,
            )
            per_group_report = (
                f"weight mass kept: {kept_mass}/{total_mass}"
            )
        else:  # calibrate
            if not 0 <= args.threshold_ppm <= 1_000_000:
                raise ValueError(
                    f"--threshold-ppm must be in [0, 1000000], got "
                    f"{args.threshold_ppm}"
                )
            out = percentile_calibrate(
                df, args.score_col, args.id_col,
                group_cols=group_cols or None,
            )
            if args.threshold_ppm:
                out = out.where(F.col("pct_ppm") >= args.threshold_ppm)
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2

    n_kept = out.count()
    print(f"sample {args.action}: {n_kept}/{n_in} rows kept")
    if per_group_report:
        print(per_group_report)
    if args.dry_run:
        print("dry run: nothing written", file=sys.stderr)
        return 0
    out.write.mode("overwrite").parquet(args.out)
    print(f"written: {args.out}")
    return 0


def cmd_ann(args) -> int:
    """ANN index lifecycle over an embedding table (operators/similarity.py)
    — the vector sibling of ``dedup``:

    - ``suggest``: measure the corpus's ACTUAL neighbor geometry (one brute
      top-k pass over a query sample — recall must be sized from measured
      neighbor_cos, never guessed) and print the recommended method +
      parameters from ``suggest_ann_params``, both the raw-index (LSH/IVF)
      and the compressed (IVF-PQ) recommendation.
    - ``build``: train IVF-PQ (residual codebooks over √n coarse cells by
      default) and write the partition-pruned index (codes + vectors
      partitioned by cell, geometry stored in ``_ann_meta.json``).
      Vectors are L2-normalized by default (cosine ranking — the embedding
      norm carries no similarity signal); ``--no-normalize`` keeps raw L2.
    - ``search``: top-k against the index; geometry AND the normalization
      choice resolve from the stored metadata (a prober must never guess
      the writer's layout); the exact-rerank leg defaults ON (measured:
      ADC-only answers 0.43 where rerank answers 0.79 on hard geometry).
      ``--out`` writes (query_id, neighbor_id, rank, dist) parquet.
    """
    import json
    import math

    from pyspark.sql import functions as F

    from database_migration_spark.operators import similarity as S
    from database_migration_spark.session import get_spark

    need = {"suggest": ("corpus",), "build": ("index", "corpus"),
            "append": ("index", "corpus"), "drift": ("index", "corpus"),
            "search": ("index", "queries"),
            "compact": ("index",)}[args.action]
    missing = [f"--{a}" for a in need if not getattr(args, a)]
    if missing:
        print(f"error: ann {args.action} needs {' '.join(missing)}",
              file=sys.stderr)
        return 2
    spark = get_spark(app_name="dms_ann")

    def table_df(root):
        adapter = _source(spark, root, args)
        cat = adapter.scan_catalog("%", args.table or "%")
        if not cat.tables:
            print(f"error: no table in {root}", file=sys.stderr)
            return None
        if len(cat.tables) > 1:
            names = sorted(t.table for t in cat.tables)
            print(f"error: {root} holds several tables {names} — pick one "
                  "with --table", file=sys.stderr)
            return None
        return _read(adapter, cat.tables[0])

    def normalized(df):
        # zero-norm guard (round-8 ADVICE): an all-zero or NULL embedding
        # would divide to NULL/NaN elements and flow unguarded into
        # training/encode/search — drop those rows with a counted warning
        # (one column-pruned scan; the CLI reads the corpus anyway).
        norm = F.expr(
            f"sqrt(aggregate({args.vec_col}, 0.0D, (a, v) -> "
            "a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"
        )
        with_n = df.select(args.id_col, norm.alias("_n"), args.vec_col)
        n_bad = with_n.where(
            F.col("_n").isNull() | (F.col("_n") <= 0.0)
        ).count()
        if n_bad:
            print(
                f"warning: dropped {n_bad} row(s) with zero/NULL-norm "
                f"{args.vec_col} (cannot be L2-normalized)",
                file=sys.stderr,
            )
        return with_n.where(F.col("_n") > 0.0).select(
            args.id_col,
            F.expr(
                f"transform({args.vec_col}, x -> CAST(x / _n AS FLOAT))"
            ).alias(args.vec_col),
        )

    def stored_ann():
        """The index's meta with ``normalized`` resolved against
        --normalize/--no-normalize, or None (error printed) when there is
        no index or the flag contradicts it."""
        try:
            meta = store_meta.resolve(
                args.index, "ann", {"normalized": args.normalize}, {}
            )
        except ValueError as e:
            print(f"error: {e}", file=sys.stderr)
            return None
        if "coarse" not in meta:  # every stored ANN meta carries coarse
            print(f"error: no ANN index at {args.index} "
                  "(run `ann build` first)", file=sys.stderr)
            return None
        return meta

    if args.action == "suggest":
        df = table_df(args.corpus)
        if df is None:
            return 2
        from pyspark import StorageLevel

        corpus = normalized(df).persist(StorageLevel.MEMORY_AND_DISK)
        n = corpus.count()
        if n == 0:
            print(f"error: {args.corpus} holds no vectors", file=sys.stderr)
            return 2
        dim = len(corpus.select(args.vec_col).head(1)[0][0])
        sample_q = corpus.limit(args.sample_queries)
        brute = S.cosine_topk(corpus, sample_q, k=5)
        med = brute.agg(
            F.expr("percentile(cos_sim_e6, 0.5)").alias("m")
        ).collect()[0][0]
        neighbor_cos = (med or 0.0) / 1_000_000
        print(f"corpus: {n} vectors, dim {dim}; measured neighbor_cos "
              f"(median top-5 over {args.sample_queries} sample queries): "
              f"{neighbor_cos:.3f}")
        for label, cfg in (
            ("raw-index", S.suggest_ann_params(n, dim,
                                               neighbor_cos=neighbor_cos)),
            ("compressed", S.suggest_ann_params(n, dim,
                                                neighbor_cos=neighbor_cos,
                                                compressed=True)),
        ):
            print(f"{label}: {json.dumps(cfg)}")
        return 0

    if args.action == "build":
        df = table_df(args.corpus)
        if df is None:
            return 2
        do_norm = True if args.normalize is None else bool(args.normalize)
        corpus = normalized(df) if do_norm else df.select(
            args.id_col, args.vec_col
        )
        n = corpus.count()
        n_cent = args.n_centroids or max(4, int(round(math.sqrt(n))))
        coarse, books = S.train_ivf_pq(
            corpus, n_centroids=n_cent, m=args.m, k=args.pq_k,
            vec_col=args.vec_col, id_col=args.id_col,
        )
        S.write_ivf_pq_index(
            corpus, args.index, coarse, books,
            id_col=args.id_col, vec_col=args.vec_col,
            extra={"normalized": do_norm},
        )
        print(f"index built: {n} vectors, {n_cent} cells, m={args.m}, "
              f"normalized={do_norm}")
        return 0

    if args.action == "compact":
        # append epochs add one file per touched cell directory
        if store_meta.read(args.index, "ann") is None:
            print(f"error: no ANN index at {args.index} "
                  "(run `ann build` first)", file=sys.stderr)
            return 2
        _compact_sub_indexes(spark, args.index, ("codes", "vectors"), "cell")
        return 0

    if args.action == "drift":
        from database_migration_spark.operators.similarity import (
            ivf_pq_index_drift,
        )

        meta = store_meta.read(args.index, "ann")
        if meta is None:
            print(f"error: no ANN index at {args.index} "
                  "(run `ann build` first)", file=sys.stderr)
            return 2
        df = table_df(args.corpus)
        if df is None:
            return 2
        corpus = normalized(df) if meta.get("normalized") else df.select(
            args.id_col, args.vec_col
        )
        rep = ivf_pq_index_drift(spark, args.index, corpus,
                                 id_col=args.id_col, vec_col=args.vec_col,
                                 meta=meta)
        print(json.dumps(rep))
        # the drift operators' alert convention: ~5% of mass in moved
        # cells warrants attention; exit 1 so CI can gate on it
        return 1 if rep["tv_ppm"] >= args.drift_threshold_ppm else 0

    if args.action == "append":
        from database_migration_spark.operators.similarity import (
            append_ivf_pq_index,
        )

        meta = stored_ann()
        if meta is None:
            return 2
        df = table_df(args.corpus)
        if df is None:
            return 2
        corpus = normalized(df) if meta["normalized"] else df.select(
            args.id_col, args.vec_col
        )
        n = corpus.count()
        append_ivf_pq_index(corpus, args.index,
                            id_col=args.id_col, vec_col=args.vec_col,
                            meta=meta)
        print(f"appended {n} vectors to {args.index} "
              "(stored geometry; rebuild when the distribution drifts)")
        return 0

    # search
    meta = stored_ann()
    if meta is None:
        return 2
    df = table_df(args.queries)
    if df is None:
        return 2
    q = (normalized(df) if meta["normalized"]
         else df.select(args.id_col, args.vec_col))
    n_probe = args.n_probe or max(1, math.ceil(meta["n_centroids"] / 7))
    out = S.ivf_pq_topk_from_index(
        spark, args.index, q, k=args.k, n_probe=n_probe,
        rerank=args.rerank, id_col=args.id_col, vec_col=args.vec_col,
        meta=meta,
    )
    from pyspark import StorageLevel

    out = out.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        n_q = out.select("query_id").distinct().count()
        print(f"{out.count()} result rows for {n_q} queries "
              f"(k={args.k}, n_probe={n_probe}, rerank={args.rerank})")
        if args.out:
            out.write.mode("overwrite").parquet(args.out)
            print(f"results written to {args.out}")
    finally:
        out.unpersist(blocking=False)
    return 0


def cmd_joincard(args) -> int:
    """The runaway-join guard as a CI gate
    (operators/advisor.join_cardinality): predict |left ⋈ right ON
    keys| from two per-key count aggregates — never running the join —
    and exit 1 when the prediction exceeds --max-rows (the
    validate/expect red-gate convention). Prints the top contributing
    keys, the NULL-key rows an inner join would silently drop, and the
    exact total. Bad parameters exit 2 naming the fix."""
    from database_migration_spark.operators.advisor import join_cardinality
    from database_migration_spark.session import get_spark

    keys = [c.strip() for c in (args.keys or "").split(",") if c.strip()]
    if not keys:
        print("error: pass --keys with at least one join key column",
              file=sys.stderr)
        return 2

    spark = get_spark(app_name="dms_joincard")

    def load(root: str, table: "str | None", side: str):
        adapter = _source(spark, root, args)
        cat = adapter.scan_catalog("%", table or "%")
        if not cat.tables:
            print(f"error: no table in {root}", file=sys.stderr)
            return None
        if len(cat.tables) > 1:
            names = sorted(t.table for t in cat.tables)
            print(f"error: {root} holds several tables {names} — pick "
                  f"one with --{side}-table", file=sys.stderr)
            return None
        return _read(adapter, cat.tables[0])

    left = load(args.left, args.left_table, "left")
    if left is None:
        return 2
    right = load(args.right, args.right_table, "right")
    if right is None:
        return 2
    missing = [c for c in keys
               if c not in left.columns or c not in right.columns]
    if missing:
        print(f"error: join keys {missing} must exist on BOTH sides "
              f"(left: {left.columns}, right: {right.columns})",
              file=sys.stderr)
        return 2
    rows = join_cardinality(left, right, keys, top=args.top).collect()
    total = next(r for r in rows if r.key == "*TOTAL*")
    nulls = next(r for r in rows if r.key == "*NULL*")
    for r in rows:
        if r.key.startswith("*"):
            continue
        print(f"key {r.key}: {r.rows_a} x {r.rows_b} -> {r.out_rows}")
    print(f"null-key rows dropped by an inner join: left={nulls.rows_a} "
          f"right={nulls.rows_b}")
    print(f"predicted output: {total.out_rows} rows "
          f"(left={total.rows_a}, right={total.rows_b})")
    if args.max_rows is not None and int(total.out_rows) > args.max_rows:
        print(f"FAIL: predicted {total.out_rows} rows exceeds "
              f"--max-rows {args.max_rows} — an accidental "
              "many-to-many? Check the top keys above", file=sys.stderr)
        return 1
    return 0


def cmd_subset(args) -> int:
    """Referentially-coherent dev-slice extraction
    (operators/subset.coherent_subset): sample --permille of the --root
    table with the deterministic salted-md5 rule, cascade the declared
    fact chains (--cascade child:via_parent, repeatable) down their FK
    edges, close every referenced ancestor upward — zero dangling FKs
    in the written slice, the property independent per-table sampling
    cannot give. FK edges come from the source CATALOG; a source
    without declared keys exits 2 naming the gap."""
    from database_migration_spark.operators.subset import (
        coherent_subset,
        edges_from_catalog,
    )
    from database_migration_spark.session import get_spark

    if bool(args.out) == bool(args.dry_run):
        print("error: pass exactly one of --out or --dry-run",
              file=sys.stderr)
        return 2
    cascade = {}
    for spec in args.cascade or []:
        if ":" not in spec:
            print(f"error: --cascade {spec!r} must be child:via_parent",
                  file=sys.stderr)
            return 2
        ch, via = spec.split(":", 1)
        cascade[ch.strip()] = via.strip()

    spark = get_spark(app_name="dms_subset")
    adapter = _source(spark, args.source, args)
    cat = adapter.scan_catalog("%", "%", include_keys=True)
    edges = edges_from_catalog(cat)
    if not edges:
        print("error: the source catalog declares no foreign keys — "
              "coherent subsetting follows declared FK edges; use a "
              "keys-bearing source or plain `sample` for a single "
              "table", file=sys.stderr)
        return 2
    by_name = {t.table: t for t in cat.tables}
    if args.root not in by_name:
        print(f"error: root table {args.root!r} not in the catalog "
              f"({sorted(by_name)})", file=sys.stderr)
        return 2
    pk = by_name[args.root].primary_key
    root_key = ([c.strip() for c in args.key.split(",")] if args.key
                else list(pk.columns) if pk else None)
    if not root_key:
        print(f"error: {args.root} declares no primary key — pass the "
              "sampling key with --key", file=sys.stderr)
        return 2
    tables = {t.table: _read(adapter, t) for t in cat.tables}
    try:
        kept = coherent_subset(
            tables, edges, root=args.root, permille=args.permille,
            root_key=root_key, cascade=cascade,
        )
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    if args.dry_run:
        for t in sorted(kept):
            n, total = kept[t].count(), tables[t].count()
            print(f"{t}: keep {n} of {total}")
        if args.copy_rest:
            rest = sorted(set(tables) - set(kept))
            print(f"plus full copies of: {', '.join(rest) or '(none)'}")
        return 0
    import os

    for t in sorted(kept):
        dest = os.path.join(args.out, t)
        kept[t].write.mode("overwrite").parquet(dest)
        # count what was WRITTEN (footer-driven), not the plan again —
        # recomputing the closure per table doubles the command
        # (review finding; the cmd_privacy pattern)
        print(f"{t}: wrote {spark.read.parquet(dest).count()} rows")
    if args.copy_rest:
        # tables outside the FK closure are unconstrained by it — a
        # complete dev environment wants them wholesale (events,
        # documents, reference data), and omitting them silently would
        # look like data loss to the consumer
        for t in sorted(set(tables) - set(kept)):
            dest = os.path.join(args.out, t)
            tables[t].write.mode("overwrite").parquet(dest)
            print(f"{t}: copied {spark.read.parquet(dest).count()} rows "
                  "(outside the FK closure)")
    return 0


def cmd_privacy(args) -> int:
    """Release gate for a table (operators/privacy.py). ``audit`` prints
    the k-anonymity / l-diversity report row and exits 1 when enforcing
    --k would suppress anything (rows_below_k > 0) — the
    validate/expect convention: a nonzero violation is a red gate.
    ``enforce`` writes the releasable relation (rows whose
    quasi-identifier class has >= --k members, class_size attached) to
    --out, or --dry-run prints the keep/suppress accounting. ``advise``
    prints the suppression cost curve over --widths candidate
    coarsenings of --band-col (generalization_advisor — which band
    width reaches --k with minimal suppression) and recommends the
    narrowest width that meets k, or the cheapest if none does. Bad
    parameters exit 2 naming the fix."""
    from database_migration_spark.operators.privacy import (
        generalization_advisor,
        k_anonymity_report,
        suppress_below_k,
    )
    from database_migration_spark.session import get_spark

    qi = [c.strip() for c in (args.qi or "").split(",") if c.strip()]
    if not qi:
        print("error: pass --qi with at least one quasi-identifier "
              "column", file=sys.stderr)
        return 2
    if args.k < 1 or args.l < 1:
        print("error: --k and --l are class sizes — pass >= 1",
              file=sys.stderr)
        return 2
    if args.action == "enforce" and bool(args.out) == bool(args.dry_run):
        print("error: enforce needs exactly one of --out or --dry-run",
              file=sys.stderr)
        return 2
    widths: list = []
    if args.action == "advise":
        if not args.band_col:
            print("error: advise needs --band-col (the integer column "
                  "to coarsen)", file=sys.stderr)
            return 2
        try:
            widths = [int(w) for w in (args.widths or "").split(",")
                      if w.strip()]
        except ValueError:
            print(f"error: --widths must be comma-separated integers "
                  f"(got {args.widths!r})", file=sys.stderr)
            return 2
        if not widths or any(w < 1 for w in widths) \
                or len(set(widths)) != len(widths):
            print("error: advise needs --widths as distinct integers "
                  ">= 1 (e.g. --widths 1000,5000,10000)", file=sys.stderr)
            return 2

    spark = get_spark(app_name="dms_privacy")
    adapter = _source(spark, args.source, args)
    cat = adapter.scan_catalog("%", args.table or "%")
    if not cat.tables:
        print(f"error: no table in {args.source}", file=sys.stderr)
        return 2
    if len(cat.tables) > 1:
        names = sorted(t.table for t in cat.tables)
        print(f"error: {args.source} holds several tables {names} — pick "
              "one with --table", file=sys.stderr)
        return 2
    df = _read(adapter, cat.tables[0])
    missing = [c for c in qi if c not in df.columns] + [
        c for c in [args.sensitive, args.band_col]
        if c and c not in df.columns
    ]
    if missing:
        print(f"error: columns {missing} not in {df.columns}",
              file=sys.stderr)
        return 2

    if args.action == "advise":
        try:
            curve = generalization_advisor(
                df, qi, args.band_col, widths, k_threshold=args.k
            ).orderBy("width").collect()
        except ValueError as e:
            print(f"error: {e}", file=sys.stderr)
            return 2
        for r in curve:
            flag = "meets k" if r.meets_k else "below k"
            print(f"width={r.width}: k_min={r.k_min} "
                  f"classes={r.n_classes} rows_below_k={r.rows_below_k} "
                  f"({r.rows_below_k_ppm} ppm) [{flag}]")
        ok = [r for r in curve if r.meets_k]
        if ok:
            best = min(ok, key=lambda r: r.width)
            print(f"recommendation: width={best.width} — the narrowest "
                  f"candidate that releases suppression-free at "
                  f"k={args.k}")
        else:
            best = min(curve, key=lambda r: (r.rows_below_k, r.width))
            print(f"recommendation: none of the widths reaches "
                  f"k={args.k}; width={best.width} suppresses least "
                  f"({best.rows_below_k} rows) — widen the candidates "
                  "or enforce by suppression")
        return 0

    if args.action == "audit":
        row = k_anonymity_report(
            df, qi, sensitive_col=args.sensitive,
            k_threshold=args.k, l_threshold=args.l,
        ).collect()[0]
        line = (f"n_rows={row.n_rows} n_classes={row.n_classes} "
                f"k_min={row.k_min} classes_below_k={row.classes_below_k} "
                f"rows_below_k={row.rows_below_k} "
                f"rows_below_k_ppm={row.rows_below_k_ppm}")
        if args.sensitive:
            line += f" l_min={row.l_min} rows_below_l={row.rows_below_l}"
        print(line)
        if row.rows_below_k > 0:
            print(f"FAIL: {row.rows_below_k} rows sit in classes below "
                  f"k={args.k} (release would re-identify); run "
                  "`privacy enforce` or coarsen the quasi-identifiers",
                  file=sys.stderr)
            return 1
        return 0

    kept_df = suppress_below_k(
        df, qi, k_threshold=args.k,
        sensitive_col=args.sensitive, l_threshold=args.l,
    )
    n_in = df.count()
    if args.dry_run:
        n_keep = kept_df.count()
        print(f"keep={n_keep} suppress={n_in - n_keep} of {n_in} "
              f"(k={args.k}, qi={','.join(qi)})")
        return 0
    kept_df.write.mode("overwrite").parquet(args.out)
    n_keep = spark.read.parquet(args.out).count()
    print(f"wrote {n_keep} releasable rows to {args.out} "
          f"(suppressed {n_in - n_keep} of {n_in})")
    return 0


def cmd_text(args) -> int:
    """Text-pipeline front door. ``extract``: markup → main text
    (operators/text.extract_markup_text) — drops script/style/comment
    blocks, splits on block tags, keeps a line when its visible text has
    >= --min-line-chars chars AND its link density is <= --max-anchor-ppm
    (exact integer ppm; nav bars are ~100% anchor text, prose ~0%). The
    web-corpus ingestion step: run it BEFORE quality/dedup/pipeline so
    those score prose, not boilerplate. Writes (id, text, n_lines,
    n_chars) to --out, or --dry-run prints the keep/drop accounting;
    bad parameters exit 2 naming the fix."""
    from pyspark.sql import functions as F

    from database_migration_spark.operators.text import extract_markup_text
    from database_migration_spark.session import get_spark

    if bool(args.out) == bool(args.dry_run):
        print("error: pass exactly one of --out or --dry-run",
              file=sys.stderr)
        return 2
    if args.min_line_chars < 0:
        print("error: --min-line-chars must be >= 0", file=sys.stderr)
        return 2
    if not 0 <= args.max_anchor_ppm <= 1_000_000:
        print("error: --max-anchor-ppm is parts-per-million of the "
              "line's visible chars — pass 0..1000000", file=sys.stderr)
        return 2

    spark = get_spark(app_name="dms_text")
    adapter = _source(spark, args.source, args)
    cat = adapter.scan_catalog("%", args.table or "%")
    if not cat.tables:
        print(f"error: no table in {args.source}", file=sys.stderr)
        return 2
    if len(cat.tables) > 1:
        names = sorted(t.table for t in cat.tables)
        print(f"error: {args.source} holds several tables {names} — pick "
              "one with --table", file=sys.stderr)
        return 2
    df = _read(adapter, cat.tables[0])
    missing = [c for c in (args.markup_col, args.id_col)
               if c not in df.columns]
    if missing:
        print(f"error: columns {missing} not in {df.columns}",
              file=sys.stderr)
        return 2

    out = extract_markup_text(
        df,
        html_col=args.markup_col,
        id_col=args.id_col,
        min_line_chars=args.min_line_chars,
        max_anchor_ppm=args.max_anchor_ppm,
    )
    if args.dry_run:
        n_in = df.count()
        agg = out.agg(
            F.count("*").alias("docs"),
            F.sum("n_lines").alias("lines"),
            F.sum("n_chars").alias("chars"),
            F.count(F.when(F.col("n_lines") == 0, 1)).alias("empty"),
        ).collect()[0]
        print(f"docs={agg['docs']} (of {n_in}; "
              f"{n_in - agg['docs']} NULL-markup dropped) "
              f"kept_lines={agg['lines'] or 0} "
              f"kept_chars={agg['chars'] or 0} "
              f"empty_after_extract={agg['empty']}")
        return 0
    out.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(f"wrote {n} extracted docs to {args.out}")
    return 0


def cmd_hitters(args) -> int:
    """Exact heavy hitters over a table (operators/sketches.py): keys
    whose share of the (optionally weighted) row mass is at least
    ``--ppm``, found by the bounded-state Misra-Gries route — no
    full-key shuffle — and recounted exactly. ``--tokenize-col`` instead
    finds heavy TOKENS of a text column through the engine's one
    tokenizer (text.token_stream). Prints cnt-descending; ``--out``
    additionally writes parquet. Bad parameters (no keys, ppm outside
    [1, 1e6], unknown columns, a summary size below the guarantee
    bound) exit 2 naming the fix."""
    from pyspark.sql import functions as F

    from database_migration_spark.operators.sketches import heavy_hitters
    from database_migration_spark.session import get_spark

    if bool(args.keys) == bool(args.tokenize_col):
        print("error: pass exactly one of --keys or --tokenize-col",
              file=sys.stderr)
        return 2
    if args.tokenize_col and args.weight_col:
        print("error: --weight-col only applies to --keys mode (token "
              "mode counts occurrences) — drop one of the two",
              file=sys.stderr)
        return 2

    spark = get_spark(app_name="dms_hitters")
    adapter = _source(spark, args.source, args)
    cat = adapter.scan_catalog("%", args.table or "%")
    if not cat.tables:
        print(f"error: no table in {args.source}", file=sys.stderr)
        return 2
    if len(cat.tables) > 1:
        names = sorted(t.table for t in cat.tables)
        print(f"error: {args.source} holds several tables {names} — pick "
              "one with --table", file=sys.stderr)
        return 2
    df = _read(adapter, cat.tables[0])

    if args.tokenize_col:
        from database_migration_spark.operators.text import token_stream

        if args.tokenize_col not in df.columns:
            print(f"error: column {args.tokenize_col} not in "
                  f"{df.columns}", file=sys.stderr)
            return 2
        id_col = df.columns[0]
        df = token_stream(df, args.tokenize_col, id_col)
        keys = ["term"]
        weight = None
    else:
        keys = [c.strip() for c in args.keys.split(",") if c.strip()]
        missing = [c for c in keys if c not in df.columns] + [
            c for c in [args.weight_col] if c and c not in df.columns
        ]
        if missing:
            print(f"error: columns {missing} not in {df.columns}",
                  file=sys.stderr)
            return 2
        weight = args.weight_col
    try:
        out = heavy_hitters(
            df, keys, args.ppm, weight_col=weight,
            summary_size=args.summary_size,
        )
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    out = out.persist()  # result is <= 1e6/ppm keys; print + --out reuse it
    try:
        rows = out.orderBy(F.desc("cnt"), *keys).collect()
        print(f"{len(rows)} heavy hitters at >= {args.ppm} ppm")
        for r in rows:
            key = ", ".join(str(r[k]) for k in keys)
            print(f"  {key}: {r['cnt']} ({r['share_ppm']} ppm)")
        if args.out:
            out.write.mode("overwrite").parquet(args.out)
            print(f"written to {args.out}")
    finally:
        out.unpersist(blocking=False)
    return 0


def cmd_ping(args) -> int:
    """The reference ships a connection smoke test with every script
    (SELECT 'Connection works' — mysql_to_exasol.sql:396-397); this is
    that check: one trivial remote round-trip (or a table listing for a
    file source), a clear message, and an exit code."""
    from database_migration_spark.session import get_spark

    spark = get_spark(app_name="dms_ping")
    adapter = _source(spark, args.source, args)
    try:
        if hasattr(adapter, "list_tables"):
            n = len(adapter.list_tables())
            print(f"Connection works ({n} tables at {args.source})")
        else:
            # FROM-less SELECT is not universal: Oracle needs DUAL,
            # DB2/Derby need SYSIBM.SYSDUMMY1
            dummy = {
                "oracle": "SELECT 1 AS ok FROM DUAL",
                "db2": "SELECT 1 AS ok FROM SYSIBM.SYSDUMMY1",
                "derby": "SELECT 1 AS ok FROM SYSIBM.SYSDUMMY1",
            }
            sql = dummy.get(adapter.spec.name, "SELECT 1 AS ok")
            rows = adapter._fetch_rows(sql)
            assert rows and rows[0]["ok"] == 1
            print(f"Connection works ({args.source})")
        return 0
    except Exception as e:  # noqa: BLE001 — the whole point is a clean report
        print(f"Connection FAILED: {e}", file=sys.stderr)
        return 1


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="python -m database_migration_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("plan", help="dry-run reviewable statement stream")
    sp.add_argument("--source", required=True,
                    help="source table directory or jdbc: URL")
    sp.add_argument("--dialect", help="dialect name for jdbc: sources")
    sp.add_argument("--jdbc-prop", action="append",
                    help="k=v JDBC property (repeatable), e.g. driver=...")
    sp.add_argument("--target-schema", default="MIGRATED")
    sp.add_argument("--schemas", default="%", help="LIKE filter or a,b list")
    sp.add_argument("--tables", default="%", help="LIKE filter or a,b list")
    sp.set_defaults(fn=cmd_plan)

    sm = sub.add_parser("migrate", help="copy tables into a parquet target")
    sm.add_argument("--source", required=True,
                    help="source table directory or jdbc: URL")
    sm.add_argument("--dialect", help="dialect name for jdbc: sources")
    sm.add_argument("--jdbc-prop", action="append",
                    help="k=v JDBC property (repeatable), e.g. driver=...")
    sm.add_argument("--dest", required=True)
    sm.add_argument("--schemas", default="%")
    sm.add_argument("--tables", default="%")
    sm.add_argument("--no-validate", action="store_true")
    sm.add_argument("--log", help="write the job log (steps, rows, "
                    "status) as parquet to this path")
    sm.add_argument("--save-catalog",
                    help="write the scanned catalog as a JSON snapshot "
                         "(feed it to `diff --old` later)")
    sm.add_argument("--distinct-mode", default="exact", choices=["exact", "approx"])
    sm.set_defaults(fn=cmd_migrate)

    sd = sub.add_parser("diff", help="schema-drift ALTER stream (dry run)")
    sd.add_argument("--old", required=True,
                    help="catalog as last migrated: a table dir, jdbc: URL, "
                         "or a .json snapshot from migrate --save-catalog")
    sd.add_argument("--new", required=True, help="source as it stands now")
    sd.add_argument("--target-schema", default="MIGRATED")
    sd.add_argument("--schemas", default="%")
    sd.add_argument("--tables", default="%")
    sd.add_argument("--dialect", help="dialect name for jdbc: sides")
    sd.add_argument("--jdbc-prop", action="append")
    sd.set_defaults(fn=cmd_diff)

    sv = sub.add_parser("validate", help="metric-diff two table directories")
    sv.add_argument("--left", required=True)
    sv.add_argument("--right", required=True)
    sv.add_argument("--schemas", default="%")
    sv.add_argument("--tables", default="%", help="comma list; default: common")
    sv.add_argument("--distinct-mode", default="exact", choices=["exact", "approx"])
    sv.add_argument("--dialect", help="dialect name for jdbc: sides")
    sv.add_argument("--jdbc-prop", action="append")
    sv.set_defaults(fn=cmd_validate)

    dr = sub.add_parser("drift", help="distribution-drift gate: histogram "
                        "TV distance per numeric column; rc=1 above "
                        "--threshold-ppm")
    dr.add_argument("--left", required=True)
    dr.add_argument("--right", required=True)
    dr.add_argument("--schemas", default="%")
    dr.add_argument("--tables", default="%", help="comma list; default: common")
    dr.add_argument("--columns", help="comma list; default: all shared numeric")
    dr.add_argument("--bins", type=int, default=16)
    dr.add_argument("--threshold-ppm", type=int, default=10_000,
                    help="max tolerated total-variation distance x1e6 "
                    "(default 1%%)")
    dr.add_argument("--dialect", help="dialect name for jdbc: sides")
    dr.add_argument("--jdbc-prop", action="append")
    dr.set_defaults(fn=cmd_drift)

    se = sub.add_parser("expect", help="run a data-quality rule file; "
                        "rc=1 on any FAIL")
    se.add_argument("--source", required=True,
                    help="table directory or jdbc: URL")
    se.add_argument("--table", required=True)
    se.add_argument("--rules", required=True,
                    help="JSON list of {rule_id, kind, column, params}")
    se.add_argument("--schemas", default="%")
    se.add_argument("--dialect", help="dialect name for jdbc: sources")
    se.add_argument("--jdbc-prop", action="append")
    se.set_defaults(fn=cmd_expect)

    sy = sub.add_parser("sync", help="incremental sync (watermark + MERGE) "
                        "of one table into a parquet target")
    sy.add_argument("--source", required=True,
                    help="source table directory or jdbc: URL")
    sy.add_argument("--dialect", help="dialect name for jdbc: sources")
    sy.add_argument("--jdbc-prop", action="append",
                    help="k=v JDBC property (repeatable), e.g. driver=...")
    sy.add_argument("--target", required=True,
                    help="parquet target directory (a migrate --dest)")
    sy.add_argument("--table", required=True)
    sy.add_argument("--keys", help="comma PK list; default: source catalog PK")
    sy.add_argument("--delta-col",
                    help="monotone watermark column; omitted = full-load merge")
    sy.add_argument("--dry-run", action="store_true",
                    help="print the decided strategy + statements, change "
                         "nothing (the reference's execute_statements=false)")
    sy.add_argument("--no-validate", action="store_true")
    sy.add_argument("--distinct-mode", default="exact",
                    choices=["exact", "approx"])
    sy.set_defaults(fn=cmd_sync)

    rf = sub.add_parser("refresh", help="watermark-driven summary refresh: "
                        "keep a derived aggregate current on delta-sized "
                        "work (sync for summary tables)")
    rf.add_argument("--source", required=True,
                    help="base table directory or jdbc: URL")
    rf.add_argument("--dialect", help="dialect name for jdbc: sources")
    rf.add_argument("--jdbc-prop", action="append")
    rf.add_argument("--table", required=True)
    rf.add_argument("--state", required=True,
                    help="summary state directory (created on first run)")
    rf.add_argument("--keys", required=True, help="comma group-key list")
    rf.add_argument("--measures", required=True, help="comma measure list")
    rf.add_argument("--delta-col", required=True,
                    help="monotone watermark column (strictly-greater "
                         "delta; boundary latecomers need backfill)")
    rf.add_argument("--distinct", help="comma list for HLL distinct sketches")
    rf.add_argument("--schemas", default="%")
    rf.set_defaults(fn=cmd_refresh)

    cp = sub.add_parser("compact", help="small-file hygiene: rewrite an "
                        "append-grown parquet layout into size-targeted "
                        "files (rc=1 if rows change)")
    cp.add_argument("--source", required=True, help="parquet directory")
    cp.add_argument("--dest", required=True,
                    help="output directory (caller swaps after commit)")
    cp.add_argument("--partition-col",
                    help="preserve this partitionBy layout, one file per "
                         "partition value")
    cp.add_argument("--target-mb", type=int, default=128,
                    help="target file size for flat layouts (default 128)")
    cp.add_argument("--zorder",
                    help="comma-separated columns to Morton-cluster the "
                    "rewrite on: footer stats then bound EVERY listed "
                    "column per file, so range scans on any of them "
                    "prune (flat layouts only)")
    cp.add_argument("--zorder-bits", type=int, default=None,
                    help="quantizer bits per z-order column (default "
                    "min(16, 62/cols))")
    cp.set_defaults(fn=cmd_compact)

    sl = sub.add_parser("load", help="manifest-driven file loader "
                        "(list, reconcile, load pending, per-file status)")
    sl.add_argument("--folder", required=True, help="directory to ingest")
    sl.add_argument("--pattern", default="*", help="fnmatch file filter")
    sl.add_argument("--manifest", required=True,
                    help="manifest parquet path (created on first run)")
    sl.add_argument("--format", default="csv")
    sl.add_argument("--read-option", action="append",
                    help="k=v reader option (repeatable), e.g. header=true")
    sl.add_argument("--column-range", type=int,
                    help="keep only the first N columns — the reference's "
                         "IMPORT (1..n) cap")
    sl.add_argument("--dest", help="append loaded rows to this parquet path")
    sl.add_argument("--dry-run", action="store_true",
                    help="print pending LOAD statements, change only the "
                         "manifest reconcile")
    sl.add_argument("--force-reload", action="store_true",
                    help="reset the manifest: every listed file reloads")
    sl.add_argument("--max-files", type=int,
                    help="bound this run's batch; the rest stay pending")
    sl.add_argument("--per-file", action="store_true",
                    help="one job per file for exact per-file error text "
                         "(default: one batched scan)")
    sl.set_defaults(fn=cmd_load)

    ck = sub.add_parser("check", help="constraint sweep: PK duplicate/"
                        "NULL excess + FK orphans from the scanned "
                        "catalog's declared keys; rc=1 on any violation")
    ck.add_argument("--source", required=True,
                    help="source table directory or jdbc: URL")
    ck.add_argument("--dialect", help="dialect name for jdbc: sources")
    ck.add_argument("--jdbc-prop", action="append",
                    help="k=v JDBC property (repeatable), e.g. driver=...")
    ck.add_argument("--schemas", default="%")
    ck.add_argument("--tables", default="%")
    ck.set_defaults(fn=cmd_check)

    pf = sub.add_parser("profile", help="column-level profiling report: "
                        "null/distinct counts, exact histograms, top-k "
                        "frequent values")
    pf.add_argument("--source", required=True,
                    help="table directory or jdbc: URL")
    pf.add_argument("--dialect", help="dialect name for jdbc: sources")
    pf.add_argument("--jdbc-prop", action="append",
                    help="k=v JDBC property (repeatable)")
    pf.add_argument("--schemas", default="%")
    pf.add_argument("--tables", default="%")
    pf.add_argument("--bins", type=int, default=10,
                    help="histogram buckets (default 10)")
    pf.add_argument("--topk", type=int, default=5,
                    help="frequent values per string column (default 5)")
    pf.add_argument("--distinct-mode", choices=["exact", "approx"],
                    default="exact",
                    help="approx = HLL distincts (no Expand) for recurring "
                         "monitoring at scale")
    pf.set_defaults(fn=cmd_profile)

    sc = sub.add_parser("scd2", help="history-preserving dimension "
                        "maintenance: merge the source table into a "
                        "type-2 SCD dimension (bootstraps on first run)")
    sc.add_argument("--source", required=True,
                    help="table directory or jdbc: URL")
    sc.add_argument("--dialect", help="dialect name for jdbc: sources")
    sc.add_argument("--jdbc-prop", action="append",
                    help="k=v JDBC property (repeatable)")
    sc.add_argument("--table", required=True)
    sc.add_argument("--target", required=True,
                    help="dimension parquet directory")
    sc.add_argument("--keys", help="comma-separated natural key "
                    "(default: catalog PK)")
    sc.add_argument("--attrs", help="comma-separated tracked attributes "
                    "(default: all non-key columns)")
    sc.add_argument("--ts", type=int,
                    help="version timestamp (default: previous max + 1)")
    sc.add_argument("--close-missing", action="store_true",
                    help="treat the source as a FULL snapshot: absent "
                    "entities soft-delete (open version closes)")
    sc.add_argument("--partitions", type=int, default=None,
                    help="key-hash partition the dimension into N buckets "
                    "so each run rewrites only the partitions the batch "
                    "touches (stored in _target_meta.json; resolved from "
                    "the store on later runs)")
    sc.set_defaults(fn=cmd_scd2)

    pl = sub.add_parser("pipeline", help="corpus cleaning: quality -> "
                        "exact dedup -> decontamination -> split; prints "
                        "the attrition report, rc=1 if nothing survives")
    pl.add_argument("--source", required=True,
                    help="table directory or jdbc: URL")
    pl.add_argument("--dialect", help="dialect name for jdbc: sources")
    pl.add_argument("--jdbc-prop", action="append",
                    help="k=v JDBC property (repeatable)")
    pl.add_argument("--table", default="documents")
    pl.add_argument("--bench-col", default="source",
                    help="column holding the benchmark-slice marker")
    pl.add_argument("--bench-value", default="src0",
                    help="value of --bench-col marking benchmark rows")
    pl.add_argument("--min-tokens", type=int, default=25)
    pl.add_argument("--min-alpha-ppm", type=int, default=200_000)
    pl.add_argument("--max-contamination-ppm", type=int, default=800_000)
    pl.add_argument("--markup-col",
                    help="extract main text from this markup column "
                    "FIRST (boilerplate-line removal), then clean; "
                    "NULL-markup rows drop with the extraction")
    pl.add_argument("--min-line-chars", type=int, default=1,
                    help="markup extraction: keep lines with at least "
                    "this many visible chars")
    pl.add_argument("--max-anchor-ppm", type=int, default=500_000,
                    help="markup extraction: keep lines whose anchor-"
                    "text share is at most this many ppm")
    pl.add_argument("--out", help="write the kept corpus here, "
                    "partitioned by split")
    pl.add_argument("--overwrite", action="store_true")
    pl.set_defaults(fn=cmd_pipeline)

    rd = sub.add_parser("rowdiff", help="row-level diff of two table "
                        "versions: added/removed/changed rows + per-column "
                        "change counts; rc=1 on any difference")
    rd.add_argument("--left", required=True,
                    help="old version: table directory or jdbc: URL")
    rd.add_argument("--right", required=True,
                    help="new version: table directory or jdbc: URL")
    rd.add_argument("--dialect", help="dialect name for jdbc: sources")
    rd.add_argument("--jdbc-prop", action="append",
                    help="k=v JDBC property (repeatable)")
    rd.add_argument("--schemas", default="%")
    rd.add_argument("--tables", default="%")
    rd.add_argument("--keys", help="comma-separated key columns "
                    "(default: each table's catalog PK)")
    rd.add_argument("--show", type=int, default=0, metavar="N",
                    help="also print the first N changed cells")
    rd.set_defaults(fn=cmd_rowdiff)

    op = sub.add_parser("optimize", help="post-load type optimizer: "
                        "classify varchar/double/timestamp columns, report "
                        "tighter types; --apply renders the ordered ALTER "
                        "stream (dry run)")
    op.add_argument("--source", required=True,
                    help="table directory or jdbc: URL")
    op.add_argument("--dialect", help="dialect name for jdbc: sources")
    op.add_argument("--jdbc-prop", action="append",
                    help="k=v JDBC property (repeatable)")
    op.add_argument("--schemas", default="%")
    op.add_argument("--tables", default="%")
    op.add_argument("--sample", type=int, default=None, metavar="N",
                    help="classify at most N rows per column "
                    "(the reference samples 1-5%%; default: full scan)")
    op.add_argument("--apply", action="store_true",
                    help="also render the DROP-FK/MODIFY/RE-ADD-FK apply "
                    "stream (dry run — review, then execute elsewhere)")
    op.set_defaults(fn=cmd_optimize)

    st = sub.add_parser("star", help="flat table -> star schema: dimension "
                        "tables with content-hash surrogate keys + a fact "
                        "table; optional metric-engine validation")
    st.add_argument("--source", required=True,
                    help="table directory or jdbc: URL")
    st.add_argument("--dialect", help="dialect name for jdbc: sources")
    st.add_argument("--jdbc-prop", action="append",
                    help="k=v JDBC property (repeatable)")
    st.add_argument("--table", required=True, help="flat source table")
    st.add_argument("--dim", action="append", metavar="NAME:COL1,COL2",
                    help="a dimension and its columns (repeatable)")
    st.add_argument("--measures",
                    help="comma-separated measure columns (default: every "
                    "non-dim, non-fact-id column)")
    st.add_argument("--fact-id",
                    help="comma-separated fact identity columns "
                    "(default: the table's catalog PK)")
    st.add_argument("--target", required=True,
                    help="directory for the dim/fact parquet tables")
    st.add_argument("--no-create", dest="create", action="store_false",
                    help="print the layout only, write nothing "
                    "(Convert_To_Star_Schema.sql do_create_tables=false)")
    st.add_argument("--no-transfer", dest="transfer", action="store_false",
                    help="write empty tables with the final schema only "
                    "(transfer_data=false)")
    st.add_argument("--validate", action="store_true",
                    help="reconstruct the flat view from the written "
                    "tables and metric-compare against the source; rc=1 "
                    "on any deviation")
    st.set_defaults(fn=cmd_star)

    cd = sub.add_parser("cdc", help="apply an op-coded (I/U/D) change feed "
                        "to a parquet target; deletes included (the "
                        "delete-capable sibling of sync)")
    cd.add_argument("--events", required=True,
                    help="change-feed table directory or jdbc: URL")
    cd.add_argument("--events-table",
                    help="table name when --events holds several")
    cd.add_argument("--dialect", help="dialect name for jdbc: sources")
    cd.add_argument("--jdbc-prop", action="append")
    cd.add_argument("--target", required=True, help="parquet target dir "
                    "(bootstrapped from the feed's columns if absent)")
    cd.add_argument("--keys", required=True, help="comma-separated key columns")
    cd.add_argument("--seq-col", default="seq")
    cd.add_argument("--op-col", default="op")
    cd.add_argument("--dry-run", action="store_true",
                    help="print per-op event/net counts only")
    cd.add_argument("--partitions", type=int, default=None,
                    help="key-hash partition the target into N buckets so "
                    "each apply rewrites only the partitions the feed "
                    "touches (stored in _target_meta.json; resolved from "
                    "the store on later runs)")
    cd.set_defaults(fn=cmd_cdc)

    dd = sub.add_parser("dedup", help="fingerprint-index lifecycle: build/"
                        "append/probe/compact a partition-pruned dedup "
                        "store over a text corpus; `overlap` runs the "
                        "index-free winnowing/MOSS shared-passage detector")
    dd.add_argument("action",
                    choices=["build", "append", "probe", "compact",
                             "forget", "overlap", "cluster"])
    dd.add_argument("--index",
                    help="fingerprint index directory (every action but "
                    "overlap/cluster)")
    dd.add_argument("--corpus", help="corpus/batch table directory or "
                    "jdbc: URL (build/append/probe/overlap/cluster)")
    dd.add_argument("--table", help="table name when --corpus holds several")
    dd.add_argument("--dialect", help="dialect name for jdbc: sources")
    dd.add_argument("--jdbc-prop", action="append")
    dd.add_argument("--text-col", default="text")
    dd.add_argument("--id-col", default="doc_id")
    dd.add_argument("--k", type=int, default=None,
                    help="shingle/gram size (stored in the index meta at "
                    "build; overlap: winnowing gram size, default 8)")
    dd.add_argument("--window", type=int, default=4,
                    help="overlap: winnowing window w — any shared passage "
                    "of length >= w+k-1 chars is guaranteed a shared "
                    "fingerprint")
    dd.add_argument("--min-shared", type=int, default=5,
                    help="overlap: distinct co-selected fingerprints a "
                    "pair must share to be reported")
    dd.add_argument("--max-bucket", type=int, default=None,
                    help="overlap: drop fingerprints selected in more "
                    "than this many documents (boilerplate cap, the "
                    "SIGMOD'03 common-fingerprint rule)")
    dd.add_argument("--seed", type=int, default=None,
                    help="minhash seed (stored in the index meta at build)")
    dd.add_argument("--num-perm", type=int, default=None)
    dd.add_argument("--bands", type=int, default=None)
    dd.add_argument("--buckets", type=int, default=None)
    dd.add_argument("--min-agree", type=int, default=750,
                    help="near-dup signature agreement threshold, permille")
    dd.add_argument("--out", help="probe: write (id,status,match_id) here; "
                    "overlap: write (doc_a,doc_b,shared) here; cluster: "
                    "write the (id,cluster_id) label table here")
    dd.add_argument("--apply-new", action="store_true",
                    help="probe: append the batch's 'new' fingerprints "
                    "back to the index (the crawl-loop maintenance step)")
    dd.add_argument("--dry-run", action="store_true",
                    help="probe/overlap/cluster: counts/stats only, "
                    "suppress --out/--apply-new")
    dd.add_argument("--ids", help="forget: comma-separated document ids")
    dd.add_argument("--ids-file",
                    help="forget: file with one document id per line")
    dd.add_argument("--media", action="store_true",
                    help="build/append/probe over IMAGE payloads instead "
                    "of text: dHash perceptual signatures into a "
                    "partition-pruned hamming index (compact/forget "
                    "detect the index kind from its stored metadata)")
    dd.add_argument("--payload-col", default="payload",
                    help="--media: binary image column (default payload)")
    dd.add_argument("--max-hamming", type=int, default=None,
                    help="--media: near-dup Hamming budget (stored in "
                    "the index meta at build; contradictions error)")
    dd.set_defaults(fn=cmd_dedup)

    an = sub.add_parser("ann", help="ANN index lifecycle over an embedding "
                        "table: suggest (measured-geometry parameter "
                        "sizing), build (IVF-PQ partition-pruned index), "
                        "search (top-k with exact rerank)")
    an.add_argument("action",
                    choices=["suggest", "build", "append", "search",
                             "drift", "compact"])
    an.add_argument("--drift-threshold-ppm", type=int, default=50_000,
                    help="drift: exit 1 at or above this cell-population "
                    "TV distance (the rebuild gate)")
    an.add_argument("--index", help="index directory (build/search)")
    an.add_argument("--corpus", help="embedding table dir (suggest/build)")
    an.add_argument("--queries", help="query table dir (search)")
    an.add_argument("--table", help="table name when the dir holds several")
    an.add_argument("--dialect", help="dialect name for jdbc: sources")
    an.add_argument("--jdbc-prop", action="append")
    an.add_argument("--id-col", default="vec_id")
    an.add_argument("--vec-col", default="embedding")
    an.add_argument("--m", type=int, default=16,
                    help="PQ subspaces (16 = the measured recommendable "
                    "floor; must divide dim)")
    an.add_argument("--pq-k", type=int, default=256)
    an.add_argument("--n-centroids", type=int, default=None,
                    help="coarse cells (default sqrt(n))")
    an.add_argument("--k", type=int, default=5)
    an.add_argument("--n-probe", type=int, default=None,
                    help="probed cells per query (default cells/7)")
    an.add_argument("--rerank", type=int, default=50,
                    help="exact-rerank shortlist depth (0 = ADC only; "
                    "measured 0.79 vs 0.43 recall@5 at x100)")
    an.add_argument("--sample-queries", type=int, default=50,
                    help="suggest: brute-probe sample size")
    norm = an.add_mutually_exclusive_group()
    norm.add_argument("--normalize", dest="normalize",
                      action="store_true", default=None,
                      help="L2-normalize vectors (cosine ranking; the "
                      "build default)")
    norm.add_argument("--no-normalize", dest="normalize",
                      action="store_false",
                      help="keep raw L2 distances")
    an.add_argument("--out", help="search: write results parquet here")
    an.set_defaults(fn=cmd_ann)

    sa = sub.add_parser("sample", help="training-data draws: pps/"
                        "stratified/budget/mix/split/calibrate over a "
                        "corpus table, deterministic and integer-exact")
    sa.add_argument("action",
                    choices=["pps", "stratified", "budget", "mix",
                             "split", "calibrate", "topmass", "pack"])
    sa.add_argument("--source", required=True,
                    help="corpus table directory or jdbc: URL")
    sa.add_argument("--table", help="table name when the dir holds several")
    sa.add_argument("--dialect", help="dialect name for jdbc: sources")
    sa.add_argument("--jdbc-prop", action="append")
    sa.add_argument("--id-col", default="doc_id")
    sa.add_argument("--group-cols", default=None,
                    help="comma-separated per-group columns "
                    "(pps/budget/calibrate)")
    sa.add_argument("--weight-col", default=None,
                    help="pps/topmass: weight column (e.g. token/byte "
                    "count)")
    sa.add_argument("--mass-ppm", type=int, default=None,
                    help="topmass: weight-mass coverage target, ppm")
    sa.add_argument("--n", type=int, default=None,
                    help="pps: target sample size per group")
    sa.add_argument("--offset", type=int, default=0,
                    help="pps: systematic grid offset")
    sa.add_argument("--strata-cols", default=None,
                    help="stratified: comma-separated stratum columns")
    sa.add_argument("--n-per-stratum", type=int, default=None)
    sa.add_argument("--token-col", default=None,
                    help="budget/pack: token-count column")
    sa.add_argument("--budget", type=int, default=None,
                    help="budget/pack: token budget per group / per pack")
    sa.add_argument("--weights", default=None,
                    help="mix: domain=ppm[,domain=ppm...] keep rates")
    sa.add_argument("--domain-col", default=None,
                    help="mix: the domain column the rates key on")
    sa.add_argument("--val-permille", type=int, default=10)
    sa.add_argument("--test-permille", type=int, default=10)
    sa.add_argument("--salt", default="split",
                    help="split: hash salt (keeps the split independent "
                    "of every other hash decision)")
    sa.add_argument("--cluster-labels", default=None,
                    help="split: near-dup label table dir (id, cluster "
                    "col) — the split hash keys on the CLUSTER so no "
                    "near-dup pair spans the train/eval boundary; docs "
                    "missing from the table split as singletons")
    sa.add_argument("--cluster-col", default="cluster_id",
                    help="split: cluster label column in --cluster-labels")
    sa.add_argument("--score-col", default=None,
                    help="calibrate/topmass: raw score column")
    sa.add_argument("--threshold-ppm", type=int, default=0,
                    help="calibrate: keep rows at/above this per-group "
                    "percentile (ppm); 0 = no gate, emit pct_ppm only")
    sa.add_argument("--out", help="write the draw as parquet here")
    sa.add_argument("--dry-run", action="store_true",
                    help="counts only, write nothing")
    sa.set_defaults(fn=cmd_sample)

    ly = sub.add_parser("layout", help="z-order layout lifecycle: append "
                        "a batch onto a stored layout (same cell grid, "
                        "bounded per-file spans), or report the per-"
                        "column span fractions from footers alone")
    ly.add_argument("action", choices=["append", "report", "stats"])
    ly.add_argument("--target", required=True,
                    help="layout directory (written by compact --zorder; "
                    "stats accepts any parquet directory)")
    ly.add_argument("--batch",
                    help="append: the new rows' table directory or "
                    "jdbc: URL")
    ly.add_argument("--table", help="table name when --batch holds several")
    ly.add_argument("--dialect", help="dialect name for jdbc: sources")
    ly.add_argument("--jdbc-prop", action="append")
    ly.add_argument("--cols",
                    help="append: assert the layout's key columns "
                    "(comma-separated) — a contradiction with the stored "
                    "meta exits 2; omit to use the stored grid")
    ly.add_argument("--bits", type=int, default=None,
                    help="append: assert the stored quantizer bits — a "
                    "contradiction exits 2; omit to use the stored grid")
    ly.set_defaults(fn=cmd_layout)

    jc = sub.add_parser("joincard", help="runaway-join guard: predict "
                        "|left JOIN right| exactly from per-key counts "
                        "WITHOUT running the join; rc=1 above --max-rows")
    jc.add_argument("--left", required=True,
                    help="left table directory or jdbc: URL")
    jc.add_argument("--right", required=True,
                    help="right table directory or jdbc: URL")
    jc.add_argument("--left-table", help="table name when --left holds "
                    "several")
    jc.add_argument("--right-table", help="table name when --right holds "
                    "several")
    jc.add_argument("--dialect", help="dialect name for jdbc: sources")
    jc.add_argument("--jdbc-prop", action="append")
    jc.add_argument("--keys", required=True,
                    help="comma-separated equi-join key columns "
                    "(same names on both sides)")
    jc.add_argument("--top", type=int, default=10,
                    help="top contributing keys to print (default 10)")
    jc.add_argument("--max-rows", type=int, default=None,
                    help="red gate: exit 1 when the predicted output "
                    "exceeds this row count")
    jc.set_defaults(fn=cmd_joincard)

    su = sub.add_parser("subset", help="referentially-coherent dev-slice "
                        "extraction: sample a root table, cascade fact "
                        "chains down declared FKs, close referenced "
                        "ancestors — zero dangling FKs in the slice")
    su.add_argument("--source", required=True,
                    help="table directory or jdbc: URL (catalog must "
                    "declare foreign keys)")
    su.add_argument("--dialect", help="dialect name for jdbc: sources")
    su.add_argument("--jdbc-prop", action="append")
    su.add_argument("--root", required=True,
                    help="the sampled root table")
    su.add_argument("--permille", type=int, default=10,
                    help="root keep rate out of 1000 (default 10 = 1%%)")
    su.add_argument("--key",
                    help="root sampling key columns (default: the "
                    "root's declared PK)")
    su.add_argument("--cascade", action="append",
                    help="child:via_parent fact chain to follow DOWN "
                    "its FK (repeatable), e.g. lineitem:orders")
    su.add_argument("--out", help="write each member table under this "
                    "directory")
    su.add_argument("--copy-rest", action="store_true",
                    help="also copy tables OUTSIDE the FK closure "
                    "wholesale (the complete dev environment)")
    su.add_argument("--dry-run", action="store_true",
                    help="print keep counts only")
    su.set_defaults(fn=cmd_subset)

    pv = sub.add_parser("privacy", help="release gate: k-anonymity / "
                        "l-diversity audit over quasi-identifier columns "
                        "(rc=1 when enforcing k would suppress rows), "
                        "and enforcement by suppression")
    pv.add_argument("action", choices=["audit", "enforce", "advise"])
    pv.add_argument("--source", required=True,
                    help="table directory or jdbc: URL")
    pv.add_argument("--table", help="table name when --source holds several")
    pv.add_argument("--dialect", help="dialect name for jdbc: sources")
    pv.add_argument("--jdbc-prop", action="append")
    pv.add_argument("--qi", required=True,
                    help="comma-separated quasi-identifier columns (the "
                    "linkable ones; NULL is a value)")
    pv.add_argument("--sensitive",
                    help="sensitive column: audit adds the l-diversity "
                    "homogeneity check, enforce also suppresses classes "
                    "below --l")
    pv.add_argument("--k", type=int, default=5,
                    help="minimum class size to release (default 5)")
    pv.add_argument("--l", type=int, default=2,
                    help="minimum distinct sensitive answers per class "
                    "(default 2; applies when --sensitive is given)")
    pv.add_argument("--out", help="enforce: write the releasable rows "
                    "(input columns + class_size) here")
    pv.add_argument("--dry-run", action="store_true",
                    help="enforce: print keep/suppress counts only")
    pv.add_argument("--band-col",
                    help="advise: the integer quasi-identifier column to "
                    "coarsen (materialize exact units first, e.g. cents)")
    pv.add_argument("--widths",
                    help="advise: comma-separated candidate band widths")
    pv.set_defaults(fn=cmd_privacy)

    tx = sub.add_parser("text", help="text-pipeline front door: extract "
                        "main text from markup (boilerplate-line removal "
                        "by exact link-density ppm) before quality/dedup")
    tx.add_argument("action", choices=["extract"])
    tx.add_argument("--source", required=True,
                    help="table directory or jdbc: URL")
    tx.add_argument("--table", help="table name when --source holds several")
    tx.add_argument("--dialect", help="dialect name for jdbc: sources")
    tx.add_argument("--jdbc-prop", action="append")
    tx.add_argument("--markup-col", default="html",
                    help="column holding the markup (default html)")
    tx.add_argument("--id-col", default="doc_id")
    tx.add_argument("--min-line-chars", type=int, default=1,
                    help="keep a line only with at least this many "
                    "visible chars (default 1)")
    tx.add_argument("--max-anchor-ppm", type=int, default=500_000,
                    help="keep a line only when its anchor-text share is "
                    "at most this many ppm of its visible chars "
                    "(default 500000 = 50%%)")
    tx.add_argument("--out", help="write (id, text, n_lines, n_chars) "
                    "parquet here")
    tx.add_argument("--dry-run", action="store_true",
                    help="print the keep/drop accounting only")
    tx.set_defaults(fn=cmd_text)

    hh = sub.add_parser("hitters", help="exact heavy hitters (Misra-Gries "
                        "two-pass: no full-key shuffle) over key columns "
                        "or a tokenized text column")
    hh.add_argument("--source", required=True,
                    help="table directory or jdbc: URL")
    hh.add_argument("--table", help="table name when the dir holds several")
    hh.add_argument("--dialect", help="dialect name for jdbc: sources")
    hh.add_argument("--jdbc-prop", action="append")
    hh.add_argument("--keys", default=None,
                    help="comma-separated key columns")
    hh.add_argument("--tokenize-col", default=None,
                    help="find heavy TOKENS of this text column instead "
                    "of --keys")
    hh.add_argument("--ppm", type=int, required=True,
                    help="minimum share, parts-per-million (1..1000000)")
    hh.add_argument("--weight-col", default=None,
                    help="weighted mass column (keys mode)")
    hh.add_argument("--summary-size", type=int, default=None,
                    help="Misra-Gries counters per partition (default "
                    "2*ceil(1e6/ppm); below ceil(1e6/ppm) exits 2)")
    hh.add_argument("--out", help="also write the result parquet here")
    hh.set_defaults(fn=cmd_hitters)

    pg = sub.add_parser("ping", help="connection smoke test")
    pg.add_argument("--source", required=True,
                    help="table directory or jdbc: URL")
    pg.add_argument("--dialect", help="dialect name for jdbc: sources")
    pg.add_argument("--jdbc-prop", action="append")
    pg.set_defaults(fn=cmd_ping)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
