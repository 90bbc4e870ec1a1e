"""The three workloads. Each calls the package only through its public
entry points and wraps every call in a tracer span.

A workload has ``setup`` (part of ``setup_s``), ``lap`` (timed),
``after_lap`` (untimed: per-lap correctness checks, store measurement and
clean-up) and ``check`` (untimed, once per run). After the run, ``usage``
holds (bytes, files, live rows) of the stores the last lap left.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
from dataclasses import dataclass, field

import duckdb

from perfbench import batches, fixture
from perfbench.checks import compare_rows, frame_rows


@dataclass
class LapOutcome:
    ops: int
    failures: list[str] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)


@dataclass
class Context:
    spark: object
    tracer: object
    fixture_dir: str
    run_dir: str
    seed: int

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def timed_source(spark, root: str, tracer):
    """A ParquetSource whose catalog scans and table reads are spans."""
    from database_migration_spark.sources.parquet_source import ParquetSource

    class TimedParquetSource(ParquetSource):
        def scan_catalog(self, *a, **kw):
            with tracer.span("sources.scan_catalog"):
                return super().scan_catalog(*a, **kw)

        def read(self, *a, **kw):
            with tracer.span("sources.read"):
                return super().read(*a, **kw)

    return TimedParquetSource(spark, root)


def job_log_steps(rows) -> tuple[dict[str, list[float]], list[str]]:
    """Per-table copy and validate seconds from ``JobLogger`` rows.

    The rows are ``{"elapsed_s", "step": "<verb> <table>", ...}``; a row
    that does not have that shape is skipped and named in the second
    return value, so a reshaped log degrades to absent metrics."""
    marks: dict[tuple[str, str], float] = {}
    skipped: list[str] = []
    for r in rows:
        try:
            verb, table = str(r["step"]).split(" ", 1)
            marks[(verb, table)] = float(r["elapsed_s"])
        except (KeyError, TypeError, ValueError):
            skipped.append(repr(r)[:80])
    out: dict[str, list[float]] = {"runner.copy_s": [], "runner.validate_s": []}
    for (verb, table), t in marks.items():
        if verb == "copy" and ("read", table) in marks:
            out["runner.copy_s"].append(t - marks[("read", table)])
        if verb == "validate" and ("copy", table) in marks:
            out["runner.validate_s"].append(t - marks[("copy", table)])
    return out, skipped


class MigrateValidate:
    """Migrate and validate every fixture table into an empty target."""

    name = "migrate_validate"
    tables = fixture.TABLES

    def setup(self, ctx: Context) -> None:
        from database_migration_spark.runner import MigrationPlanner

        self.source = timed_source(ctx.spark, ctx.fixture_dir, ctx.tracer)
        cat = MigrationPlanner(self.source).scan()
        self.catalog = cat.filter("%", ",".join(self.tables))
        self.footers = {
            t: fixture.footer_rows(self.source.table_path(t)) for t in self.tables
        }
        self.rows = sum(self.footers.values())
        self.absent: set[str] = set()

    def lap(self, ctx: Context, i: int) -> LapOutcome:
        from database_migration_spark.runner import JobLogger, MigrationRunner

        self.target = ctx.path(f"target{i}")
        self.logger = JobLogger()
        self.report = None
        try:
            with ctx.tracer.span("runner.execute"):
                self.report = MigrationRunner(ctx.spark, self.logger).execute(
                    self.catalog, self.source, self.target, validate=True
                )
        except Exception as e:  # noqa: BLE001 - a raising op is a failed op
            return LapOutcome(len(self.tables), [f"runner.execute raised {e!r:.300}"])
        return LapOutcome(len(self.tables))

    def after_lap(self, ctx: Context, out: LapOutcome) -> None:
        by_table = {t.table: t for t in self.report.tables} if self.report else {}
        for t in self.tables:
            rep = by_table.get(t)
            if rep is None:
                out.failures.append(f"{t}: not migrated")
            elif rep.deviations != 0:
                out.failures.append(f"{t}: {rep.deviations} DEVIATION rows")
            else:
                got = fixture.footer_rows(os.path.join(self.target, t))
                if got != self.footers[t]:
                    out.failures.append(
                        f"{t}: {got} target rows, source footers say "
                        f"{self.footers[t]}")
        steps, skipped = job_log_steps(self.logger.rows)
        for name, values in steps.items():
            if values:
                out.layer[name] = values
            else:
                self.absent.add(name)
        if skipped:
            self.absent.add("runner.job_log_rows")
        self.usage = (*dir_usage(self.target), self.rows)
        shutil.rmtree(self.target, ignore_errors=True)

    def check(self, ctx: Context) -> list[str]:
        return []  # every lap is checked in after_lap


QUERY_MIX = (
    # persist-heavy
    "incremental_dedup_batch", "winnow_overlap_pairs",
    # ROADMAP residuals, both with probe jobs during the build
    "fuzzy_name_pairs", "corpus_attrition_report",
    # persist-free controls
    "q1_pricing_summary", "events_hourly_agg",
)


def clear_caches(spark) -> None:
    """Empty the Spark cache and, while the package still has them, the
    build-scalar memos."""
    spark.catalog.clearCache()
    try:
        from database_migration_spark.functions import parallel
    except ImportError:
        return
    clear = getattr(parallel, "clear_build_memos", None)
    if clear is not None:
        clear()


class QueryMix:
    """Headline queries through the noop sink, each from a cold cache."""

    name = "query_mix"
    names = QUERY_MIX

    def setup(self, ctx: Context) -> None:
        from database_migration_spark.queries import oracle_sql, queries

        self.queries = queries()
        self.oracles = oracle_sql()
        self.rows = 0

    def check(self, ctx: Context) -> list[str]:
        """Each query against its DuckDB oracle, once per run after the
        timed laps; this pass also finds the fixture rows each query
        scans."""
        con = duckdb.connect()
        for t in fixture.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{ctx.fixture_dir}/{t}.parquet')")
        failures = []
        scanned = read_bytes = 0
        files: set[str] = set()
        for name in self.names:
            clear_caches(ctx.spark)
            if name not in self.queries or name not in self.oracles:
                failures.append(f"{name}: not in the registry or has no oracle")
                continue
            try:
                df = self.queries[name](ctx.spark, ctx.fixture_dir)
                got = frame_rows(df.columns, [tuple(r) for r in df.collect()])
                inputs = set(df.inputFiles())
            except Exception as e:  # noqa: BLE001 - a raising op is a failed op
                failures.append(f"{name} raised {e!r:.300}")
                continue
            res = con.execute(self.oracles[name])
            want = frame_rows([d[0] for d in res.description], res.fetchall())
            problem = compare_rows(got, want)
            if problem:
                failures.append(f"{name}: {problem}")
            for f in inputs:
                local = f.removeprefix("file:")
                if os.path.exists(local):
                    files.add(local)
                    scanned += fixture.footer_rows(local)
                    read_bytes += os.path.getsize(local)
        con.close()
        self.rows = scanned
        # writes nothing: its "store" is the fixture files it scans
        self.usage = (read_bytes, len(files), scanned)
        self.check_ops = len(self.names)
        return failures

    def lap(self, ctx: Context, i: int) -> LapOutcome:
        out = LapOutcome(len(self.names))
        for name in self.names:
            clear_caches(ctx.spark)
            try:
                with ctx.tracer.span("queries.build"):
                    df = self.queries[name](ctx.spark, ctx.fixture_dir)
                with ctx.tracer.span("queries.action"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 - a raising op is a failed op
                out.failures.append(f"{name} raised {e!r:.300}")
        return out

    def after_lap(self, ctx: Context, out: LapOutcome) -> None:
        pass


def cli(ctx: Context, span: str, argv: list[str]) -> str | None:
    """Run the CLI in-process; a failure message, or None on success."""
    from database_migration_spark.__main__ import main

    buf = io.StringIO()
    try:
        with ctx.tracer.span(span), contextlib.redirect_stdout(buf), \
                contextlib.redirect_stderr(buf):
            rc = main(argv)
    except SystemExit as e:
        rc = e.code
    except Exception as e:  # noqa: BLE001 - a raising op is a failed op
        return f"{span} raised {type(e).__name__}: {str(e)[:300]}"
    if rc not in (0, None):
        return f"{span} exited {rc}: {buf.getvalue().strip()[-300:]}"
    return None


class ChangeEpochs:
    """Seeded change batches through the CLI against bootstrapped stores."""

    name = "change_epochs"
    epochs = 1

    def setup(self, ctx: Context) -> None:
        self.stores = ctx.path("stores")
        self.snapshot = ctx.path("snapshot")
        self.base = fixture.build_tables()
        inputs = batches.bootstrap_inputs(self.base, ctx.path("inputs", "e0"))
        self.inputs0 = inputs
        self.epoch_list = batches.generate(
            self.base, ctx.seed, self.epochs, ctx.path("inputs"))
        s = self.store
        steps = self.merge_steps(
            inputs["sync"], inputs["cdc"], inputs["customer"]) + [
            ("cli.dedup_build", ["dedup", "build", "--index", s("dedup"),
                                 "--corpus", inputs["documents"]]),
            ("cli.layout_create", ["compact", "--source", inputs["events"],
                                   "--dest", s("layout"), "--zorder",
                                   batches.ZORDER_COLS]),
        ]
        for span, argv in steps:
            problem = cli(ctx, span, argv)
            if problem:
                raise RuntimeError(f"store bootstrap failed: {problem}")
        shutil.copytree(self.stores, self.snapshot)
        self.rows = sum(ep.change_rows for ep in self.epoch_list)

    def store(self, name: str) -> str:
        return os.path.join(self.stores, name)

    def merge_steps(self, orders: str, feed: str, customer: str) -> list:
        """The sync, cdc and scd2 commands over one set of input dirs; the
        first run of each bootstraps its store."""
        s = self.store
        return [
            ("cli.sync", ["sync", "--source", orders, "--target", s("sync"),
                          "--table", "orders", "--delta-col", "o_updated"]),
            ("cli.cdc", ["cdc", "--events", feed, "--target",
                         s("cdc/orders"), "--keys", "o_orderkey"]),
            ("cli.scd2", ["scd2", "--source", customer, "--table",
                          "customer", "--target", s("scd2"),
                          "--partitions", str(batches.PARTITIONS)]),
        ]

    def restore(self) -> None:
        shutil.rmtree(self.stores)
        shutil.copytree(self.snapshot, self.stores)

    def lap(self, ctx: Context, i: int) -> LapOutcome:
        s = self.store
        failures = []
        for ep in self.epoch_list:
            steps = self.merge_steps(
                ep.path("sync"), ep.path("cdc"), ep.path("customer")) + [
                ("cli.dedup_probe", ["dedup", "probe", "--index", s("dedup"),
                                     "--corpus", ep.path("documents"),
                                     "--out", ep.path(f"probe_out{i}")]),
                ("cli.dedup_append", ["dedup", "append", "--index",
                                      s("dedup"), "--corpus",
                                      ep.path("documents")]),
                ("cli.layout_append", ["layout", "append", "--target",
                                       s("layout"), "--batch",
                                       ep.path("events")]),
            ]
            for span, argv in steps:
                problem = cli(ctx, span, argv)
                if problem:
                    failures.append(f"epoch {ep.index}: {problem}")
        return LapOutcome(6 * len(self.epoch_list), failures)

    def after_lap(self, ctx: Context, out: LapOutcome) -> None:
        try:
            out.failures.extend(self.replay_check(ctx))
        except duckdb.Error as e:
            out.failures.append(f"replay check raised: {e}")
            self.live_rows = 0
        self.usage = (*dir_usage(self.stores), self.live_rows)
        for ep in self.epoch_list:
            shutil.rmtree(ep.path(f"probe_out{ctx.tracer.lap}"),
                          ignore_errors=True)
        self.restore()

    def replay_check(self, ctx: Context) -> list[str]:
        """Each store against an independent DuckDB replay of the batches."""
        con = duckdb.connect()
        scan = batches.scan
        eps = self.epoch_list
        problems = []

        def same(label, relation_got, relation_want, key, cols) -> int:
            got = batches.table_signature(con, relation_got, key, cols)
            want = batches.table_signature(con, relation_want, key, cols)
            if got != want:
                problems.append(f"{label}: store (rows, keyset, checksum) "
                                f"{got} != replay {want}")
            return got[0]

        order_cols = list(self.base["orders"].column_names)
        live = same("sync", scan(self.store("sync/orders")),
                    scan(eps[-1].path("sync/orders.parquet")), "o_orderkey",
                    order_cols + ["o_updated"])
        replay = batches.replay_cdc(
            con, scan(f"{self.inputs0['cdc']}/orders_feed.parquet"),
            [ep.path("cdc/orders_feed.parquet") for ep in eps],
            "o_orderkey", order_cols)
        live += same("cdc", scan(self.store("cdc/orders")), replay,
                     "o_orderkey", order_cols)

        cust_cols = list(self.base["customer"].column_names)
        replay = batches.replay_scd2_current(
            con, scan(f"{self.inputs0['customer']}/customer.parquet"),
            [ep.path("customer/customer.parquet") for ep in eps],
            "c_custkey", cust_cols)
        dim = scan(self.store("scd2"))
        same("scd2 current", f"(SELECT * FROM {dim} WHERE is_current)",
             replay, "c_custkey", cust_cols)
        versions = con.execute(f"SELECT count(*) FROM {dim}").fetchone()[0]
        want = self.base["customer"].num_rows + sum(ep.scd2_rows for ep in eps)
        live += versions
        if versions != want:
            problems.append(f"scd2: {versions} versions, replay says {want}")

        n_docs = con.execute(
            f"SELECT count(DISTINCT sid) FROM {scan(self.store('dedup/content'))}"
        ).fetchone()[0]
        live += n_docs
        want_docs = self.base["documents"].num_rows + sum(
            ep.doc_rows for ep in eps)
        if n_docs != want_docs:
            problems.append(f"dedup: {n_docs} indexed ids, replay says "
                            f"{want_docs}")
        for ep in eps:
            decided = dict(con.execute(
                f"SELECT id, status FROM "
                f"{scan(ep.path(f'probe_out{ctx.tracer.lap}'))}").fetchall())
            missed = [d for d in ep.exact_copy_ids
                      if decided.get(d) != "exact_dup"]
            if missed:
                problems.append(f"dedup probe epoch {ep.index}: planted "
                                f"exact copies not flagged: {missed}")

        ev_cols = list(self.base["events"].column_names)
        ev_files = [f"'{self.inputs0['events']}/events.parquet'"] + [
            f"'{ep.path('events/events.parquet')}'" for ep in eps]
        live += same("layout", scan(self.store("layout")),
                     f"read_parquet([{', '.join(ev_files)}])", "event_id",
                     ev_cols)
        con.close()
        self.live_rows = live
        return problems

    def check(self, ctx: Context) -> list[str]:
        return []  # every lap is checked in after_lap


WORKLOADS = {w.name: w for w in (MigrateValidate, ChangeEpochs, QueryMix)}
