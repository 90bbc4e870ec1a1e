"""Seeded change batches for the ``change_epochs`` workload, and their
independent DuckDB replay.

One epoch's batch touches four stores:

- orders: about 1 % updates, 0.2 % deletes and 0.5 % inserts. Inserts use
  negative keys, because positive synthetic keys collide with replica key
  bumps. The ``sync`` source replica carries updates and inserts (a
  watermark MERGE cannot express a source-side delete); the ``cdc`` feed
  carries all three as I/U/D events.
- customer: attribute changes for ``scd2``.
- documents: half exact or near copies of indexed documents, half new.
- events: a new batch for the z-ordered layout.

Everything is a pure function of (fixture tables, seed, epoch), so the same
seed writes byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from perfbench import fixture

SYNC_TS0 = fixture.to_us(dt.datetime(2024, 6, 1))
HOUR_US = 3_600 * 1_000_000
EVENTS_PER_EPOCH = 500
DOCS_PER_EPOCH = 20
EVENT_ID0 = 10_000_000
DOC_ID0 = 1_000_000
PARTITIONS = 8
ZORDER_COLS = "user_id,event_id"


@dataclass
class Epoch:
    """Paths and planted facts of one generated epoch."""

    index: int
    dir: str
    sync_rows: int = 0
    cdc_rows: int = 0
    scd2_rows: int = 0
    doc_rows: int = 0
    event_rows: int = 0
    exact_copy_ids: list[int] = field(default_factory=list)

    @property
    def change_rows(self) -> int:
        return (self.sync_rows + self.cdc_rows + self.scd2_rows
                + self.doc_rows + self.event_rows)

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)


def with_updated(orders: pa.Table, us: int) -> pa.Table:
    return orders.append_column(
        "o_updated", pa.array(np.full(orders.num_rows, us), pa.timestamp("us"))
    )


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    fixture.write_table(table, path)


def _cdc(rows: pa.Table, op: str, seq0: int) -> pa.Table:
    n = rows.num_rows
    return rows.append_column(
        "seq", pa.array(np.arange(seq0, seq0 + n), pa.int64())
    ).append_column("op", pa.array([op] * n, pa.string()))


def bootstrap_inputs(base: dict[str, pa.Table], root: str) -> dict[str, str]:
    """Inputs the stores are bootstrapped from (before any epoch)."""
    paths = {
        "sync": os.path.join(root, "sync", "orders.parquet"),
        "cdc": os.path.join(root, "cdc", "orders_feed.parquet"),
        "customer": os.path.join(root, "customer", "customer.parquet"),
        "documents": os.path.join(root, "documents", "documents.parquet"),
        "events": os.path.join(root, "events", "events.parquet"),
    }
    _write(with_updated(base["orders"], SYNC_TS0), paths["sync"])
    _write(_cdc(base["orders"], "I", 0), paths["cdc"])
    _write(base["customer"], paths["customer"])
    _write(base["documents"], paths["documents"])
    _write(base["events"], paths["events"])
    return {k: os.path.dirname(v) for k, v in paths.items()}


def generate(base: dict[str, pa.Table], seed: int, epochs: int,
             root: str) -> list[Epoch]:
    """Write ``epochs`` change batches under ``root``; return their facts."""
    rng = np.random.default_rng([seed, 0x5EED])
    orders = base["orders"]
    sync_state = with_updated(orders, SYNC_TS0)
    live = orders.column("o_orderkey").to_numpy()
    customer = base["customer"]
    docs = base["documents"]
    n_users = max(1, base["customer"].num_rows // 10)
    out = []
    for e in range(1, epochs + 1):
        ep = Epoch(e, os.path.join(root, f"e{e}"))
        n = orders.num_rows
        picked = rng.choice(live, size=max(1, n // 100) + max(1, n // 500),
                            replace=False)
        upd_keys, del_keys = picked[: max(1, n // 100)], picked[max(1, n // 100):]
        stamp = SYNC_TS0 + e * HOUR_US

        # updated images: new price and status on the current rows
        cur = sync_state.filter(pc.is_in(sync_state["o_orderkey"],
                                         pa.array(upd_keys)))
        k = cur.num_rows
        cur = cur.set_column(
            cur.schema.get_field_index("o_totalprice"), "o_totalprice",
            pa.array(np.round(rng.uniform(1000.0, 500000.0, k), 2)))
        cur = cur.set_column(
            cur.schema.get_field_index("o_orderstatus"), "o_orderstatus",
            pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, k)]))
        cur = cur.set_column(
            cur.schema.get_field_index("o_updated"), "o_updated",
            pa.array(np.full(k, stamp), pa.timestamp("us")))
        n_ins = max(1, n // 200)
        ins = pa.table({
            "o_orderkey": pa.array(-(e * 100_000 + np.arange(1, n_ins + 1)),
                                   pa.int64()),
            "o_custkey": pa.array(rng.integers(0, customer.num_rows, n_ins),
                                  pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i]
                              for i in rng.integers(0, 3, n_ins)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ins), 2),
            "o_orderdate": fixture.day_stamps(rng, n_ins, dt.datetime(2001, 8, 2),
                                              dt.datetime(2001, 12, 31)),
            "o_orderpriority": [fixture.PRIORITIES[i]
                                for i in rng.integers(0, 5, n_ins)],
        })
        ins_sync = with_updated(ins, stamp)
        keep = pc.invert(pc.is_in(sync_state["o_orderkey"], pa.array(upd_keys)))
        sync_state = pa.concat_tables([sync_state.filter(keep), cur, ins_sync])
        _write(sync_state, ep.path("sync/orders.parquet"))
        ep.sync_rows = k + n_ins

        deleted = sync_state.filter(pc.is_in(sync_state["o_orderkey"],
                                             pa.array(del_keys)))
        seq0 = e * 1_000_000
        feed = pa.concat_tables([
            _cdc(cur.drop(["o_updated"]), "U", seq0),
            _cdc(deleted.drop(["o_updated"]), "D", seq0 + k),
            _cdc(ins, "I", seq0 + k + deleted.num_rows),
        ])
        _write(feed, ep.path("cdc/orders_feed.parquet"))
        ep.cdc_rows = feed.num_rows
        # the sync replica keeps the deleted keys; the cdc store drops them
        live = np.setdiff1d(live, del_keys)
        live = np.concatenate([live, ins["o_orderkey"].to_numpy()])

        n_c = max(1, customer.num_rows // 100)
        ckeys = np.sort(rng.choice(customer.num_rows, n_c, replace=False))
        changed = customer.take(pa.array(ckeys))
        changed = changed.set_column(
            changed.schema.get_field_index("c_acctbal"), "c_acctbal",
            pa.array(np.round(rng.uniform(10000.0, 20000.0, n_c), 2)))
        _write(changed, ep.path("customer/customer.parquet"))
        ep.scd2_rows = n_c

        half = DOCS_PER_EPOCH // 2
        src_rows = rng.choice(docs.num_rows, half, replace=False)
        texts = docs.column("text").to_pylist()
        new_texts, ids = [], []
        for i in range(DOCS_PER_EPOCH):
            doc_id = DOC_ID0 + e * 1_000 + i
            ids.append(doc_id)
            if i < half // 2:
                new_texts.append(texts[src_rows[i]])
                ep.exact_copy_ids.append(doc_id)
            elif i < half:
                words = texts[src_rows[i]].split()
                new_texts.append(" ".join(words[:-1] + ["merge"]))
            else:
                new_texts.append(fixture.document_text(
                    rng, int(rng.integers(10, 100))))
        batch = pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": new_texts,
            "lang": [fixture.LANGS[i] for i in
                     rng.integers(0, len(fixture.LANGS), DOCS_PER_EPOCH)],
            "source": [f"src{i}" for i in rng.integers(0, 20, DOCS_PER_EPOCH)],
            "n_chars": pa.array([len(t) for t in new_texts], pa.int64()),
        })
        _write(batch, ep.path("documents/documents.parquet"))
        ep.doc_rows = batch.num_rows

        ev = fixture.events_table(
            rng, EVENT_ID0 + e * 10_000, EVENTS_PER_EPOCH, n_users,
            fixture.to_us(dt.datetime(2024, 1, 31)) + e * 30 * fixture.DAY_US)
        _write(ev, ep.path("events/events.parquet"))
        ep.event_rows = ev.num_rows
        out.append(ep)
    return out


# --- DuckDB replay -----------------------------------------------------


def _norm_expr(con, relation: str, cols: list[str]) -> str:
    """A hashable, engine-neutral expression list over ``cols``:
    timestamps as epoch microseconds, everything else as is."""
    types = dict(con.execute(
        f"SELECT column_name, column_type FROM "
        f"(DESCRIBE SELECT * FROM {relation})"
    ).fetchall())
    parts = []
    for c in cols:
        t = types[c].upper()
        parts.append(f"epoch_us({c})" if t.startswith("TIMESTAMP") else c)
    return ", ".join(parts)


def table_signature(con, relation: str, key: str,
                    cols: list[str]) -> tuple[int, int, int]:
    """(row count, key-set hash, order-insensitive row checksum)."""
    expr = _norm_expr(con, relation, cols)
    return tuple(con.execute(
        f"SELECT count(*), coalesce(sum(hash({key})), 0), "
        f"coalesce(sum(hash({expr})), 0) FROM {relation}"
    ).fetchone())


def scan(path: str) -> str:
    """A DuckDB relation over a parquet file or a dataset directory."""
    if os.path.isdir(path):
        return f"read_parquet('{path}/**/*.parquet', hive_partitioning=false)"
    return f"read_parquet('{path}')"


def replay_cdc(con, base: str, feeds: list[str], key: str,
               cols: list[str]) -> str:
    """Apply the I/U/D feeds to ``base`` in DuckDB; return the table name."""
    collist = ", ".join(cols)
    con.execute(f"CREATE OR REPLACE TEMP TABLE cdc_replay AS "
                f"SELECT {collist} FROM {base}")
    for f in feeds:
        con.execute(f"""
            CREATE OR REPLACE TEMP TABLE cdc_replay AS
            WITH feed AS (
                SELECT * FROM {scan(f)}
                QUALIFY row_number() OVER (PARTITION BY {key}
                                           ORDER BY seq DESC) = 1)
            SELECT {collist} FROM cdc_replay
            WHERE {key} NOT IN (SELECT {key} FROM feed)
            UNION ALL
            SELECT {collist} FROM feed WHERE op <> 'D'""")
    return "cdc_replay"


def replay_scd2_current(con, base: str, changes: list[str], key: str,
                        cols: list[str]) -> str:
    """The dimension's current image after the attribute changes."""
    collist = ", ".join(cols)
    con.execute(f"CREATE OR REPLACE TEMP TABLE scd2_replay AS "
                f"SELECT {collist} FROM {base}")
    for f in changes:
        con.execute(f"""
            CREATE OR REPLACE TEMP TABLE scd2_replay AS
            SELECT {collist} FROM scd2_replay
            WHERE {key} NOT IN (SELECT {key} FROM {scan(f)})
            UNION ALL SELECT {collist} FROM {scan(f)}""")
    return "scd2_replay"
