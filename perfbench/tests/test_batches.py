"""The seeded batch generator and the DuckDB replay (no Spark)."""

import hashlib
import os

import duckdb
import pyarrow as pa
import pytest

from perfbench import batches, fixture

SMALL = {"customer": 300, "orders": 2_000, "lineitem": 4_000, "events": 600,
         "documents": 120, "embeddings": 50, "part": 200, "supplier": 20}


@pytest.fixture(scope="module")
def base():
    return fixture.build_tables(SMALL)


def digests(root):
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_same_seed_gives_byte_identical_batches(base, tmp_path):
    a = batches.generate(base, 7, 2, str(tmp_path / "a"))
    b = batches.generate(base, 7, 2, str(tmp_path / "b"))
    assert digests(tmp_path / "a") == digests(tmp_path / "b")
    assert [e.exact_copy_ids for e in a] == [e.exact_copy_ids for e in b]
    c = batches.generate(base, 8, 2, str(tmp_path / "c"))
    da, dc = digests(tmp_path / "a"), digests(tmp_path / "c")
    assert da.keys() == dc.keys()
    assert all(da[k] != dc[k] for k in da)
    assert [e.change_rows for e in a] == [e.change_rows for e in c]


def test_fixture_is_deterministic():
    t1 = fixture.build_tables(SMALL)
    t2 = fixture.build_tables(SMALL)
    assert all(t1[n].equals(t2[n]) for n in fixture.TABLES)
    assert not t1["orders"].equals(fixture.build_tables(SMALL, seed=1)["orders"])


def test_batch_contents(base, tmp_path):
    (ep,) = batches.generate(base, 3, 1, str(tmp_path))
    feed = pa.parquet.read_table(ep.path("cdc/orders_feed.parquet"))
    ops = feed.column("op").to_pylist()
    n = base["orders"].num_rows
    assert ops.count("U") == n // 100
    assert ops.count("D") == n // 500
    assert ops.count("I") == n // 200
    inserted = [k for k, op in zip(feed.column("o_orderkey").to_pylist(), ops)
                if op == "I"]
    assert all(k < 0 for k in inserted)
    docs = pa.parquet.read_table(ep.path("documents/documents.parquet"))
    texts = set(base["documents"].column("text").to_pylist())
    by_id = dict(zip(docs.column("doc_id").to_pylist(),
                     docs.column("text").to_pylist()))
    assert ep.exact_copy_ids and all(by_id[i] in texts for i in ep.exact_copy_ids)


def test_cdc_replay_applies_inserts_updates_deletes(base, tmp_path):
    eps = batches.generate(base, 5, 2, str(tmp_path / "in"))
    boot = batches.bootstrap_inputs(base, str(tmp_path / "e0"))
    con = duckdb.connect()
    cols = base["orders"].column_names
    replay = batches.replay_cdc(
        con, batches.scan(f"{boot['cdc']}/orders_feed.parquet"),
        [e.path("cdc/orders_feed.parquet") for e in eps], "o_orderkey", cols)
    # the sync replica keeps deleted keys, so cdc = sync replica - deletes
    deletes = con.execute(
        "SELECT count(*) FROM read_parquet(?) WHERE op = 'D'",
        [[e.path("cdc/orders_feed.parquet") for e in eps]]).fetchone()[0]
    n_sync = con.execute(
        f"SELECT count(*) FROM {batches.scan(eps[-1].path('sync/orders.parquet'))}"
    ).fetchone()[0]
    n_cdc = con.execute(f"SELECT count(*) FROM {replay}").fetchone()[0]
    assert n_cdc == n_sync - deletes
    want = batches.table_signature(
        con, f"(SELECT * FROM {batches.scan(eps[-1].path('sync/orders.parquet'))}"
        f" WHERE o_orderkey IN (SELECT o_orderkey FROM {replay}))",
        "o_orderkey", cols)
    assert batches.table_signature(con, replay, "o_orderkey", cols) == want


def test_signature_is_order_insensitive_and_catches_a_changed_value(tmp_path):
    con = duckdb.connect()
    con.execute("CREATE TABLE a AS SELECT * FROM (VALUES (1, 'x'), (2, 'y')) t(k, v)")
    con.execute("CREATE TABLE b AS SELECT * FROM (VALUES (2, 'y'), (1, 'x')) t(k, v)")
    con.execute("CREATE TABLE c AS SELECT * FROM (VALUES (2, 'y'), (1, 'z')) t(k, v)")
    sig = lambda t: batches.table_signature(con, t, "k", ["k", "v"])  # noqa: E731
    assert sig("a") == sig("b")
    assert sig("a")[:2] == sig("c")[:2]
    assert sig("a")[2] != sig("c")[2]
