"""Deterministic fixture tables for the benchmark.

The package's own fixture (TPC-H-ish star schema plus ``events``,
``documents`` and ``embeddings``) lives outside the repository, so the
benchmark generates tables of the same ten names and schemas itself. The
values follow the same simple uniform distributions; only the row counts
are chosen here (``SIZES``). Generation is pure numpy + pyarrow: no Spark,
and the same seed always writes byte-identical parquet files.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# rows per table; the shape of the package's sf0.01 fixture
SIZES = {
    "region": 5, "nation": 25, "customer": 1_500, "supplier": 100,
    "part": 2_000, "orders": 15_000, "lineitem": 60_000, "events": 10_000,
    "documents": 500, "embeddings": 500,
}
FIXTURE_SEED = 42
VERSION = 1

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

EPOCH = dt.datetime(1970, 1, 1)
DAY_US = 86_400 * 1_000_000


def to_us(d: dt.datetime) -> int:
    return (d - EPOCH) // dt.timedelta(microseconds=1)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def day_stamps(rng, n: int, lo: dt.datetime, hi: dt.datetime) -> pa.Array:
    d0, d1 = to_us(lo) // DAY_US, to_us(hi) // DAY_US
    return _ts(rng.integers(d0, d1 + 1, n) * DAY_US)


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def document_text(rng, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def build_tables(sizes: dict[str, int] | None = None,
                 seed: int = FIXTURE_SEED) -> dict[str, pa.Table]:
    """The ten fixture tables as arrow tables, deterministic in ``seed``."""
    n = dict(SIZES, **(sizes or {}))
    rng = np.random.default_rng(seed)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(n["region"]), pa.int32()),
        "r_name": [REGIONS[i % len(REGIONS)] for i in range(n["region"])],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(n["nation"]), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(n["nation"])],
        "n_regionkey": pa.array([i % n["region"] for i in range(n["nation"])],
                                pa.int32()),
    })
    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, n["nation"], nc), pa.int32()),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, n["nation"], ns), pa.int32()),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99),
    })
    np_ = n["part"]
    adj = rng.integers(0, len(PART_ADJ), np_)
    noun = rng.integers(0, len(PART_NOUN), np_)
    retail = np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 2)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": retail,
    })
    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": day_stamps(rng, no, dt.datetime(1995, 1, 1),
                                  dt.datetime(2001, 8, 1)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    partkey = rng.integers(0, np_, nl)
    qty = rng.integers(1, 51, nl).astype("float64")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey] *
                                    rng.uniform(0.95, 1.05, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": day_stamps(rng, nl, dt.datetime(1995, 1, 2),
                                 dt.datetime(2001, 11, 4)),
    })
    out["events"] = events_table(rng, 0, n["events"],
                                 max(1, nc // 10), to_us(dt.datetime(2024, 1, 1)))

    nd = n["documents"]
    texts = [document_text(rng, int(k)) for k in rng.integers(10, 100, nd)]
    # plant exact and near copies so the dedup queries have pairs to find
    for i in range(0, nd - 1, 50):
        texts[i + 1] = texts[i]
    for i in range(25, nd - 1, 50):
        words = texts[i].split()
        texts[i + 1] = " ".join(words[:-2] + ["dup", "dup"])
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), nd)],
        "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    ne, dim = n["embeddings"], 64
    labels = rng.integers(0, 10, ne)
    centers = rng.normal(0, 1, (10, dim))
    vecs = centers[labels] + rng.normal(0, 0.8, (ne, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(ne), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def events_table(rng, first_id: int, n: int, n_users: int,
                 start_us: int) -> pa.Table:
    """``n`` events with ascending ids and timestamps over 30 days."""
    ts = np.sort(rng.integers(start_us, start_us + 30 * DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n)],
    })


def write_table(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def ensure_fixture(cache_root: str) -> str:
    """Write the fixture once under ``cache_root`` and return its directory.

    The directory name carries the generator version, sizes and seed, so a
    change to any of them writes a fresh copy. The write goes to a
    temporary directory renamed into place, so an interrupted run never
    leaves a partial fixture behind.
    """
    tag = f"v{VERSION}-s{FIXTURE_SEED}-r{sum(SIZES.values())}"
    final = os.path.join(cache_root, f"fixture-{tag}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables().items():
        write_table(table, os.path.join(tmp, f"{name}.parquet"))
    try:
        os.rename(tmp, final)
    except OSError:
        # another run renamed its copy first; both are identical
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def footer_rows(path: str) -> int:
    """Row count from a parquet file's or directory's footers alone."""
    if os.path.isfile(path):
        return pq.ParquetFile(path).metadata.num_rows
    return sum(
        pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
