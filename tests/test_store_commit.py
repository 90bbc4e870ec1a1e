"""The one data commit (functions/io.py): every store swaps a staged
generation into place by rename-aside, so a crash at any step leaves the
previous generation on disk and the store readable as before."""

import os
import re
from pathlib import Path

import pytest

from database_migration_spark.functions import store_meta

PKG = Path(__file__).resolve().parent.parent / "database_migration_spark"


def _minhash_case(spark):
    from database_migration_spark.operators.dedup import (
        fingerprint_store,
        incremental_dedup_indexed,
        write_fingerprint_index,
    )

    docs = spark.createDataFrame(
        [(i, f"document {i} covers topic {i * 7} with rare words {i * 13} "
             f"and {i * 31} plus {i * 97}") for i in range(40)],
        "doc_id LONG, text STRING",
    )
    copies = docs.where("doc_id < 10").selectExpr("doc_id + 100 AS doc_id", "text")
    store, batch = fingerprint_store(docs, k=5), fingerprint_store(copies, k=5)

    def build(path, rebuilt):
        write_fingerprint_index(store, path, bands=8, buckets=64 if rebuilt else 8)

    def probe(path):
        out = incremental_dedup_indexed(spark, path, batch)
        return {tuple(r) for r in out.collect()}

    return build, probe, {(100 + i, "exact_dup", i) for i in range(10)}


def _hamming_case(spark):
    import random

    from database_migration_spark.operators.dedup import (
        hamming_dedup_indexed,
        write_hamming_index,
    )

    rng = random.Random(7)
    rows = [(i, rng.getrandbits(63), rng.getrandbits(63)) for i in range(40)]
    schema = "id LONG, sig_lo LONG, sig_hi LONG"
    sigs = spark.createDataFrame(rows, schema)
    batch = spark.createDataFrame(
        [(100 + i, lo, hi) for i, lo, hi in rows[:10]], schema
    )

    def build(path, rebuilt):
        write_hamming_index(sigs, path, buckets=64 if rebuilt else 8)

    def probe(path):
        return {tuple(r) for r in hamming_dedup_indexed(spark, path, batch).collect()}

    return build, probe, {(100 + i, "near_dup", i, 0) for i in range(10)}


def _ann_case(spark):
    import numpy as np

    from database_migration_spark.operators.similarity import (
        ivf_pq_topk_from_index,
        write_ivf_pq_index,
    )

    rng = np.random.default_rng(7)
    centers = np.eye(4) * 10.0
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in centers[i % 4] + rng.normal(0, 0.1, 4)])
         for i in range(40)],
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    queries = corpus.where("vec_id < 10").selectExpr(
        "vec_id + 100 AS vec_id", "embedding"
    )
    books = np.zeros((2, 2, 2))

    def build(path, rebuilt):
        # the rebuild renumbers the cells: same vectors, other partitions
        write_ivf_pq_index(corpus, path, centers[::-1] if rebuilt else centers, books)

    def probe(path):
        out = ivf_pq_topk_from_index(spark, path, queries, k=1, n_probe=1, rerank=50)
        return {(r.query_id, r.neighbor_id) for r in out.collect()}

    return build, probe, {(100 + i, i) for i in range(10)}


@pytest.mark.parametrize(
    "case", [_minhash_case, _hamming_case, _ann_case],
    ids=["minhash", "hamming", "ann"],
)
def test_failed_index_rebuild_keeps_the_previous_index(
    spark, tmp_path, monkeypatch, case
):
    """Data and meta of an index rebuild commit together: a rebuild with
    another partition function that fails at its meta write must leave
    the previous index probing exactly as before (planted copies found),
    not new data under the old meta."""
    build, probe, planted = case(spark)
    path = str(tmp_path / "index")
    build(path, rebuilt=False)
    assert not os.path.exists(path + ".build")
    before = probe(path)
    assert before == planted

    def crash(*args, **kwargs):
        raise OSError("simulated crash")

    monkeypatch.setattr(store_meta, "write", crash)
    with pytest.raises(OSError, match="simulated crash"):
        build(path, rebuilt=True)
    monkeypatch.undo()
    assert probe(path) == before


def test_partition_swap_crash_keeps_the_previous_partition(
    spark, tmp_path, monkeypatch
):
    """A crash while moving a staged partition into place must not have
    deleted the partition it replaces, and the aside copy must stay out
    of Spark's listing (an ``_pt=1.old`` directory would read as a
    partition value and turn ``_pt`` into a string)."""
    from pyspark.sql.types import IntegerType

    from database_migration_spark.functions.io import publish_partitions

    schema = "k INT, v STRING, _pt INT"
    path = str(tmp_path / "store")
    staging = path + ".stage"
    old = [(k, "gen1", k % 3) for k in range(9)]
    publish_partitions(spark.createDataFrame(old, schema), path, staging, [0, 1, 2])

    live = os.path.join(path, "_pt=1")
    real_rename = os.rename

    def crash_into_place(src, dst):
        # shutil.move renames first, so this also catches a move
        if os.path.abspath(dst) == live:
            raise RuntimeError("simulated crash")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_into_place)
    new = spark.createDataFrame([(1, "gen2", 1), (4, "gen2", 1)], schema)
    with pytest.raises(RuntimeError, match="simulated crash"):
        publish_partitions(new, path, staging, [1])
    monkeypatch.undo()

    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    ]
    on_disk = spark.read.schema("k INT, v STRING").parquet(*files).collect()
    assert {(k, v) for k, v, pt in old if pt == 1} <= set(map(tuple, on_disk))

    df = spark.read.parquet(path)
    assert df.schema["_pt"].dataType == IntegerType()
    assert not any(".old" in str(r._pt) for r in df.select("_pt").distinct().collect())
    assert {tuple(r) for r in df.where("_pt != 1").collect()} == {
        r for r in old if r[2] != 1
    }


def test_store_data_is_moved_only_by_the_commit_modules():
    """Renames, replaces and recursive deletes of store data belong to
    functions/io.py, functions/store_meta.py and layout's staged append;
    an operator or CLI command that moves directories itself bypasses the
    rename-aside commit and its crash contract."""
    banned = re.compile(
        r"\b(os\.(rename|replace)|shutil\.(move|rmtree))\b"
        r"|\bfrom (os|shutil) import\b"
    )
    offenders = []
    for rel in ("__main__.py", "operators/dedup.py", "operators/similarity.py",
                "operators/delta_sync.py", "streaming/delta_stream.py"):
        for n, line in enumerate((PKG / rel).read_text().splitlines(), 1):
            if banned.search(line):
                offenders.append(f"{rel}:{n}: {line.strip()}")
    assert not offenders, offenders
