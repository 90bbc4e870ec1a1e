"""Store lifecycle rules that every entry point must share: the keyed
epoch behind CLI ``scd2``/``cdc`` and the streaming maintainers
(functions/io.py ``keyed_epoch``), and the stream dedup signing with its
index's stored parameters."""

from database_migration_spark.__main__ import main


def _write_items(spark, src, rows):
    spark.createDataFrame(rows, "id long, seg string").coalesce(1).write \
        .mode("overwrite").parquet(str(src / "items.parquet"))


def _scd2(src, dim, *extra):
    return main(["scd2", "--source", str(src), "--table", "items",
                 "--target", dim, "--keys", "id", *extra])


def test_cli_scd2_partitioned_ts_counts_the_whole_dimension(
    spark, tmp_path, capsys
):
    """The default version stamp is max(valid_from) + 1 over the WHOLE
    dimension, not over the slice the run touches: a third run whose
    only partition still holds bootstrap versions (valid_from=0) stamps
    ts=2, not 1."""
    from database_migration_spark.functions.io import PT_COL, pt_expr

    pt = {
        r.id: r.p
        for r in spark.range(16).select(
            "id", pt_expr(["id"], 4).alias("p")
        ).collect()
    }
    a = 0
    b = next(k for k in range(16) if pt[k] != pt[a])
    src, dim = tmp_path / "src", str(tmp_path / "dim")
    src.mkdir()

    _write_items(spark, src, [(k, "s") for k in range(16)])
    assert _scd2(src, dim, "--partitions", "4") == 0
    _write_items(spark, src, [(a, "t")])
    assert _scd2(src, dim) == 0
    _write_items(spark, src, [(b, "t")])
    assert _scd2(src, dim) == 0
    assert "merge at ts=2" in capsys.readouterr().out.splitlines()[-1]

    got = {
        (r.id, r.seg, r.valid_from, r.valid_to)
        for r in spark.read.parquet(dim).drop(PT_COL)
        .where(f"id IN ({a}, {b})").collect()
    }
    assert got == {
        (a, "s", 0, 1), (a, "t", 1, None),
        (b, "s", 0, 2), (b, "t", 2, None),
    }


def test_cli_scd2_close_missing_refused_on_a_stored_partitioned_layout(
    spark, tmp_path, capsys
):
    """--close-missing without --partitions on a dimension bootstrapped
    with a key-hash layout: the stored layout refuses it just as the
    flag does (a snapshot feed touches every key)."""
    src, dim = tmp_path / "src", str(tmp_path / "dim")
    src.mkdir()
    _write_items(spark, src, [(1, "a"), (2, "b")])
    assert _scd2(src, dim, "--partitions", "4") == 0
    capsys.readouterr()
    assert _scd2(src, dim, "--close-missing") == 2
    assert "close-missing" in capsys.readouterr().err


def test_stream_dedup_signs_with_the_index_parameters(
    spark, sf_smoke, tmp_path, capsys
):
    """An index built with non-default signing parameters (--k 3 --seed 7)
    is probed alike by CLI ``dedup probe`` and ``stream_incremental_dedup
    (store_index_path=…)``: the stream signs each batch with the stored k
    and seed, so near copies are found by both."""
    from database_migration_spark.streaming.delta_stream import (
        stream_incremental_dedup,
    )

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    corpus, batch = str(tmp_path / "corpus"), str(tmp_path / "batch")
    docs.where("doc_id < 200").select("doc_id", "text").write.parquet(
        f"{corpus}/documents.parquet"
    )
    docs.where("doc_id < 10").selectExpr(
        "doc_id + 90000 AS doc_id", "concat(text, ' zz') AS text"
    ).coalesce(1).write.parquet(f"{batch}/documents.parquet")
    index = str(tmp_path / "ix")
    assert main(["dedup", "build", "--index", index, "--corpus", corpus,
                 "--k", "3", "--seed", "7"]) == 0
    assert main(["dedup", "probe", "--index", index, "--corpus", batch,
                 "--dry-run"]) == 0
    assert "near_dup: 10" in capsys.readouterr().out

    got = {}

    def sink(decisions, epoch_id):
        got.update({r.id: r.status for r in decisions.collect()})

    q = stream_incremental_dedup(
        spark.readStream.schema("doc_id LONG, text STRING")
        .parquet(f"{batch}/documents.parquet"),
        None, sink, checkpoint=str(tmp_path / "ck"),
        store_index_path=index,
    ).start()
    q.processAllAvailable()
    q.stop()
    assert got == {90000 + i: "near_dup" for i in range(10)}
