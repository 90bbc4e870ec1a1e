"""The store-metadata rule, once for every kind: the stored value wins,
an explicit contradiction raises naming both values, None falls back to
the stored value, and a missing meta falls back to the given value, then
the default."""

import re

import pytest

from database_migration_spark.functions import store_meta

_DEFAULT = "default"

_METAS = {
    "minhash": {"num_perm": 32, "bands": 4, "buckets": 8,
                "shingle_k": 5, "seed": 42},
    "hamming": {"kind": "hamming", "bits": 64, "max_hamming": 3,
                "buckets": 8},
    "ann": {"n_centroids": 2, "dim": 2, "m": 1, "k": 2,
            "coarse": [[1.0, 0.0], [0.0, 1.0]],
            "codebooks": [[[0.0, 0.0], [1.0, 1.0]]], "normalized": True},
    "target": {"partition_col": "_pt", "partitions": 8, "keys": ["k"],
               "hash": "pmod(md5_long(concat_ws(0x1f, keys)), partitions)"},
    "layout": {"cols": ["a", "b"], "bits": 16,
               "bounds": {"a": [0, 9], "b": [0, 9]}, "n_files": 4,
               "rows": 100},
}


@pytest.mark.parametrize(
    "kind, name, other",
    [
        ("minhash", "buckets", 16),
        ("hamming", "max_hamming", 7),
        ("ann", "normalized", False),
        ("target", "partitions", 16),
        ("target", "keys", ["other"]),
        ("layout", "bits", 8),
    ],
    ids=["minhash", "hamming", "ann", "target", "target-keys", "layout"],
)
def test_resolve_stored_wins_contradiction_raises(tmp_path, kind, name, other):
    defaults = {name: _DEFAULT}

    # a missing meta gives the given value, else the default
    missing = str(tmp_path / "missing")
    assert store_meta.read(missing, kind) is None
    for given, want in ((other, other), (None, _DEFAULT)):
        got = store_meta.resolve(missing, kind, {name: given}, defaults)
        assert got == {name: want}

    path = str(tmp_path / "store")
    meta = _METAS[kind]
    store_meta.write(path, kind, meta)
    assert store_meta.read(path, kind) == meta
    stored = meta[name]

    # None and an equal explicit value both take the stored value
    assert store_meta.resolve(path, kind, {name: None}, defaults) == meta
    assert store_meta.resolve(path, kind, {name: stored}, defaults) == meta

    # an explicit contradiction raises, naming both values
    with pytest.raises(ValueError) as err:
        store_meta.resolve(path, kind, {name: other}, defaults)
    assert f"{name}={stored}" in str(err.value)
    assert f"{name}={other}" in str(err.value)

    # a meta of another kind in the same file raises, and reads as absent
    wrong = "minhash" if kind == "hamming" else "hamming"
    store_meta.write(path, kind, {**meta, "kind": wrong})
    assert store_meta.read(path, kind) is None
    label = re.escape(store_meta.KINDS[kind][1])
    with pytest.raises(ValueError, match=f"not a {label}"):
        store_meta.resolve(path, kind, {name: None}, defaults)
