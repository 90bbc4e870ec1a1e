"""Store metadata: the one reader, atomic writer and layout resolver.

Every persisted store keeps the parameters that define its layout in a
meta file at its root, because a reader handed different ones silently
reads the wrong partitions (a mismatched bucket count prunes the wrong
files and misses duplicates with no error). This module is the only code
that knows the file names, reads and writes them, and applies the rule
they exist for: the stored value wins, an explicit value that
contradicts it raises, and ``None`` falls back to the stored value, then
to the caller's default.

The streaming z-order run marker is not a layout meta, but it is a
crash-sensitive file of its own and commits through the same step, as
plain text.
"""

from __future__ import annotations

import json
import os

# kind -> (file name, what the store is). minhash and hamming indexes
# share a file; a meta there without a "kind" field is a minhash index
# (written before the field existed).
KINDS = {
    "minhash": ("_index_meta.json", "minhash fingerprint index"),
    "hamming": ("_index_meta.json", "hamming signature index"),
    "ann": ("_ann_meta.json", "vector (IVF-PQ) index"),
    "target": ("_target_meta.json", "partitioned target"),
    "layout": ("_layout_meta.json", "z-order layout"),
    "run_id": ("_zorder_run_id", "stream run marker"),
}
_TEXT = {"run_id"}
# fields whose absence from a stored meta has a meaning: an IVF-PQ index
# written without "normalized" holds its vectors as given
_IMPLIED = {"ann": {"normalized": False}}


def _load(path: str, kind: str):
    p = os.path.join(path, KINDS[kind][0])
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return fh.read().strip() if kind in _TEXT else json.load(fh)


def _stored_kind(meta: dict, kind: str) -> str:
    shared = KINDS[kind][0] == KINDS["minhash"][0]
    return meta.get("kind", "minhash" if shared else kind)


def read(path: str, kind: str):
    """The stored meta of ``kind`` at ``path``: a dict (the run marker's
    text for ``run_id``), or None when ``path`` holds none of that kind
    — a missing file, or an index meta of the other index kind."""
    meta = _load(path, kind)
    if meta is None or kind in _TEXT or _stored_kind(meta, kind) == kind:
        return meta
    return None


def write(path: str, kind: str, meta) -> None:
    """Commit ``meta`` as ``kind``'s file under ``path`` (created if
    missing): dump to a temp sibling, then ``os.replace``, so a crash
    mid-dump leaves the previous version readable, never a truncated
    file. The ``_``-prefixed names keep the temp sibling out of Spark's
    file listing."""
    os.makedirs(path, exist_ok=True)
    final = os.path.join(path, KINDS[kind][0])
    tmp = final + ".tmp"
    with open(tmp, "w") as fh:
        if kind in _TEXT:
            fh.write(meta)
        else:
            json.dump(meta, fh)
    os.replace(tmp, final)


def resolve(
    path: str, kind: str, given: dict, defaults: dict, stored=None
) -> dict:
    """Resolve each name in ``given`` against the ``kind`` meta at
    ``path``: a value of ``None`` takes the stored value, else
    ``defaults[name]`` (None when absent); an explicit value must equal
    the stored one or this raises ``ValueError`` naming both. A store of
    another kind raises too, and so does an explicit partition count on
    a target directory that exists without its meta (it was written
    unpartitioned, and layouts never migrate implicitly). A missing meta
    otherwise resolves to the given values, then the defaults (the
    legacy rule for stores written before their meta existed); a field
    missing from a stored meta does too, unless its absence has a meaning
    (``_IMPLIED``).

    ``stored`` is the meta a caller already read from ``path`` (with
    :func:`read`), so a command parses the file once; None reads it.

    Returns the stored meta (``{}`` when there is none) with each name
    of ``given`` set to its resolved value."""
    name, label = KINDS[kind]
    meta = _load(path, kind) if stored is None else stored
    if (meta is None and kind == "target"
            and given.get("partitions") is not None and os.path.isdir(path)):
        raise ValueError(
            f"target {path} exists without a stored partition layout "
            f"({name}) — it was written unpartitioned; rebuild it with "
            f"partitions={given['partitions']} instead of mixing layouts"
        )
    if meta:
        held = _stored_kind(meta, kind)
        if held != kind:
            raise ValueError(
                f"{path} holds a {KINDS.get(held, (None, held))[1]}, not "
                f"a {label} — open it with the reader of the kind it holds"
            )
        meta = {**_IMPLIED.get(kind, {}), **meta}
    else:
        meta = {}
    out = dict(meta)
    for key, value in given.items():
        if isinstance(value, tuple):
            value = list(value)
        stored = meta.get(key)
        if stored is None:
            out[key] = value if value is not None else defaults.get(key)
        elif value is not None and value != stored:
            raise ValueError(
                f"{label} at {path} was written with {key}={stored} but "
                f"the caller passed {key}={value} — pass None to use the "
                "stored layout, or rebuild the store: a mismatch prunes "
                "the wrong partitions and silently misses rows"
            )
    return out
