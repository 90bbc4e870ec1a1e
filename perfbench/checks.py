"""Order-insensitive result comparison, engine-neutral cell formatting.

The same normalisation the package's graded-oracle gate uses: columns
sorted by name, cells rendered to text (floats by ``repr``, timestamps to
the microsecond), rows sorted.
"""

from __future__ import annotations

import datetime
import decimal
import math


def cell(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        return "<NaN>" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return str(v)


def frame_rows(cols, rows) -> tuple[list[str], list[tuple[str, ...]]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (
        [cols[i] for i in order],
        sorted(tuple(cell(r[i]) for i in order) for r in rows),
    )


def compare_rows(got, want) -> str | None:
    """None when the two normalised frames are equal, else what differs."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc} != oracle {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != oracle {len(wr)}"
    for i, (a, b) in enumerate(zip(gr, wr)):
        if a != b:
            return f"sorted row {i}: {a} != oracle {b}"
    return None
