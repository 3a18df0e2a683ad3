"""Canonical digests of result rows, for output identity across passes.

A digest is the md5 of the rows rendered as text and sorted, so it depends
neither on row order nor on the last bits of a float: floats print at
``%.6g``, ``-0.0`` prints as ``0``, NULL prints as a marker no value renders
to.
"""

from __future__ import annotations

import hashlib
import math

NULL = "\\N"


def cell(v) -> str:
    if v is None:
        return NULL
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return "%.6g" % (v + 0.0)  # -0.0 + 0.0 == 0.0
    return str(v)


def digest(rows, columns: list[str]) -> str:
    """md5 over ``rows`` (Row objects or dicts) restricted to ``columns``."""
    lines = sorted(
        "|".join(cell(r[c]) for c in columns) for r in rows
    )
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()
