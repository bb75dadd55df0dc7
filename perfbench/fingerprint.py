"""Order-insensitive result fingerprints under the strict comparator.

Cells are normalised by ``tools/verify_local.py``'s strict comparator (type
class and value must both agree), rows are sorted, and the sorted column
names, row count and a SHA-256 of the canonical rows are kept.  Two results
have equal fingerprints exactly when that comparator calls them equal.
"""

from __future__ import annotations

import hashlib

from tools.verify_local import _rows_to_key


def fingerprint(columns: list[str], rows: list[tuple]) -> dict:
    key = _rows_to_key(rows, columns)
    return {
        "rows": len(rows),
        "columns": sorted(columns),
        "sha256": hashlib.sha256(repr(key).encode()).hexdigest(),
    }


def compare(expected: dict, columns: list[str], rows: list[tuple]) -> str | None:
    """``None`` when the result matches ``expected``, else what differs."""
    got = fingerprint(columns, rows)
    for k in ("columns", "rows", "sha256"):
        if got[k] != expected[k]:
            return f"{k}: expected {expected[k]!r}, got {got[k]!r}"
    return None
