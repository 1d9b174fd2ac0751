"""Order-insensitive result digests for the query_mix output check.

A digest is the sorted column names, the row count and the sum (mod 2^64)
of a per-row hash.  Cells are canonicalised by ``tools/check_oracle.py``'s
``normalize_cell`` and ordered by column name, exactly as that tool
compares Spark with the DuckDB oracle, so a digest taken from the oracle
matches a digest taken from Spark whenever the tool would pass.
"""

from __future__ import annotations

import hashlib
import json
import os

from tools.check_oracle import normalize_cell

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "expected_digests.json")


def digest(columns: list[str], rows) -> dict:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total, n = 0, 0
    for row in rows:
        cells = "\x1f".join(normalize_cell(row[i]) for i in order)
        h = hashlib.sha256(cells.encode("utf-8")).digest()
        total = (total + int.from_bytes(h[:8], "big")) % (1 << 64)
        n += 1
    return {"cols": sorted(columns), "rows": n, "sum": f"{total:016x}"}


def load_expected() -> dict[str, dict]:
    with open(EXPECTED_PATH) as f:
        return json.load(f)["digests"]
