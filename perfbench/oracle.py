"""Output check: each result against its DuckDB oracle on the same inputs.

Rows and columns are normalised with ``tools/check_oracle.py``'s
``_normalize`` (columns sorted by name, canonical Python values, rows
sorted), and numeric dtype kinds must agree as that tool requires.
"""

from __future__ import annotations

import glob
import os

import duckdb
from tools.check_oracle import _normalize


def connect(in_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per generated table (a file, or a directory
    of drop files)."""
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(in_dir, "*.parquet"))):
        name = os.path.basename(path)[:-len(".parquet")]
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{src}'")
    return con


def mismatch(got, want) -> str | None:
    """``None`` when the pandas frames ``got`` and ``want`` hold the same
    rows, else a one-line reason."""
    gcols, grows = _normalize(got)
    wcols, wrows = _normalize(want)
    if gcols != wcols:
        return f"columns {gcols} vs {wcols}"
    if len(grows) != len(wrows):
        return f"rowcount {len(grows)} vs {len(wrows)}"
    if grows != wrows:
        diff = next((a, b) for a, b in zip(grows, wrows) if a != b)
        return f"values differ, first: {diff}"
    drift = {c: (got[c].dtype.kind, want[c].dtype.kind) for c in gcols
             if {got[c].dtype.kind, want[c].dtype.kind} == {"i", "f"}}
    if drift:
        return f"int-vs-float dtype drift {drift}"
    return None
