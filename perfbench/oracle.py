"""Order-insensitive check of a query's output against its DuckDB twin
from ``oracle_sql()``, run on the same fixture files.  Normalisation is
the repository's own (``tools/check_oracle.py``), so both checks compare
outputs the same way."""

from __future__ import annotations

import duckdb
import pandas as pd

from tools.check_oracle import normalize


def connect(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the two results hold the same rows in any order,
    otherwise a one-line reason."""
    g, w = normalize(got), normalize(want)
    if list(g.columns) != list(w.columns):
        return f"columns {list(g.columns)} != {list(w.columns)}"
    if len(g) != len(w):
        return f"rows {len(g)} != {len(w)}"
    try:
        w = w.astype(g.dtypes.to_dict())
    except (TypeError, ValueError) as exc:
        return f"column types differ: {exc}"
    if not g.equals(w):
        return f"{int((g != w).any(axis=1).sum())} rows differ"
    return None
