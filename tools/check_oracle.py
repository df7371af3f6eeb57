"""Self-check mimicking the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB at
sf0.01, compare row count, schema (column names), and order-insensitive
values. Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

import __spark_entry__ as entry  # noqa: E402
from mahout_samsara_book_spark.cache import release_tracked  # noqa: E402
from mahout_samsara_book_spark.sources.tables import TABLES  # noqa: E402


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(list(pdf.columns), ignore_index=True)


def check_one(spark, con, sf_dir: str, name: str, fn, oracle: str | None) -> bool:
    """Run query ``name`` on Spark and its oracle SQL on DuckDB, print
    one result line, and return whether it passed."""
    t0 = time.perf_counter()
    try:
        got = fn(spark, sf_dir).toPandas()
    except Exception as exc:  # noqa: BLE001
        print(f"FAIL {name}: spark query raised: {exc}")
        return False
    dt = time.perf_counter() - t0
    if oracle is None:
        print(f"OK?  {name}: rows={len(got)} ({dt:.1f}s) [no oracle — rows-only]")
        return True
    try:
        want = con.execute(oracle).fetchdf()
    except Exception as exc:  # noqa: BLE001
        print(f"FAIL {name}: oracle SQL raised: {exc}")
        return False
    g, w = normalize(got), normalize(want)
    if list(g.columns) != list(w.columns):
        print(f"FAIL {name}: columns {list(g.columns)} vs {list(w.columns)}")
        return False
    if len(g) != len(w):
        print(f"FAIL {name}: rows {len(g)} vs {len(w)}")
        return False
    if not g.equals(w.astype(g.dtypes.to_dict())):
        diff = (g != w).any(axis=1)
        print(f"FAIL {name}: {int(diff.sum())} mismatched rows, first:")
        print(pd.concat([g[diff].head(3), w[diff].head(3)]))
        return False
    print(f"OK   {name}: rows={len(g)} hash-match ({dt:.1f}s)")
    return True


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    from mahout_samsara_book_spark.session import get_spark

    spark = get_spark(app_name="check_oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    qs, oracles = entry.queries(), entry.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # every path, passing or not, drops the query's tracked caches
        try:
            ok = check_one(spark, con, sf_dir, name, fn, oracles.get(name))
        finally:
            release_tracked()
        failures += not ok
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
