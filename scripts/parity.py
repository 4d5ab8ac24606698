"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every Query in the registry on Spark and DuckDB at sf0.01 and
compares row count, column names, and exact values (order-insensitive).

Usage: python scripts/parity.py [name_substring ...]
(tables from ``$PARITY_SF_DIR``; a query over a missing table fails)
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from polla_spark.plans import registry  # noqa: E402
from polla_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duck_con() -> duckdb.DuckDBPyConnection:
    """One view per table whose parquet exists, so a partial table set
    (e.g. ``perfbench/data/sf0.01``) serves the queries it covers."""
    con = duckdb.connect()
    for name in TABLES:
        if not os.path.exists(f"{SF_DIR}/{name}.parquet"):
            continue
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # stringify everything for an engine-neutral exact compare
    out = df.copy()
    for c in out.columns:
        out[c] = out[c].map(lambda v: _norm(v))
    out = out.sort_values(list(out.columns)).reset_index(drop=True)
    return out


def _norm(v) -> str:
    if v is None or v != v:  # NaN/None
        return "<null>"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return f"{v:.6f}"
        return repr(v)
    if isinstance(v, bool):
        return str(bool(v)).lower()
    return str(v)


def check(spark, con, name: str, q) -> str:
    """Run one query against its oracle, print the verdict line and
    return "pass", "fail" or "rows" (rows-only, no oracle)."""
    t0 = time.time()
    try:
        sdf = q.spark(spark, SF_DIR).toPandas()
    except Exception as exc:
        print(f"FAIL  {name}: SPARK ERROR {type(exc).__name__}: {str(exc)[:300]}")
        return "fail"
    if q.oracle is None:
        print(f"ROWS  {name}: {len(sdf)} rows (no oracle)")
        return "rows"
    try:
        odf = con.sql(q.oracle).df()
    except Exception as exc:
        print(f"FAIL  {name}: DUCKDB ERROR {type(exc).__name__}: {str(exc)[:300]}")
        return "fail"
    a, b = canon(sdf), canon(odf)
    dt = time.time() - t0
    if list(a.columns) != list(b.columns):
        print(f"FAIL  {name}: columns {list(a.columns)} vs {list(b.columns)}")
        return "fail"
    if len(a) != len(b):
        print(f"FAIL  {name}: rows {len(a)} vs {len(b)}")
        return "fail"
    if not a.equals(b):
        diff = (a != b).any(axis=1)
        idx = diff[diff].index[:3]
        print(f"FAIL  {name}: value mismatch ({int(diff.sum())}/{len(a)} rows differ)")
        for i in idx:
            print(f"      spark : {a.loc[i].to_dict()}")
            print(f"      oracle: {b.loc[i].to_dict()}")
        return "fail"
    print(f"PASS  {name}: {len(a)} rows [{dt:.1f}s]")
    return "pass"


def main() -> int:
    subs = sys.argv[1:]
    reg = registry()
    if subs == ["--uncertified"]:
        # exactly the tier the driver's budgeted sweep certifies next
        from polla_spark.plans import _driver_certified

        cert = _driver_certified()
        names = [n for n in reg if n not in cert]
    else:
        names = [n for n in reg if not subs or any(s in n for s in subs)]
    spark = get_spark("parity", cpus=8)
    con = duck_con()
    counts = {"pass": 0, "fail": 0, "rows": 0}
    for name in names:
        try:
            counts[check(spark, con, name, reg[name])] += 1
        finally:
            # builders persist plan-lifetime frames; release them so
            # the next query starts from an empty cache
            spark.catalog.clearCache()
    print(
        f"\n{counts['pass']} pass, {counts['fail']} fail, "
        f"{counts['rows']} rows-only of {len(names)}"
    )
    return 1 if counts["fail"] else 0


if __name__ == "__main__":
    sys.exit(main())
