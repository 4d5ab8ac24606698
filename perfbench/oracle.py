"""DuckDB oracle answers for the query workload, cached on disk.

Results compare order-insensitively in the canon of
``scripts/parity.py``: columns sorted by name, every value rendered as
an engine-neutral string, rows sorted. The oracle's answer is reduced
to a hash and cached under a key made from the oracle SQL and the
bytes of the input files, so DuckDB runs once per dataset.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path


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


def result_hash(df) -> tuple[str, int]:
    """(hash, row count) of a pandas frame in the parity canon."""
    df = df.reindex(sorted(df.columns), axis=1)
    rows = sorted(tuple(_norm(v) for v in row) for row in df.itertuples(index=False))
    h = hashlib.sha256(json.dumps([list(df.columns), rows]).encode("utf-8"))
    return h.hexdigest(), len(rows)


def files_digest(paths: list[Path]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.name.encode("utf-8"))
        h.update(p.read_bytes())
    return h.hexdigest()


def oracle_hashes(
    oracles: dict[str, str], data_dir: Path, cache_dir: Path
) -> dict[str, tuple[str, int]]:
    """name -> (hash, rows) of each oracle SQL over the parquet files in
    ``data_dir``; computed with DuckDB on a cache miss."""
    tables = sorted(data_dir.glob("*.parquet"))
    digest = files_digest(tables)
    cache_dir.mkdir(parents=True, exist_ok=True)
    out: dict[str, tuple[str, int]] = {}
    con = None
    try:
        for name, sql in oracles.items():
            key = hashlib.sha256((sql + "\0" + digest).encode("utf-8")).hexdigest()
            path = cache_dir / f"{key}.json"
            if path.exists():
                h, n = json.loads(path.read_text())
            else:
                if con is None:
                    import duckdb

                    con = duckdb.connect()
                    for t in tables:
                        con.sql(
                            f"CREATE VIEW {t.stem} AS SELECT * FROM read_parquet('{t}')"
                        )
                h, n = result_hash(con.sql(sql).df())
                path.write_text(json.dumps([h, n]))
            out[name] = (h, n)
    finally:
        if con is not None:
            con.close()
    return out
