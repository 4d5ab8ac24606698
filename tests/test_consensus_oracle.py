"""q40–q44 (the consensus kernel at table scale) against their DuckDB
oracle SQL, compared in ``scripts/parity.py``'s canon.

Inputs are the committed ``perfbench/data/sf0.01`` tables, read only,
so this runs without generated testdata.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import duckdb
import pytest

from polla_spark.plans import registry
from scripts.parity import canon  # type: ignore

SF = Path(__file__).resolve().parents[1] / "perfbench" / "data" / "sf0.01"
NAMES = [
    "q40_consensus_winner",
    "q41_consensus_deviation",
    "q42_consensus_missing",
    "q43_consensus_confidence",
    "q44_consensus_decision",
]


def digest(df) -> str:
    c = canon(df)
    return hashlib.sha256(repr((list(c.columns), c.values.tolist())).encode()).hexdigest()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{SF / 'events.parquet'}')")
    yield con
    con.close()


@pytest.mark.parametrize("name", NAMES)
def test_consensus_query_matches_oracle(spark, duck, name):
    q = registry()[name]
    got = q.spark(spark, str(SF)).toPandas()
    want = duck.sql(q.oracle).df()
    assert len(want) > 0
    assert sorted(got.columns) == sorted(want.columns)
    assert (len(got), digest(got)) == (len(want), digest(want)), name
