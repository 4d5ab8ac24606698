"""Driver fidelity: the grading driver builds its OWN vanilla
SparkSession (none of get_spark's configs — notably not the UTC
session timezone or the parquet nanos/NTZ scan settings). Every
timestamp-sensitive plan must still hash-match the oracle under such
a session; __spark_entry__._configure is the shim that makes it so.
Must run in a SUBPROCESS — in-process getOrCreate would hand back the
test suite's already-configured session."""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

SCRIPT = r"""
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false")
         .appName("foreign").getOrCreate())
import __spark_entry__ as e
import duckdb
con = duckdb.connect()
con.sql("CREATE VIEW events AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/events.parquet')")
qs, oracles = e.queries(), e.oracle_sql()
for name in ["q132_rolling_active_users", "q147_incremental_rollup",
             "q116_ohlc_bars"]:
    sdf = qs[name](spark, "/root/testdata/sf0.001").toPandas()
    odf = con.sql(oracles[name]).df()
    cols = sorted(sdf.columns)
    a = sorted(map(tuple, sdf[cols].astype(str).values.tolist()))
    b = sorted(map(tuple, odf[cols].astype(str).values.tolist()))
    assert a == b, name
print("FOREIGN_OK")
"""


def test_timestamp_plans_survive_a_vanilla_driver_session():
    r = subprocess.run(
        [sys.executable, "-c", SCRIPT],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=ROOT,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "FOREIGN_OK" in r.stdout
