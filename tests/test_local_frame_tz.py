"""``session.local_frame`` keeps the row path's timestamp semantics
under a non-UTC process time zone.

PySpark's row path (``createDataFrame(list_of_dicts, schema)``) reads
a naive ``datetime`` as process-local time; Arrow alone reads it as
UTC, which would shift every artifact's ``fetched_at`` by the zone's
offset. These tests switch the process to America/Santiago (the
deployment's zone) with ``time.tzset`` and compare the two paths.
"""

from __future__ import annotations

import datetime as dt
import json
import time
from pathlib import Path

import pytest
from pyspark.sql import types as T

from polla_spark import session
from polla_spark.pipeline import run_pipeline
from polla_spark.sources.pozos import parse_openloto_html, parse_polla_html

ZONE = "America/Santiago"
FIXTURES = Path(__file__).parent / "fixtures" / "sources"


@pytest.fixture
def santiago(monkeypatch):
    monkeypatch.setenv("TZ", ZONE)
    time.tzset()
    assert time.localtime(0).tm_gmtoff != 0
    yield
    monkeypatch.undo()
    time.tzset()


def row_path(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


SCHEMA = T.StructType(
    [
        T.StructField("i", T.IntegerType(), False),
        T.StructField("t", T.TimestampType(), True),
        T.StructField("d", T.DateType(), True),
    ]
)

STAMPS = [
    dt.datetime(2026, 1, 10, 12, 0),  # summer time, UTC-3
    dt.datetime(2026, 7, 1, 12, 0, 0, 123456),  # standard time, UTC-4
    dt.datetime(2026, 4, 4, 23, 30),  # the hour repeated when DST ends
    dt.datetime(2026, 9, 6, 0, 30),  # the hour skipped when DST starts
    dt.datetime(2026, 1, 10, 12, 0, tzinfo=dt.timezone.utc),
    None,
]


def test_local_frame_matches_row_path_instants(spark, santiago):
    rows = [
        {"i": i, "t": t, "d": t.date() if t else None} for i, t in enumerate(STAMPS)
    ]
    got = session.local_frame(spark, rows, SCHEMA)
    want = row_path(spark, rows, SCHEMA)
    q = ["i", "unix_micros(t) AS us", "d"]
    assert got.selectExpr(*q).orderBy("i").collect() == want.selectExpr(*q).orderBy("i").collect()
    assert got.orderBy("i").collect() == want.orderBy("i").collect()
    # a naive wall clock off any DST transition comes back unshifted
    back = {r["i"]: r["t"] for r in got.collect()}
    assert back[0] == STAMPS[0] and back[1] == STAMPS[1]


def test_local_frame_rejects_none_in_required_field(spark):
    with pytest.raises(ValueError, match="'i'"):
        session.local_frame(spark, [{"i": None}], SCHEMA)


@pytest.mark.parametrize(
    "fetched_at",
    ["2026-01-10T12:00:00+00:00", "2026-07-01T12:00:00.123456", "2026-04-04T23:30:00"],
)
def test_normalized_jsonl_matches_row_path(spark, tmp_path, santiago, monkeypatch, fetched_at):
    op_html = (FIXTURES / "openloto" / "page.html").read_text(encoding="utf-8")
    po_html = (FIXTURES / "polla" / "page.html").read_text(encoding="utf-8")

    def stamped(parse, html):
        def loader(**_kw):
            return {**parse(html), "fetched_at": fetched_at}

        return loader

    loaders = {
        "openloto": stamped(parse_openloto_html, op_html),
        "polla": stamped(parse_polla_html, po_html),
    }

    def record(out, **patch):
        with monkeypatch.context() as m:
            for name, fn in patch.items():
                m.setattr(session, name, fn)
            kw = dict(
                raw_dir=out / "raw",
                normalized_path=out / "normalized.jsonl",
                comparison_report_path=out / "report.json",
                summary_path=out / "summary.json",
                state_path=out / "state.jsonl",
            )
            summary = run_pipeline(spark, sources=["all"], loaders=loaders, **kw)
        text = kw["normalized_path"].read_text(encoding="utf-8")
        return text.replace(summary["run_id"], "<run>")

    arrow = record(tmp_path / "arrow")
    assert arrow == record(tmp_path / "rows", local_frame=row_path)
    arrow = json.loads(arrow)
    prov = arrow["provenance"]["pozos"]
    wall = dt.datetime.fromisoformat(fetched_at).replace(tzinfo=None).isoformat()
    for desc in [prov["primary"], *prov["alternatives"]]:
        assert desc["fetched_at"] == wall
    assert prov["primary"]["fecha"] == arrow["fecha"]
