"""Shape pins for the daily ``run_pipeline`` path: driver rows become
JVM local relations, one run is answered by one collect, and the
report's mismatch records keep their content and first-seen order.

Days come from the benchmark's seeded page generator
(``perfbench/gen.py``), so every outcome it plants is covered here.
"""

from __future__ import annotations

import importlib.util
import json
import sys
from pathlib import Path

import pytest

from polla_spark.errors import ParseError
from polla_spark.pipeline import load_state_df, run_pipeline
from polla_spark.sources.pozos import (
    collect_payloads,
    parse_openloto_html,
    parse_polla_html,
    payloads_to_df,
)

_spec = importlib.util.spec_from_file_location(
    "perfbench_gen", Path(__file__).resolve().parents[1] / "perfbench" / "gen.py"
)
gen = sys.modules[_spec.name] = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(gen)


def day_loaders(day):
    def load(name, parse, html):
        def loader(**_kw):
            if day.failing == name:
                raise ParseError(f"{name} unavailable")
            return parse(html)

        return loader

    return {
        "openloto": load("openloto", parse_openloto_html, day.openloto_html),
        "polla": load("polla", parse_polla_html, day.polla_html),
    }


def paths(tmp_path):
    return dict(
        raw_dir=tmp_path / "raw",
        normalized_path=tmp_path / "normalized.jsonl",
        comparison_report_path=tmp_path / "report.json",
        summary_path=tmp_path / "summary.json",
        state_path=tmp_path / "state.jsonl",
    )


def analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_driver_frames_are_local_relations(spark, tmp_path):
    day = gen.daily_plan(3, 1)[0]
    payloads, _ = collect_payloads(["openloto", "polla"], loaders=day_loaders(day))
    kw = paths(tmp_path)
    missing_state = load_state_df(spark, kw["state_path"])
    run_pipeline(spark, sources=["all"], loaders=day_loaders(day), **kw)
    frames = {
        "payloads": payloads_to_df(spark, payloads, "r"),
        "state": load_state_df(spark, kw["state_path"]),
        "empty state": missing_state,
    }
    for name, df in frames.items():
        plan = analyzed(df)
        assert "LogicalRDD" not in plan, (name, plan)
        assert "LocalRelation" in plan, (name, plan)
    assert frames["state"].count() == 1
    assert missing_state.count() == 0


def test_one_collect_per_run_and_planted_outcomes(spark, tmp_path, monkeypatch):
    """A whole cycle of the benchmark's outcomes (publish, quarantine,
    single source, skip) after the publishing first day, state chained:
    each call reaches the planted decision with exactly one collect."""
    from pyspark.sql.classic.dataframe import DataFrame

    calls = []
    real_collect = DataFrame.collect

    def counting_collect(self):
        calls.append(1)
        return real_collect(self)

    monkeypatch.setattr(DataFrame, "collect", counting_collect)
    days = gen.daily_plan(7, 1 + len(gen.OUTCOMES))
    assert sorted(d.outcome for d in days[1:]) == sorted(gen.OUTCOMES)
    kw = paths(tmp_path)
    for day in days:
        calls.clear()
        summary = run_pipeline(spark, sources=["all"], loaders=day_loaders(day), **kw)
        assert len(calls) == 1, (day.outcome, len(calls))
        record = json.loads(kw["normalized_path"].read_text(encoding="utf-8"))
        got = (summary["decision"]["status"], record["confidence"], record["pozos_proximo"])
        assert got == (day.status, day.confidence, day.pozos), day.outcome


def test_warm_call_job_budget(spark, tmp_path):
    """The per-run consensus resolves inside one row: a warm call is
    one shuffle on run_id plus the state aggregate, not a relational
    chain of ~24 jobs."""
    days = gen.daily_plan(7, 2)
    kw = paths(tmp_path)
    run_pipeline(spark, sources=["all"], loaders=day_loaders(days[0]), **kw)
    sc = spark.sparkContext
    sc.setJobGroup("daily-warm-call", "daily-warm-call")
    try:
        run_pipeline(spark, sources=["all"], loaders=day_loaders(days[1]), **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("daily-warm-call")
    assert 1 <= len(jobs) <= 6, len(jobs)


#: This day's mismatch records in category first-seen order (openloto's
#: page order): three disagreements, then the three categories polla lacks.
QUARANTINE_DAY_MISMATCHES = [
    {"categoria": "Loto Clásico", "consensus": {"878000000": ["openloto"]},
     "disagreeing": {"1264000000": ["polla"]}, "missing_sources": [],
     "max_deviation": 0.4396},
    {"categoria": "Recargado", "consensus": {"4853000000": ["openloto"]},
     "disagreeing": {"6163000000": ["polla"]}, "missing_sources": [],
     "max_deviation": 0.2699},
    {"categoria": "Jubilazo $1.000.000", "consensus": {"4296000000": ["openloto"]},
     "disagreeing": {"5327000000": ["polla"]}, "missing_sources": [],
     "max_deviation": 0.24},
    {"categoria": "Jubilazo $500.000", "consensus": {"0": ["openloto"]},
     "disagreeing": {}, "missing_sources": ["polla"]},
    {"categoria": "Jubilazo 50 años $1.000.000", "consensus": {"0": ["openloto"]},
     "disagreeing": {}, "missing_sources": ["polla"]},
    {"categoria": "Jubilazo 50 años $500.000", "consensus": {"0": ["openloto"]},
     "disagreeing": {}, "missing_sources": ["polla"]},
]


@pytest.mark.parametrize("with_state", [False, True])
def test_report_mismatches_pinned_in_first_seen_order(spark, tmp_path, with_state):
    days = gen.daily_plan(11, 3)
    day = days[2]
    assert day.outcome == "quarantine"
    kw = paths(tmp_path)
    if with_state:  # the record a previous day left must not matter
        run_pipeline(spark, sources=["all"], loaders=day_loaders(days[1]), **kw)
    run_pipeline(spark, sources=["all"], loaders=day_loaders(day), **kw)
    report = json.loads(kw["comparison_report_path"].read_text(encoding="utf-8"))
    assert report["decision"]["status"] == "quarantine"
    assert report["mismatches"] == QUARANTINE_DAY_MISMATCHES
    # key order inside each record is part of the artifact's bytes
    assert [list(m) for m in report["mismatches"]] == [
        list(m) for m in QUARANTINE_DAY_MISMATCHES
    ]


def test_publish_day_reports_only_missing_categories(spark, tmp_path):
    day = gen.daily_plan(7, 1)[0]
    kw = paths(tmp_path)
    summary = run_pipeline(spark, sources=["all"], loaders=day_loaders(day), **kw)
    report = json.loads(kw["comparison_report_path"].read_text(encoding="utf-8"))
    assert summary["decision"]["status"] == "publish"
    # openloto's zero-valued Jubilazo categories are missing from polla
    assert [m["categoria"] for m in report["mismatches"]] == gen.OPENLOTO_ZEROS
