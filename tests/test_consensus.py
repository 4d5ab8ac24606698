"""Consensus + decision behavioral matrix (FIXTURES.md §7; reference
tests/test_consensus.py, tests/test_pipeline.py:642-748)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from polla_spark.operators import consensus as C
from polla_spark.schemas import SOURCE_PAYLOAD, STATE_ROW

TS = dt.datetime(2026, 4, 26, 12, 0, 0)
FECHA = dt.date(2026, 4, 28)


def payloads_df(spark, montos_by_source, run_id="r1", sorteo=5418, fecha=FECHA):
    rows = []
    for prio, (name, montos) in enumerate(montos_by_source):
        rows.append(
            {
                "run_id": run_id,
                "source_name": name,
                "source_priority": prio,
                "fuente": f"https://example.test/{name}",
                "fetched_at": TS,
                "sha256": f"sha_{name}_{run_id}",
                "estimado": True,
                "user_agent": "ua",
                "sorteo": sorteo,
                "fecha": fecha,
                "montos": montos,
            }
        )
    return spark.createDataFrame(rows, SOURCE_PAYLOAD)


def empty_state(spark):
    return spark.createDataFrame([], STATE_ROW)


def run_decision(spark, payloads, state=None, threshold=0.25, force=False, expected=2):
    norm = C.normalized_records(payloads, expected_sources=expected)
    flagged = C.with_unchanged(norm, state if state is not None else empty_state(spark))
    return C.decide(flagged, mismatch_threshold=threshold, force_publish=force)


def one_row(df):
    rows = df.collect()
    assert len(rows) == 1
    return rows[0]


def test_agreement_publishes(spark):
    df = payloads_df(spark, [("s1", {"Loto Clásico": 1000}), ("s2", {"Loto Clásico": 1000})])
    r = one_row(run_decision(spark, df))
    assert r["status"] == "publish"
    assert r["publish"] is True
    assert r["confidence"] == "full"
    assert r["mismatched_categories"] == 0
    assert r["pozos_proximo"] == {"Loto Clásico": 1000}
    assert r["publish_reason"] == "updated_or_new_amounts"


def test_majority_2v1(spark):
    df = payloads_df(
        spark,
        [
            ("s1", {"Loto Clásico": 1000}),
            ("s2", {"Loto Clásico": 1000}),
            ("s3", {"Loto Clásico": 3000}),
        ],
    )
    parts = C.consensus(df)
    row = one_row(parts["categories"])
    assert row["winner_valor"] == 1000
    assert row["winner_voters"] == ["s1", "s2"]
    assert row["disagreeing"] == {"3000": ["s3"]}
    assert row["max_deviation"] == 2.0


def test_tie_goes_to_registry_order(spark):
    # 1v1 tie -> first-inserted value wins = lowest source_priority
    # (reference pipeline.py:163-165, tests/test_pipeline.py:704-748)
    df = payloads_df(spark, [("s1", {"Loto Clásico": 100}), ("s2", {"Loto Clásico": 200})])
    parts = C.consensus(df)
    row = one_row(parts["categories"])
    assert row["winner_valor"] == 100
    assert row["winner_voters"] == ["s1"]
    # and the reverse priority flips the winner
    df2 = payloads_df(spark, [("s2", {"Loto Clásico": 200}), ("s1", {"Loto Clásico": 100})])
    assert one_row(C.consensus(df2)["categories"])["winner_valor"] == 200


def test_disagreement_above_threshold_quarantines(spark):
    df = payloads_df(spark, [("s1", {"Loto Clásico": 1000}), ("s2", {"Loto Clásico": 2000})])
    r = one_row(run_decision(spark, df, threshold=0.1))
    assert r["status"] == "quarantine"
    assert r["publish"] is False
    assert r["confidence"] == "degraded"
    # max_deviation 1.00 > 0.10 hard cap takes reason precedence
    assert r["publish_reason"] == "max_deviation_1.00_exceeds_threshold_0.10"


def test_deviation_hard_cap(spark):
    # s1=1000,s2=1010,s3=1150: winner=1000 (tie on votes, s1 first),
    # max_dev = 150/1000 = 0.15 > 0.10 -> quarantine even w/ high threshold
    df = payloads_df(
        spark,
        [
            ("s1", {"Loto Clásico": 1000}),
            ("s2", {"Loto Clásico": 1010}),
            ("s3", {"Loto Clásico": 1150}),
        ],
    )
    r = one_row(run_decision(spark, df, threshold=2.0, expected=3))
    assert one_row(C.consensus(df)["categories"])["max_deviation"] == 0.15
    assert r["status"] == "quarantine"
    assert r["publish_reason"] == "max_deviation_0.15_exceeds_threshold_0.10"


def test_small_deviation_high_threshold_publishes_degraded(spark):
    df = payloads_df(
        spark, [("s1", {"Loto Clásico": 100_000_000}), ("s2", {"Loto Clásico": 105_000_000})]
    )
    r = one_row(run_decision(spark, df, threshold=2.0))
    assert r["status"] == "publish"
    assert r["confidence"] == "degraded"  # mismatch_ratio > 0


def test_disjoint_categories_missing_sources(spark):
    df = payloads_df(
        spark, [("s1", {"Loto Clásico": 500}), ("s2", {"Recargado": 700})]
    )
    cats = {r["categoria"]: r for r in C.consensus(df)["categories"].collect()}
    assert set(cats) == {"Loto Clásico", "Recargado"}
    assert cats["Loto Clásico"]["missing_sources"] == ["s2"]
    assert cats["Recargado"]["missing_sources"] == ["s1"]
    # consensus-with-missing: mismatch recorded but no deviation key
    mism = {r["categoria"]: r for r in C.consensus(df)["mismatches"].collect()}
    assert mism["Loto Clásico"]["max_deviation"] is None
    assert mism["Loto Clásico"]["disagreeing"] == {}


def test_single_source_confidence(spark):
    df = payloads_df(spark, [("s2", {"Loto Clásico": 1000})])
    r = one_row(run_decision(spark, df, expected=1))
    assert r["confidence"] == "single_source"
    # but if two were requested and one failed -> degraded
    r2 = one_row(run_decision(spark, df, expected=2))
    assert r2["confidence"] == "degraded"


def test_totals_excluded(spark):
    df = payloads_df(
        spark,
        [
            ("s1", {"Loto Clásico": 1000, "Total estimado": 9999}),
            ("s2", {"Loto Clásico": 1000, "total estimado x": 1}),
        ],
    )
    r = one_row(run_decision(spark, df))
    assert r["pozos_proximo"] == {"Loto Clásico": 1000}
    assert r["total_categories"] == 1


def test_totals_only_run_has_empty_consensus(spark):
    # every category is Total*: no consensus rows, but the run's row
    # still carries typed empty values, never NULL
    df = payloads_df(spark, [("s1", {"Total estimado": 9999}), ("s2", {"total x": 1})])
    r = one_row(run_decision(spark, df))
    assert r["pozos_proximo"] == {}
    assert r["mismatches"] == []
    assert r["total_categories"] == 0
    assert (r["mismatch_ratio"], r["max_deviation"]) == (0.0, 0.0)
    assert C.consensus(df)["categories"].count() == 0


def test_null_montos_source_still_responded(spark):
    df = payloads_df(spark, [("s1", {"Loto Clásico": 500}), ("s2", None)])
    r = one_row(run_decision(spark, df))
    assert r["pozos_proximo"] == {"Loto Clásico": 500}
    assert [m["missing_sources"] for m in r["mismatches"]] == [["s2"]]


def test_unchanged_by_sha_skips(spark):
    df = payloads_df(spark, [("s1", {"Loto Clásico": 1000}), ("s2", {"Loto Clásico": 1000})])
    state = spark.createDataFrame(
        [{"sorteo": 5418, "fecha": FECHA, "primary_sha256": "sha_s1_r1", "pozos_proximo": {"X": 1}}],
        STATE_ROW,
    )
    r = one_row(run_decision(spark, df, state=state))
    assert r["status"] == "skip"
    assert r["publish"] is False
    assert r["publish_reason"] == "sorteo_fecha_and_amounts_unchanged"


def test_unchanged_by_amounts_skips(spark):
    df = payloads_df(spark, [("s1", {"Loto Clásico": 1000}), ("s2", {"Loto Clásico": 1000})])
    state = spark.createDataFrame(
        [
            {
                "sorteo": 5418,
                "fecha": FECHA,
                "primary_sha256": "other_sha",
                "pozos_proximo": {"Loto Clásico": 1000},
            }
        ],
        STATE_ROW,
    )
    r = one_row(run_decision(spark, df, state=state))
    assert r["status"] == "skip"


def test_changed_amounts_publish(spark):
    df = payloads_df(spark, [("s1", {"Loto Clásico": 1000, "Recargado": 5})])
    state = spark.createDataFrame(
        [
            {
                "sorteo": 5418,
                "fecha": FECHA,
                "primary_sha256": "zzz",
                "pozos_proximo": {"Loto Clásico": 1000},
            }
        ],
        STATE_ROW,
    )
    r = one_row(run_decision(spark, df, state=state, expected=1))
    assert r["status"] == "publish"
    assert r["publish_reason"] == "updated_or_new_amounts"


def test_force_publish_on_unchanged(spark):
    df = payloads_df(spark, [("s1", {"Loto Clásico": 1000}), ("s2", {"Loto Clásico": 1000})])
    state = spark.createDataFrame(
        [{"sorteo": 5418, "fecha": FECHA, "primary_sha256": "sha_s1_r1", "pozos_proximo": {}}],
        STATE_ROW,
    )
    r = one_row(run_decision(spark, df, state=state, force=True))
    assert r["status"] == "publish_forced"
    assert r["publish"] is True
    assert r["publish_reason"] == "force_publish_requested"


def test_provenance_order(spark):
    df = payloads_df(
        spark,
        [("s1", {"Loto Clásico": 1}), ("s2", {"Loto Clásico": 2}), ("s3", {"Loto Clásico": 3})],
    )
    prov = one_row(C.provenance(df))
    assert prov["primary"]["source_name"] == "s1"
    assert [a["source_name"] for a in prov["alternatives"]] == ["s2", "s3"]
    assert prov["primary"]["sha256"] == "sha_s1_r1"


def test_many_runs_in_one_plan(spark):
    # the scale story: N independent runs resolved by one shuffle
    dfs = [
        payloads_df(
            spark,
            [("s1", {"Loto Clásico": 100 * i}), ("s2", {"Loto Clásico": 100 * i + (i % 2)})],
            run_id=f"r{i}",
        )
        for i in range(1, 6)
    ]
    allp = dfs[0]
    for d in dfs[1:]:
        allp = allp.unionByName(d)
    out = C.normalized_records(allp, expected_sources=2)
    rows = {r["run_id"]: r for r in out.collect()}
    assert len(rows) == 5
    assert rows["r2"]["pozos_proximo"] == {"Loto Clásico": 200}  # agreement
    assert rows["r3"]["mismatched_categories"] == 1  # 300 vs 301 tie -> s1 wins
    assert rows["r3"]["pozos_proximo"] == {"Loto Clásico": 300}
