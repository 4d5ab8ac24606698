"""Model-based consensus check: a pure-Python model of the reference's
merge semantics (majority vote, insertion-order tie-break via source
priority, deviation, missing sources, mismatch records, provenance,
the delta against previous state) vs the Spark plan, over 240
randomized runs executed in ONE multi-run job.

This is the independent-implementation check the DuckDB oracle can't
give (the oracle SQL was written by the same author as the plan); the
model below follows the reference's dict-merge description
(polla_app/pipeline.py:135-285) directly.
"""

from __future__ import annotations

import datetime as dt
import random

from pyspark.sql import functions as F

from polla_spark.operators import consensus as C
from polla_spark.schemas import SOURCE_PAYLOAD, STATE_ROW
from polla_spark.session import local_frame

CATS = ["Loto Clásico", "Recargado", "Revancha", "Desquite", "Total estimado"]
TOTALS = ["Total estimado", "total pozo"]
VALS = [100, 100, 100, 250, 500, 999]  # repeats force vote collisions
KEYS = [(1, dt.date(2026, 8, 14)), (2, dt.date(2026, 8, 14)), (None, dt.date(2026, 8, 14)),
        (1, None), (None, None)]


def _gen_runs(rng: random.Random, n_runs: int):
    """run_id -> (sorteo, fecha, list of (source_name, priority, montos dict)).

    Montos keys come in a per-source shuffled order (first-seen order
    is data); some sources report only 'Total*' categories."""
    runs = {}
    for i in range(n_runs):
        n_sources = rng.randint(1, 4)
        payloads = []
        for prio in range(n_sources):
            cats = TOTALS if rng.random() < 0.1 else rng.sample(CATS, len(CATS))
            montos = {cat: rng.choice(VALS) for cat in cats if rng.random() < 0.75}
            if montos:
                payloads.append((f"s{prio}", prio, montos))
        if payloads:
            runs[f"r{i}"] = (*rng.choice(KEYS), payloads)
    return runs


def _model(payloads):
    """Reference semantics for one run: per-category winner/deviation/
    missing, in first-seen order. Votes tally per value; winner = most
    votes, tie broken by the earliest (lowest-priority) source that
    reported the value."""
    entries: dict[str, list] = {}
    roster = [(prio, name) for name, prio, _ in payloads]
    for name, prio, montos in sorted(payloads, key=lambda x: x[1]):
        for cat, val in montos.items():
            if cat.lower().startswith("total"):
                continue
            entries.setdefault(cat, []).append((prio, name, val))
    out = {}
    for cat, rows in entries.items():
        votes: dict[int, dict] = {}
        for prio, name, val in rows:
            v = votes.setdefault(val, {"n": 0, "first": 10**9, "voters": []})
            v["n"] += 1
            v["first"] = min(v["first"], prio)
            v["voters"].append(name)
        ordered = sorted(votes.items(), key=lambda kv: (-kv[1]["n"], kv[1]["first"]))
        winner_val = ordered[0][0]
        n_values = len(votes)
        if n_values > 1:
            dev = (
                max(abs(v - winner_val) / winner_val for v in votes)
                if winner_val > 0
                else 0.0
            )
        else:
            dev = None
        responded = {name for _, name, _ in rows}
        missing = [n for p, n in sorted(roster) if n not in responded]
        out[cat] = {
            "winner": winner_val,
            "n_values": n_values,
            "dev": dev,
            "voters": sorted(votes[winner_val]["voters"]),
            "disagreeing": {str(v): sorted(c["voters"]) for v, c in ordered[1:]},
            "missing": missing,
        }
    return out


def _mismatches(model):
    """The report's mismatch records (pipeline.py:175-201), first-seen order."""
    return [
        (cat, m["winner"], m["disagreeing"], m["missing"])
        for cat, m in model.items()
        if m["n_values"] > 1 or m["missing"]
    ]


def _gen_state(rng: random.Random, runs, models):
    """Previous records: exact sha hits, amount-only hits (sha differs),
    key-only rows (both differ), and NULL sorteo/fecha keys."""
    state = []
    for run_id, (sorteo, fecha, payloads) in runs.items():
        kind = rng.choice(["none", "sha", "amounts", "keys"])
        if kind == "none":
            continue
        primary = min(payloads, key=lambda p: p[1])
        pozos = {cat: m["winner"] for cat, m in models[run_id].items()}
        if kind == "keys":
            pozos = {**pozos, "Otro": 1}
        state.append(
            {
                "sorteo": sorteo,
                "fecha": fecha,
                "primary_sha256": f"sha_{run_id}_{primary[0]}" if kind == "sha" else "old",
                "pozos_proximo": {"X": 1} if kind == "sha" else pozos,
            }
        )
    return state


def _unchanged(sorteo, fecha, sha, pozos, state):
    return any(
        s["sorteo"] == sorteo
        and s["fecha"] == fecha
        and (s["primary_sha256"] == sha or s["pozos_proximo"] == pozos)
        for s in state
    )


def test_consensus_matches_python_model(spark):
    rng = random.Random(20260813)
    runs = _gen_runs(rng, 240)
    rows = []
    for run_id, (sorteo, fecha, payloads) in runs.items():
        for name, prio, montos in payloads:
            rows.append(
                {
                    "run_id": run_id,
                    "source_name": name,
                    "source_priority": prio,
                    "fuente": f"https://x/{name}",
                    "fetched_at": dt.datetime(2026, 8, 13, 12, 0),
                    "sha256": f"sha_{run_id}_{name}",
                    "estimado": True,
                    "user_agent": "ua",
                    "sorteo": sorteo,
                    "fecha": fecha,
                    "montos": montos,
                }
            )
    models = {run_id: _model(p) for run_id, (_, _, p) in runs.items()}
    assert len(runs) >= 200
    assert any(not m for m in models.values())  # a Total*-only run
    assert any(len(p) == 1 for _, _, p in runs.values())  # single-source runs
    # the local relation keeps each map's insertion order (first-seen is data)
    pdf = local_frame(spark, rows, SOURCE_PAYLOAD)
    got_keys = pdf.select("run_id", "source_name", F.map_keys("montos").alias("k")).collect()
    assert {(r["run_id"], r["source_name"]): list(r["k"]) for r in got_keys} == {
        (r["run_id"], r["source_name"]): list(r["montos"]) for r in rows
    }

    cats = C.consensus(pdf)["categories"].collect()
    seen = set()
    for r in cats:
        want = models[r["run_id"]][r["categoria"]]
        key = (r["run_id"], r["categoria"])
        seen.add(key)
        assert r["winner_valor"] == want["winner"], key
        assert r["n_values"] == want["n_values"], key
        assert sorted(r["winner_voters"]) == want["voters"], key
        assert list(r["missing_sources"]) == want["missing"], key
        assert r["disagreeing"] == want["disagreeing"], key
        if want["dev"] is None:
            assert r["max_deviation"] is None, key
        else:
            # Spark rounds half-up at 4 places; compare within half an ulp
            assert abs(r["max_deviation"] - round(want["dev"], 4)) <= 5.1e-5, key
    expected_keys = {(run_id, cat) for run_id, model in models.items() for cat in model}
    assert seen == expected_keys

    # run level: pozos order, mismatch records, provenance, delta vs state
    state = _gen_state(rng, runs, models)
    assert any(s["sorteo"] is None for s in state) and any(s["fecha"] is None for s in state)
    decided = C.with_unchanged(
        C.normalized_records(pdf, expected_sources=3), local_frame(spark, state, STATE_ROW)
    ).select(
        "run_id",
        # arrays keep the engine's order; a collected map would not
        F.map_keys("pozos_proximo").alias("pozos_order"),
        "pozos_proximo",
        "mismatches",
        "provenance",
        "total_categories",
        "unchanged",
    )
    got = {r["run_id"]: r for r in decided.collect()}
    assert set(got) == set(runs)
    n_unchanged = 0
    for run_id, (sorteo, fecha, payloads) in runs.items():
        r, model = got[run_id], models[run_id]
        pozos = {cat: m["winner"] for cat, m in model.items()}
        assert list(r["pozos_order"]) == list(model), run_id
        assert r["pozos_proximo"] == pozos, run_id
        assert r["total_categories"] == len(model), run_id
        assert [
            (m["categoria"], m["winner_valor"], m["disagreeing"], list(m["missing_sources"]))
            for m in r["mismatches"]
        ] == _mismatches(model), run_id
        prov = r["provenance"]["pozos"]
        names = [name for name, _, _ in sorted(payloads, key=lambda p: (p[1], p[0]))]
        assert prov["primary"]["source_name"] == names[0], run_id
        assert [a["source_name"] for a in prov["alternatives"]] == names[1:], run_id
        sha = f"sha_{run_id}_{names[0]}"
        want = _unchanged(sorteo, fecha, sha, pozos, state)
        assert r["unchanged"] is want, run_id
        n_unchanged += want
    assert 0 < n_unchanged < len(runs)
