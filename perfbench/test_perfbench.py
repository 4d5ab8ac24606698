"""Self-tests of the benchmark.

    python3 -m pytest perfbench/test_perfbench.py -q

The last test launches Spark and takes about ten minutes.
"""

from __future__ import annotations

import io
import json
import math
import sys
from contextlib import redirect_stdout
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import run as bench  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text(encoding="utf-8"))


def test_daily_plan_is_deterministic_per_seed():
    assert gen.daily_plan(5, 30) == gen.daily_plan(5, 30)
    assert gen.daily_plan(5, 30) != gen.daily_plan(6, 30)
    # a longer plan extends a shorter one: runs that reach more days
    # see the same first days
    assert gen.daily_plan(5, 40)[:30] == gen.daily_plan(5, 30)


def test_daily_plan_plants_every_outcome():
    days = gen.daily_plan(3, 9)
    assert days[0].outcome == "publish"
    assert {d.outcome for d in days} == set(gen.OUTCOMES)
    for prev, day in zip(days, days[1:]):
        if day.outcome == "skip":
            assert (day.openloto_html, day.polla_html, day.failing) == (
                prev.openloto_html, prev.polla_html, prev.failing)


def test_daily_plan_repeats_whole_outcome_cycles():
    days = gen.daily_plan(11, 1 + 3 * bench.CYCLE)
    for c in range(3):
        cycle = days[1 + c * bench.CYCLE:1 + (c + 1) * bench.CYCLE]
        assert sorted(d.outcome for d in cycle) == sorted(gen.OUTCOMES)


def test_traced_daily_calls_cover_each_outcome_once_each_way():
    days = gen.daily_plan(12, 1 + bench.TRACED_MIN_WARM_OPS["daily_run"])
    run = bench.Run("daily_run", 12, 0.0, True)
    flags: list[bool] = []
    run.op = lambda kind, traced, body: flags.append(traced)
    run.warm_loop(None, bench.CYCLE, lambda n: bench.traced_daily_call(days, n))
    assert len(flags) == 2 * bench.CYCLE
    traced = sorted(d.outcome for d, t in zip(days[1:], flags) if t)
    untraced = sorted(d.outcome for d, t in zip(days[1:], flags) if not t)
    assert traced == untraced == sorted(gen.OUTCOMES)


def _op(kind: str, **items: float) -> dict:
    return {"op": kind, "kind": kind, "traced": False, "wall": sum(items.values()),
            "items": items}


def test_end_to_end_math():
    daily = bench.Run("daily_run", 1, 1.0, False)
    daily.setups = [(7.0, 3.0)]
    daily.ops = [_op("cold", publish=16.0), _op("warm", skip=9.0),
                 _op("warm", publish=4.0), _op("warm", quarantine=16.0),
                 _op("warm")]  # a failed call: no items, not counted
    got = bench.end_to_end(daily)
    assert got["setup_s"] == 10.0  # JVM launch and build, plus warm-up
    assert got["cold_op_s"] == 16.0
    assert got["warm_op_s"] == 9.0
    assert math.isclose(got["warm_geomean_s"], (9.0 * 4.0 * 16.0) ** (1 / 3))

    q = bench.Run("queries", 1, 1.0, False)
    q.setups = [(7.0, 3.0)]
    q.ops = [_op("cold", a=5.0, b=3.0), _op("warm", a=1.0, b=4.0),
             _op("warm", a=3.0, b=1.0), _op("warm", a=2.0, b=16.0)]
    got = bench.end_to_end(q)
    assert got["cold_op_s"] == 8.0
    assert got["warm_op_s"] == 2.0 + 4.0  # sum of per-query medians
    assert math.isclose(got["warm_geomean_s"], math.sqrt(2.0 * 4.0))


def test_metric_names_match_benchmark_json():
    assert [m["name"] for m in SPEC["end_to_end"]] == list(bench.END_TO_END)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == bench.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == bench.PER_LAYER
    assert [w["name"] for w in SPEC["workloads"]] == list(bench.WORKLOADS)


@pytest.mark.parametrize("units", [bench.END_TO_END, bench.PER_LAYER])
def test_stdout_lines_parse_into_every_named_metric(units):
    run = bench.Run("daily_run", 1, 1.0, False)
    run.attempted = 4
    metrics = {name: 1.5 + i for i, name in enumerate(units)}
    out = io.StringIO()
    with redirect_stdout(out):
        result = bench.report(run, metrics, units)
        print(json.dumps(result))
    lines = out.getvalue().splitlines()
    last = json.loads(lines[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["metrics"] == {k: {"value": metrics[k], "unit": u} for k, u in units.items()}
    parsed = {}
    for line in lines[:-1]:
        _, workload, name, value, unit, *_ = line.split()
        assert workload == "daily_run"
        parsed[name] = (float(value), unit)
    assert parsed.pop("fail_ratio") == (0.0, "ratio")
    assert parsed == {k: (metrics[k], u) for k, u in units.items()}


def _run(workload: str, traced: bool) -> bench.Run:
    bench.prepare_env()
    run = bench.Run(workload, 7, 0.0, traced)
    run.setup()
    if workload == "daily_run":
        bench.daily_run(run)
    else:
        from polla_spark.plans import registry

        names = bench.DEDUP + bench.ANALYTICS
        answers = bench.oracle.oracle_hashes(
            {q: registry()[q].oracle for q in names}, bench.DATA, bench.WORK / "oracle")
        bench.queries(run, bench.DATA, answers)
    if traced:
        run.rebuild()
    return run


@pytest.mark.parametrize("workload", bench.WORKLOADS)
def test_traced_and_untraced_runs_produce_identical_outputs(workload, monkeypatch):
    pytest.importorskip("pyspark")
    pytest.importorskip("polla_spark")
    if workload == "queries":
        # one query per family keeps the test short
        monkeypatch.setattr(bench, "DEDUP", ["q67_dedup_components"])
        monkeypatch.setattr(bench, "ANALYTICS", ["q44_consensus_decision"])
    plain = _run(workload, False)
    traced = _run(workload, True)
    try:
        assert plain.failed == traced.failed == 0, plain.errors + traced.errors
        # a traced run makes more warm operations; the ones both made match
        assert plain.outputs and len(traced.outputs) >= len(plain.outputs)
        assert traced.outputs[:len(plain.outputs)] == plain.outputs
        assert traced.tracer.spans and not plain.tracer.spans
        layers = bench.per_layer(traced)
        assert set(layers) == set(bench.PER_LAYER)
    finally:
        traced.shutdown()
