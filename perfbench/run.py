"""Benchmark of polla_spark: the daily consensus pipeline and the plan
queries, end to end and layer by layer.

Run from the repository root:

    python3 perfbench/run.py --workload daily_run --seed 1 --seconds 20 --trace 0

Each workload is a closed loop with one client (this process): the next
operation starts only after the previous one returned. Spark runs as
``local[N]`` with N the cores this process may use.

Set-up is what a fresh process pays before its first operation: JVM
launch, session build and a one-shuffle warm-up. The cold operation
runs on that session.

- ``daily_run``: sequential ``run_pipeline`` calls on seeded openloto
  and polla pages (see ``gen.daily_plan``), state chained from call to
  call. The first call is the cold operation; warm calls follow in
  whole cycles of the four planted outcomes, until ``--seconds`` have
  passed. Every call's decision is checked against the planted one.
- ``queries``: registry queries over the sf0.01 tables in ``data/``,
  in a seeded order. The cold operation is one pass that collects every
  result and checks it against its DuckDB oracle; warm passes follow,
  each query timed from construction through a noop-sink write, with
  the cache cleared before each query. The noop sink returns nothing to
  compare, so a warm query fails only by raising.

stdout carries one ``metric`` line per metric and, last, one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace
0`` reports the end-to-end metrics; ``--trace 1`` installs span wrappers
around the program's layer functions (see ``spans.py``), runs every
operation under its own Spark job group, alternates traced and untraced
warm operations, rebuilds the session in the running JVM at the end,
and reports the per-layer metrics. The exit code is 1 if any check
failed.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
sys.path[:0] = [str(ROOT), str(HERE)]

import gen  # noqa: E402
import oracle  # noqa: E402
import spans  # noqa: E402

WORKLOADS = ("daily_run", "queries")

#: Query workload: three dedup/LSH plans and three scan/window/consensus
#: plans, covering every family module in ``polla_spark.plans``.
DEDUP = ["q53_lsh_candidate_pairs", "q67_dedup_components", "q190_containment_join"]
ANALYTICS = ["q01_pricing_summary", "q72_sessionize", "q44_consensus_decision"]
#: The tables these queries read, copied unchanged from the repository's
#: seed-42 sf0.01 test data (``TESTDATA.md``); ``--seed`` sets the
#: query order.
DATA = HERE / "data" / "sf0.01"
PLAN_MODULES = ("llmdata", "relational", "windows_q", "consensus_q")

#: Session rebuilds in the running JVM at the end of a traced run.
REBUILD_CYCLES = 2
#: More days than any run reaches; each call takes seconds.
MAX_DAYS = 200
#: Warm daily calls come in whole cycles of the planted outcomes, so
#: every run times the same mix.
CYCLE = len(gen.OUTCOMES)
#: Fewest warm operations per run: one cycle of daily calls, one query
#: pass. Traced runs make two cycles (each outcome once traced, once
#: untraced) or three passes (traced, untraced, traced, so a linear
#: warm-up trend cancels out of ``trace.overhead_s``).
MIN_WARM_OPS = {"daily_run": CYCLE, "queries": 1}
TRACED_MIN_WARM_OPS = {"daily_run": 2 * CYCLE, "queries": 3}

END_TO_END = {
    "setup_s": "s", "cold_op_s": "s", "warm_op_s": "s", "warm_geomean_s": "s",
}
PER_LAYER = {
    "session.jvm_launch_s": "s", "session.build_s": "s", "session.warmup_s": "s",
    "session.jvm_heap_peak_mb": "MiB",
    "sources.parse_ms": "ms", "sources.collect_s": "s", "sources.to_df_s": "s",
    "sources.to_df_cold_s": "s",
    "consensus.build_s": "s", "consensus.build_jobs": "count",
    "consensus.build_cold_s": "s",
    "pipeline.state_load_s": "s", "pipeline.collect_s": "s", "pipeline.artifacts_s": "s",
    **{f"spark.{c}": ("ms" if c.endswith("_ms") else "bytes" if c.endswith("_bytes")
                      else "count") for c in spans.SPARK_COUNTERS},
    "spark.exec_share": "ratio",
    **{f"plans.{m}.{k}_s": "s" for m in PLAN_MODULES for k in ("construct", "execute")},
    "plans.dedup_suite_s": "s", "plans.analytics_suite_s": "s",
    "plans.q190_median_s": "s", "plans.q190_spread": "ratio",
    "cache.persisted_after": "count", "cache.stored_bytes_after": "bytes",
    "trace.overhead_s": "s",
}


class Run:
    """One benchmark run: the session, the tracer and the tallies."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool) -> None:
        self.workload, self.seed, self.seconds, self.traced = workload, seed, seconds, traced
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.probe: spans.SparkProbe | None = None
        self.tracer = spans.Tracer()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        #: checked outputs, in order: what a traced run must reproduce
        self.outputs: list[tuple] = []
        #: one record per operation: kind, wall, traced, spark counters, items
        self.ops: list[dict] = []
        #: (build, warm-up) seconds; the first build launches the JVM
        self.setups: list[tuple[float, float]] = []
        self.heap_peak_mb = 0.0

    # -- session ----------------------------------------------------------

    def _build(self) -> None:
        """(Re)build the session and run a one-shuffle warm-up."""
        from polla_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(WORK / "spark-local"),
        }
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=self.cores, extra_conf=conf)
        t1 = time.perf_counter()
        self.spark.range(1 << 16).selectExpr("id % 97 AS k").groupBy("k").count().collect()
        self.setups.append((t1 - t0, time.perf_counter() - t1))

    def setup(self) -> None:
        """Launch the JVM, build the session and warm it up, as a fresh
        process does before its first operation."""
        self._build()
        self.probe = spans.SparkProbe(self.spark)
        self.tracer = spans.Tracer(self.probe.jobs_submitted)

    def rebuild(self) -> None:
        """Rebuild the session REBUILD_CYCLES times in the running JVM,
        after the operations, so ``session.build_s`` has samples without
        a JVM launch. Records the heap peak of the operations first."""
        self.heap_peak_mb = self.probe.heap_peak_mb()
        for _ in range(REBUILD_CYCLES):
            self._build()

    def shutdown(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None

    # -- operations -------------------------------------------------------

    def op(self, kind: str, traced: bool, body) -> dict:
        """Run ``body`` as one operation. ``body`` returns its timed
        items ({name: seconds}); traced operations also get spans and
        the Spark counters of their job group."""
        op_id = f"{self.workload}-{self.seed}-{len(self.ops)}"
        rec = {"op": op_id, "kind": kind, "traced": traced}
        if traced:
            self.tracer.op = op_id
            self.tracer.install()
            self.probe.set_group(op_id)
        t0 = time.perf_counter()
        try:
            rec["items"] = body()
        finally:
            rec["wall"] = time.perf_counter() - t0
            if traced:
                self.tracer.uninstall()
                self.probe.clear_group()
                self.tracer.op = None
        if traced:
            rec["spark"] = self.probe.group_counters(op_id)
        print(f"op {op_id} {kind} traced={traced} wall={rec['wall']:.3f} "
              f"items={json.dumps({k: round(v, 3) for k, v in rec['items'].items()})}",
              file=sys.stderr)
        self.ops.append(rec)
        return rec

    def span(self, name: str, **attrs):
        """A span in the current traced operation; a no-op when untraced."""
        return self.tracer.span(name, **attrs) if self.tracer.op else nullcontext()

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)
        print(f"FAILED {what}", file=sys.stderr)

    def warm_loop(self, body, unit: int = 1, traced=lambda n: n % 2 == 0) -> None:
        """Warm operations, in whole multiples of ``unit``, until
        ``seconds`` have passed and at least MIN_WARM_OPS (or, traced,
        TRACED_MIN_WARM_OPS) were made. Under tracing, warm operation
        ``n`` is traced when ``traced(n)``."""
        least = (TRACED_MIN_WARM_OPS if self.traced else MIN_WARM_OPS)[self.workload]
        start = time.perf_counter()
        n = 0
        while n < least or n % unit or time.perf_counter() - start < self.seconds:
            self.op("warm", self.traced and traced(n), body)
            n += 1


# -- daily_run ----------------------------------------------------------------

def traced_daily_call(days: list[gen.Day], n: int) -> bool:
    """Whether warm call ``n`` (day ``n + 1``) of a traced run is traced.
    Cycle c traces the outcomes of one parity and cycle c + 1 the others,
    so over two cycles each outcome is timed once traced and once
    untraced."""
    return (n // CYCLE + gen.OUTCOMES.index(days[n + 1].outcome)) % 2 == 0


def daily_run(run: Run) -> None:
    from polla_spark.errors import ParseError
    from polla_spark.pipeline import run_pipeline
    from polla_spark.sources.pozos import parse_openloto_html, parse_polla_html

    days = gen.daily_plan(run.seed, MAX_DAYS)
    out = Path(tempfile.mkdtemp(prefix=f"daily-{run.seed}-", dir=WORK))
    paths = dict(
        raw_dir=out / "raw",
        normalized_path=out / "normalized.jsonl",
        comparison_report_path=out / "comparison_report.json",
        summary_path=out / "run_summary.json",
        state_path=out / "last_run.jsonl",
    )

    def loaders(day: gen.Day) -> dict:
        def load(name: str, parse, html: str):
            def loader(**_kw):
                with run.span("sources.parse"):
                    if day.failing == name:
                        raise ParseError(f"{name} unavailable")
                    return parse(html)
            return loader

        return {
            "openloto": load("openloto", parse_openloto_html, day.openloto_html),
            "polla": load("polla", parse_polla_html, day.polla_html),
        }

    def call() -> dict[str, float]:
        i = len(run.ops)
        day = days[i]
        run.attempted += 1
        t0 = time.perf_counter()
        try:
            with run.span("pipeline.run"):
                summary = run_pipeline(run.spark, sources=["all"], loaders=loaders(day), **paths)
        except Exception as exc:  # noqa: BLE001 — counted, reported, run continues
            run.fail(f"day {i} ({day.outcome}): {type(exc).__name__}: {exc}")
            return {}
        elapsed = time.perf_counter() - t0
        record = json.loads(paths["normalized_path"].read_text(encoding="utf-8"))
        got = (summary["decision"]["status"], record["confidence"], record["pozos_proximo"])
        run.outputs.append((i, got))
        if got != (day.status, day.confidence, day.pozos):
            run.fail(f"day {i} ({day.outcome}): got {got[:2]}, planted "
                     f"{(day.status, day.confidence)}; pozos equal: {got[2] == day.pozos}")
        return {day.outcome: elapsed}

    try:
        run.op("cold", run.traced, call)
        run.warm_loop(call, CYCLE, lambda n: traced_daily_call(days, n))
    finally:
        shutil.rmtree(out, ignore_errors=True)


# -- queries ------------------------------------------------------------------

def queries(run: Run, data: Path, answers: dict[str, tuple[str, int]]) -> None:
    from polla_spark.plans import registry

    reg = registry()
    order = DEDUP + ANALYTICS
    random.Random(run.seed).shuffle(order)
    data_dir = str(data)

    def one(name: str, cold: bool) -> float | None:
        q = reg[name]
        module = q.spark.__module__.rsplit(".", 1)[-1]
        run.spark.catalog.clearCache()
        run.attempted += 1
        t0 = time.perf_counter()
        try:
            with run.span(f"plans.{module}.construct", query=name):
                df = q.spark(run.spark, data_dir)
            with run.span(f"plans.{module}.execute", query=name):
                if cold:
                    result = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 — counted, reported, run continues
            run.fail(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
            return None
        elapsed = time.perf_counter() - t0
        if run.tracer.op:
            n, held = run.probe.cached()
            with run.span("cache.after", query=name, persisted=n, bytes=held):
                pass
        if cold:
            got = oracle.result_hash(result)
            run.outputs.append((name, got))
            if got != answers[name]:
                run.fail(f"{name}: result {got} differs from the oracle's {answers[name]}")
        return elapsed

    def pass_(cold: bool):
        def body() -> dict[str, float]:
            times = {name: one(name, cold) for name in order}
            return {k: v for k, v in times.items() if v is not None}
        return body

    run.op("cold", run.traced, pass_(True))
    run.warm_loop(pass_(False))


# -- metrics ------------------------------------------------------------------

def end_to_end(run: Run) -> dict[str, float]:
    cold = [r for r in run.ops if r["kind"] == "cold"]
    warm = [r for r in run.ops if r["kind"] == "warm" and r["items"]]
    if not cold or not cold[0]["items"] or not warm:
        raise RuntimeError("no successful cold and warm operations to report")
    setup = sum(run.setups[0])
    cold_s = sum(cold[0]["items"].values())
    per_item = _per_item(warm)
    if run.workload == "daily_run":
        samples = [t for r in warm for t in r["items"].values()]
        warm_s, geo = statistics.median(samples), statistics.geometric_mean(samples)
    else:
        warm_s, geo = sum(per_item.values()), statistics.geometric_mean(list(per_item.values()))
    return {"setup_s": setup, "cold_op_s": cold_s, "warm_op_s": warm_s, "warm_geomean_s": geo}


def _per_item(ops: list[dict]) -> dict[str, float]:
    samples: dict[str, list[float]] = {}
    for r in ops:
        for k, v in r["items"].items():
            samples.setdefault(k, []).append(v)
    return {k: statistics.median(v) for k, v in samples.items()}


def _op_layers(run: Run, rec: dict) -> dict[str, float]:
    """Per-layer values of one traced operation."""
    recs = run.tracer.op_spans(rec["op"])
    out: dict[str, float] = {
        "sources.parse_ms": 1e3 * spans.span_total(recs, "sources.parse"),
        "sources.collect_s": spans.span_total(recs, "sources.collect"),
        "sources.to_df_s": spans.span_total(recs, "sources.to_df"),
        "consensus.build_s": spans.span_total(recs, "consensus."),
        "consensus.build_jobs": spans.span_jobs(recs, "consensus."),
        "pipeline.state_load_s": spans.span_total(recs, "pipeline.state_load"),
        "pipeline.collect_s": sum(
            s["end"] - s["start"] for s in recs
            if s["name"] == "spark.collect" and spans.under(recs, s, "pipeline.run")
        ),
        "pipeline.artifacts_s": spans.self_time(recs, "pipeline.run"),
        "cache.persisted_after": sum(s.get("persisted", 0) for s in recs),
        "cache.stored_bytes_after": sum(s.get("bytes", 0) for s in recs),
    }
    for m in PLAN_MODULES:
        for k in ("construct", "execute"):
            out[f"plans.{m}.{k}_s"] = spans.span_total(recs, f"plans.{m}.{k}")
    counters = rec["spark"]
    out.update({f"spark.{k}": v for k, v in counters.items()})
    busy_s = sum(rec["items"].values())
    out["spark.exec_share"] = counters["executor_run_ms"] / (1e3 * busy_s * run.cores)
    return out


def per_layer(run: Run) -> dict[str, float]:
    cold = next(r for r in run.ops if r["kind"] == "cold")
    warm = [r for r in run.ops if r["kind"] == "warm" and r["items"]]
    traced = [r for r in warm if r["traced"]]
    untraced = [r for r in warm if not r["traced"]]
    layers = [_op_layers(run, r) for r in traced]
    out = {k: statistics.median([lay[k] for lay in layers]) for k in layers[0]}
    cold_layers = _op_layers(run, cold)
    out["sources.to_df_cold_s"] = cold_layers["sources.to_df_s"]
    out["consensus.build_cold_s"] = cold_layers["consensus.build_s"]
    (launch, warmup), rebuilds = run.setups[0], run.setups[1:]
    out["session.jvm_launch_s"] = launch
    out["session.build_s"] = statistics.median([b for b, _ in rebuilds])
    out["session.warmup_s"] = warmup
    out["session.jvm_heap_peak_mb"] = run.heap_peak_mb
    per_item = _per_item(warm)
    out["plans.dedup_suite_s"] = sum(per_item.get(q, 0.0) for q in DEDUP)
    out["plans.analytics_suite_s"] = sum(per_item.get(q, 0.0) for q in ANALYTICS)
    q190 = [r["items"]["q190_containment_join"] for r in warm
            if "q190_containment_join" in r["items"]]
    out["plans.q190_median_s"] = statistics.median(q190) if q190 else 0.0
    out["plans.q190_spread"] = max(q190) / min(q190) - 1 if q190 else 0.0
    # per item (outcome or query): median traced minus median untraced;
    # a daily operation is one call, a query operation a whole pass
    t_items, u_items = _per_item(traced), _per_item(untraced)
    diffs = [v - u_items[k] for k, v in t_items.items() if k in u_items]
    combine = statistics.fmean if run.workload == "daily_run" else sum
    out["trace.overhead_s"] = combine(diffs) if diffs else 0.0
    return out


def report(run: Run, metrics: dict[str, float], units: dict[str, str]) -> dict:
    warm = sum(1 for r in run.ops if r["kind"] == "warm")
    for name, unit in units.items():
        print(f"metric {run.workload} {name} {metrics[name]!r} {unit}")
    print(f"metric {run.workload} fail_ratio {run.failed / max(run.attempted, 1)!r} "
          f"ratio attempted={run.attempted} warm_ops={warm} cores={run.cores}")
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env() -> None:
    """Keep every file Spark, its JVMs and this process write under WORK,
    and out of /tmp."""
    for d in ("tmp", "spark-local"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    tempfile.tempdir = None
    # every JVM: temp files under WORK, and no hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(WORK / "warehouse")


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    import polla_spark  # fail before any work when the program is absent

    if Path(polla_spark.__file__).resolve().parent.parent != ROOT:
        raise SystemExit(f"polla_spark imported from {polla_spark.__file__}, not this checkout")
    prepare_env()
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    if run.workload == "queries":
        from polla_spark.plans import registry

        reg = registry()
        answers = oracle.oracle_hashes(
            {q: reg[q].oracle for q in DEDUP + ANALYTICS}, DATA, WORK / "oracle"
        )
    try:
        run.setup()
        if run.workload == "daily_run":
            daily_run(run)
        else:
            queries(run, DATA, answers)
        if run.traced:
            run.rebuild()
            metrics, units = per_layer(run), PER_LAYER
            run.tracer.write(WORK / "spans" / f"{run.workload}-seed{run.seed}.jsonl")
        else:
            metrics, units = end_to_end(run), END_TO_END
    finally:
        run.shutdown()
    result = report(run, metrics, units)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
