"""Spans around the program's public layer functions, and Spark's own
per-job-group counters.

Tracing is applied from outside: :class:`Tracer` rebinds public
functions of ``polla_spark`` (and ``DataFrame.collect``) to wrappers
that record a span per call, and restores them afterwards. Nothing in
the program changes. Spans of one operation share its ``op`` id; a
span's ``parent`` is the span that was open when it started. Spans
stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from contextlib import contextmanager
from pathlib import Path

#: (module, attribute, span name): the layer boundaries that get spans.
LAYER_FUNCTIONS = [
    ("polla_spark.pipeline", "collect_payloads", "sources.collect"),
    ("polla_spark.pipeline", "payloads_to_df", "sources.to_df"),
    ("polla_spark.pipeline", "load_state_df", "pipeline.state_load"),
    ("polla_spark.operators.consensus", "normalized_records", "consensus.normalized_records"),
    ("polla_spark.operators.consensus", "with_unchanged", "consensus.with_unchanged"),
    ("polla_spark.operators.consensus", "decide", "consensus.decide"),
    ("polla_spark.operators.consensus", "consensus", "consensus.consensus"),
    ("pyspark.sql.classic.dataframe", "DataFrame.collect", "spark.collect"),
]


class Tracer:
    """In-memory span recorder. ``jobs`` returns the number of Spark
    jobs submitted so far; it stamps every span, so a span's job count
    is the work it started eagerly."""

    def __init__(self, jobs=lambda: 0) -> None:
        self.spans: list[dict] = []
        self.op: str | None = None
        self._stack: list[int] = []
        self._jobs = jobs
        self._saved: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "op": self.op,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "jobs_start": self._jobs(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["jobs_end"] = self._jobs()
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Rebind every layer function to a span-recording wrapper."""
        for module, attr, name in LAYER_FUNCTIONS:
            owner = importlib.import_module(module)
            *path, leaf = attr.split(".")
            for part in path:
                owner = getattr(owner, part)
            original = getattr(owner, leaf)
            self._saved.append((owner, leaf, original))
            setattr(owner, leaf, self.wrap(original, name))

    def uninstall(self) -> None:
        while self._saved:
            owner, leaf, original = self._saved.pop()
            setattr(owner, leaf, original)

    def op_spans(self, op: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op]

    def write(self, path: Path) -> None:
        """Write every span as one JSON line, with its duration and self time."""
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w", encoding="utf-8") as fh:
            for s, own in zip(self.spans, self_times(self.spans)):
                fh.write(json.dumps({**s, "dur_s": s["end"] - s["start"], "self_s": own}) + "\n")


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the time its direct children cover
    (children of one span run one after another)."""
    index = {s["id"]: i for i, s in enumerate(spans)}
    out = [s["end"] - s["start"] for s in spans]
    for s in spans:
        if s["parent"] in index:
            out[index[s["parent"]]] -= s["end"] - s["start"]
    return out


def under(spans: list[dict], span: dict, name: str) -> bool:
    """Whether ``span`` runs inside a span called ``name``."""
    by_id = {s["id"]: s for s in spans}
    p = span["parent"]
    while p in by_id:
        if by_id[p]["name"] == name:
            return True
        p = by_id[p]["parent"]
    return False


def outermost(spans: list[dict], prefix: str) -> list[dict]:
    """Spans whose name starts with ``prefix`` and that do not run
    inside another such span, so nested calls are not counted twice."""
    by_id = {s["id"]: s for s in spans}

    def nested(s) -> bool:
        p = s["parent"]
        while p in by_id:
            if by_id[p]["name"].startswith(prefix):
                return True
            p = by_id[p]["parent"]
        return False

    return [s for s in spans if s["name"].startswith(prefix) and not nested(s)]


def span_total(spans: list[dict], prefix: str) -> float:
    """Seconds inside the outermost spans matching ``prefix``."""
    return sum(s["end"] - s["start"] for s in outermost(spans, prefix))


def span_jobs(spans: list[dict], prefix: str) -> int:
    """Spark jobs started inside the outermost spans matching ``prefix``."""
    return sum(s["jobs_end"] - s["jobs_start"] for s in outermost(spans, prefix))


def self_time(spans: list[dict], name: str) -> float:
    """Summed self time of the spans called ``name``."""
    return sum(t for s, t in zip(spans, self_times(spans)) if s["name"] == name)


# -- Spark status store ------------------------------------------------------

SPARK_COUNTERS = (
    "jobs", "stages", "stages_skipped", "tasks", "executor_run_ms",
    "executor_cpu_ms", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "input_bytes", "output_bytes",
)


class SparkProbe:
    """Reads job, stage and storage counters out of the driver JVM.

    The status store is filled by the listener bus asynchronously, so
    :meth:`group_counters` drains the bus before reading."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._ssc = self._sc._jsc.sc()
        self._jvm = spark._jvm
        self._gateway = self._sc._gateway

    def jobs_submitted(self) -> int:
        return int(self._ssc.dagScheduler().nextJobId())

    def set_group(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self._sc.setLocalProperty("spark.jobGroup.id", None)
        self._sc.setLocalProperty("spark.job.description", None)

    def group_counters(self, group: str) -> dict[str, float]:
        from py4j.protocol import Py4JJavaError

        self._ssc.listenerBus().waitUntilEmpty()
        store = self._ssc.statusStore()
        no_quantiles = self._gateway.new_array(self._jvm.double, 0)
        out = dict.fromkeys(SPARK_COUNTERS, 0)
        stage_ids: set[int] = set()
        for jid in self._sc.statusTracker().getJobIdsForGroup(group):
            out["jobs"] += 1
            job = store.job(jid)
            ids = job.stageIds()
            stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
        for sid in sorted(stage_ids):
            out["stages"] += 1
            try:
                attempts = store.stageData(sid, False, self._jvm.java.util.ArrayList(),
                                           False, no_quantiles)
            except Py4JJavaError:  # never submitted: skipped
                out["stages_skipped"] += 1
                continue
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.status().toString() == "SKIPPED":
                    out["stages_skipped"] += 1
                    continue
                out["tasks"] += st.numCompleteTasks()
                out["executor_run_ms"] += st.executorRunTime()
                out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
                out["gc_ms"] += st.jvmGcTime()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["input_bytes"] += st.inputBytes()
                out["output_bytes"] += st.outputBytes()
        return out

    def cached(self) -> tuple[int, int]:
        """(persisted RDDs still registered, bytes they hold)."""
        n = self._sc._jsc.getPersistentRDDs().size()
        held = sum(i.memSize() + i.diskSize() for i in self._ssc.getRDDStorageInfo())
        return int(n), int(held)

    def heap_peak_mb(self) -> float:
        pools = self._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        return sum(p.getPeakUsage().getUsed() for p in pools) / 2**20
