"""End-to-end ingest -> consensus -> decide -> artifacts pipeline.

The orchestration mirror of reference polla_app/pipeline.py:531-578 /
352-527, with the data path entirely on Spark:

  collect_payloads (driver I/O, per-source isolation)
    -> payload DataFrame -> consensus/normalize (operators.consensus)
    -> delta vs state -> decide -> single decision row to the driver
    -> artifacts (raw per-source JSON, normalized+state JSONL, report,
       summary) -> notifiers (gated on the collected decision row).

External effects (artifact writes, Slack) happen strictly AFTER the
decision row is collected — executors never perform side effects
(SURVEY.md §7.4 #7). For the 2-source daily workload artifacts are
single records written driver-side; bulk/multi-run mode writes the
DataFrames directly (``df.write.json``) instead.
"""

from __future__ import annotations

import datetime as dt
import json
import uuid
from pathlib import Path
from typing import Any

from pyspark.sql import Row, SparkSession
from pyspark.sql import functions as F

from . import API_VERSION
from .operators import consensus as C
from .schemas import CATEGORY_LABELS, STATE_ROW
from .session import local_frame
from .sources.pozos import collect_payloads, normalize_sources, payloads_to_df


def _write_json(path: Path, payload: Any) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(payload, ensure_ascii=False, indent=2), encoding="utf-8")


def _write_jsonl(path: Path, rows: list[dict]) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    with path.open("w", encoding="utf-8") as fh:
        for row in rows:
            fh.write(json.dumps(row, ensure_ascii=False))
            fh.write("\n")


def load_state_df(spark: SparkSession, state_path: Path):
    """Previous normalized records -> STATE_ROW frame; blank/corrupt
    lines skipped (reference pipeline.py:66-79)."""
    rows = []
    if state_path.exists():
        for line in state_path.read_text(encoding="utf-8").splitlines():
            line = line.strip()
            if not line:
                continue
            try:
                rec = json.loads(line)
            except json.JSONDecodeError:
                continue
            prov = (rec.get("provenance") or {}).get("pozos") or {}
            rows.append(
                {
                    "sorteo": rec.get("sorteo"),
                    "fecha": dt.date.fromisoformat(rec["fecha"])
                    if rec.get("fecha")
                    else None,
                    "primary_sha256": (prov.get("primary") or {}).get("sha256"),
                    "pozos_proximo": {
                        str(k): int(v)
                        for k, v in (rec.get("pozos_proximo") or {}).items()
                    },
                }
            )
    return local_frame(spark, rows, STATE_ROW)


def _record_from_row(row: Row, run_id: str) -> dict[str, Any]:
    """Collected normalized row -> the reference's JSON record shape
    (pipeline.py:409-417)."""
    prov = row["provenance"]["pozos"]

    def desc(d) -> dict[str, Any] | None:
        if d is None:
            return None
        return {
            "fuente": d["fuente"],
            "fetched_at": d["fetched_at"].isoformat() if d["fetched_at"] else None,
            "sha256": d["sha256"],
            "user_agent": d["user_agent"],
            "estimado": d["estimado"],
            "sorteo": d["sorteo"],
            "fecha": d["fecha"].isoformat() if d["fecha"] else None,
            "source_name": d["source_name"],
        }

    out_prov: dict[str, Any] = {"primary": desc(prov["primary"])}
    alternatives = [desc(a) for a in (prov["alternatives"] or [])]
    if alternatives:
        out_prov["alternatives"] = alternatives

    # Map key order does not survive the Python->JVM dict round-trip
    # (HashMap), so pin artifact key order to the canonical label list
    # (unknown categories after, alphabetically) — deterministic output
    # regardless of task ordering.
    rank = {lab: i for i, lab in enumerate(CATEGORY_LABELS)}
    pozos = dict(
        sorted(
            dict(row["pozos_proximo"]).items(),
            key=lambda kv: (rank.get(kv[0], len(rank)), kv[0]),
        )
    )
    return {
        "run_id": run_id,
        "api_version": API_VERSION,
        "sorteo": row["sorteo"],
        "fecha": row["fecha"].isoformat() if row["fecha"] else None,
        "fuente": row["fuente"],
        "confidence": row["confidence"],
        "premios": [],
        "pozos_proximo": pozos,
        "provenance": {"pozos": out_prov},
    }


def _mismatch_records(mismatch_rows: list[Row]) -> list[dict[str, Any]]:
    out = []
    for m in mismatch_rows:
        rec: dict[str, Any] = {
            "categoria": m["categoria"],
            "consensus": {str(m["winner_valor"]): list(m["winner_voters"])},
            "disagreeing": {k: list(v) for k, v in (m["disagreeing"] or {}).items()},
            "missing_sources": list(m["missing_sources"]),
        }
        if m["max_deviation"] is not None:
            rec["max_deviation"] = m["max_deviation"]
        out.append(rec)
    return out


def run_pipeline(
    spark: SparkSession,
    *,
    sources: list[str] | None = None,
    source_overrides: dict[str, str] | None = None,
    raw_dir: str | Path = "artifacts/raw",
    normalized_path: str | Path = "artifacts/normalized.jsonl",
    comparison_report_path: str | Path = "artifacts/comparison_report.json",
    summary_path: str | Path = "artifacts/run_summary.json",
    state_path: str | Path = "pipeline_state/last_run.jsonl",
    timeout: int = 30,
    retries: int = 3,
    fail_fast: bool = False,
    mismatch_threshold: float = 0.25,
    force_publish: bool = False,
    loaders: dict | None = None,
    notifier=None,
    log_path: str | Path | None = None,
) -> dict[str, Any]:
    """Run one ingest cycle; returns the summary payload
    (reference run_pipeline, pipeline.py:531-578)."""
    from .obs import JsonLogStream

    run_id = str(uuid.uuid4())
    log = JsonLogStream(log_path, correlation_id=run_id)
    log.emit("pipeline_started", sources=sources or ["all"])
    requested = normalize_sources(sources or ["all"])
    raw_dir, normalized_path = Path(raw_dir), Path(normalized_path)
    comparison_report_path, summary_path = Path(comparison_report_path), Path(summary_path)
    state_path = Path(state_path)

    payloads, failures = collect_payloads(
        requested, source_overrides, timeout=timeout, retries=retries, loaders=loaders
    )
    for f in failures:
        log.emit("source_failed", **f)
    log.emit("ingestion_complete", n_payloads=len(payloads), n_failures=len(failures))
    if not payloads:
        log.emit("pipeline_failed", reason="no_sources_returned_data")
        raise RuntimeError(f"No sources returned data for {requested}")
    if fail_fast and failures:
        raise RuntimeError(f"source failures with fail_fast: {failures}")

    pdf = payloads_to_df(spark, payloads, run_id)

    # expected count: 'pozos'/'all' expand to the registry size
    # (reference pipeline.py:391-397)
    expected = len(requested)

    normalized = C.normalized_records(pdf, expected_sources=expected)
    flagged = C.with_unchanged(normalized, load_state_df(spark, state_path))
    decided = C.decide(
        flagged, mismatch_threshold=mismatch_threshold, force_publish=force_publish
    )

    decision_rows = decided.collect()  # THE single driver-side collect
    if len(decision_rows) != 1:
        raise RuntimeError(
            f"run_pipeline expects exactly one run, got {len(decision_rows)} "
            "decision rows — use run_pipeline_bulk for multi-run frames"
        )
    decision_row = decision_rows[0]

    # --- artifacts (after decision; driver-side single records) ---
    raw_dir.mkdir(parents=True, exist_ok=True)
    for p in payloads:
        if len(requested) == 1:
            src_name = requested[0]
        else:
            from urllib.parse import urlparse

            src_name = urlparse(p.get("fuente", "")).netloc.replace(".", "_") or "source"
        _write_json(raw_dir / f"{src_name}.json", {k: v for k, v in p.items()})

    record = _record_from_row(decision_row, run_id)
    _write_jsonl(normalized_path, [record])
    _write_jsonl(state_path, [record])

    generated_at = dt.datetime.now(dt.timezone.utc).isoformat()
    decision = {
        "status": decision_row["status"],
        "confidence": decision_row["confidence"],
        "total_categories": decision_row["total_categories"],
        "mismatched_categories": decision_row["mismatched_categories"],
        "reason": decision_row["publish_reason"],
    }
    report = {
        "run": {
            "id": run_id,
            "generated_at": generated_at,
            "sources": requested,
            "timeout": timeout,
            "retries": retries,
            "fail_fast": fail_fast,
        },
        "last_draw": {"sorteo": decision_row["sorteo"],
                      "fecha": record["fecha"]},
        "decision": decision,
        "mismatches": _mismatch_records(decision_row["mismatches"]),
        "api_version": API_VERSION,
    }
    _write_json(comparison_report_path, report)

    summary = {
        "run_id": run_id,
        "generated_at": generated_at,
        "decision": decision,
        "prizes_changed": decision_row["status"] != "skip",
        "normalized_path": str(normalized_path),
        "comparison_report": str(comparison_report_path),
        "raw_dir": str(raw_dir),
        "state_path": str(state_path),
        "publish": bool(decision_row["publish"]),
        "publish_reason": decision_row["publish_reason"],
        "source_failures": failures,
        "api_version": API_VERSION,
    }
    _write_json(summary_path, summary)
    log.emit("artifacts_written", normalized=str(normalized_path),
             report=str(comparison_report_path), summary=str(summary_path))
    log.emit("decision_made", **decision)
    log.metric("pipeline_run",
               tags={"decision": decision["status"], "publish": summary["publish"]})

    if notifier is not None:
        if decision["status"] == "quarantine":
            notifier.quarantine(summary, report["mismatches"])
        else:
            notifier.run_complete(summary)
    return summary


def run_pipeline_bulk(
    spark: SparkSession,
    payloads_df,
    *,
    expected_sources: int,
    output_dir: str | Path,
    state_df=None,
    mismatch_threshold: float = 0.25,
    force_publish: bool = False,
    log_path: str | Path | None = None,
):
    """Bulk mode: N runs (distinct ``run_id``s in ``payloads_df``, a
    SOURCE_PAYLOAD frame) through consensus -> delta -> decide in ONE
    job. Artifacts are written executor-side with ``df.write.json`` —
    the driver never collects data rows; the returned decisions frame
    is one row per run for the caller to act on.

    This is the 100 TB replay/backfill shape: the consensus kernel
    resolves each run inside its own row (operators/consensus.py), so a
    million historical runs shuffle once on ``run_id`` exactly like
    one. The single-run :func:`run_pipeline` keeps the reference's
    byte-exact artifact format; bulk artifacts are JSONL rows of the
    same records (key order per Spark's ``to_json``, not the canonical
    single-run ordering).
    """
    out = Path(output_dir)
    state = state_df if state_df is not None else local_frame(spark, [], STATE_ROW)
    normalized = C.normalized_records(payloads_df, expected_sources=expected_sources)
    flagged = C.with_unchanged(normalized, state)
    decided = C.decide(
        flagged, mismatch_threshold=mismatch_threshold, force_publish=force_publish
    )
    # the run's mismatch records ride its decision row: one lineage
    mismatches = decided.select("run_id", F.inline("mismatches"))

    records = decided.select(
        "run_id",
        F.lit(API_VERSION).alias("api_version"),
        "sorteo",
        "fecha",
        "fuente",
        "confidence",
        "premios",
        "pozos_proximo",
        "provenance",
    )
    records.write.mode("overwrite").json(str(out / "normalized"))
    mismatches.write.mode("overwrite").json(str(out / "mismatches"))
    decisions = decided.select(
        "run_id",
        "status",
        "publish",
        "publish_reason",
        "confidence",
        "total_categories",
        "mismatched_categories",
        "mismatch_ratio",
        "max_deviation",
        "unchanged",
    )
    # Spark-native observability (the reference's A11 counters,
    # obs.py:94-107, lifted to the executors): the metrics ride the
    # decisions WRITE job itself — no second pass, no collect of data
    # rows, valid at any run count.
    from pyspark.sql import Observation

    observation = Observation("bulk_decisions")
    observed = decisions.observe(
        observation,
        F.count(F.lit(1)).alias("n_runs"),
        F.sum(F.when(F.col("publish"), 1).otherwise(0)).alias("n_published"),
        F.sum(
            F.when(F.col("status") == "quarantine", 1).otherwise(0)
        ).alias("n_quarantined"),
        F.sum(F.when(F.col("status") == "skip", 1).otherwise(0)).alias("n_skipped"),
    )
    observed.write.mode("overwrite").json(str(out / "decisions"))
    # SUM over zero rows observes NULL — coalesce so an empty bulk
    # run returns zeroed metrics instead of crashing after the write
    metrics = {k: int(v or 0) for k, v in observation.get.items()}
    if log_path is not None:
        from .obs import JsonLogStream

        JsonLogStream(log_path).metric(
            "pipeline_bulk_run", value=metrics["n_runs"], tags=metrics
        )
    decisions.bulk_metrics = metrics  # observed counts for the caller
    return decisions
