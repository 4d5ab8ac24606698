"""Subprocess CLI e2e (reference tests/e2e/test_verification_suite.py
shape): real `python -m polla_spark` invocations. Spark-starting paths
are covered in-process by test_pipeline_e2e.py; these check the CLI
contract itself (help, flags, offline probes, error surfaces) without
paying a JVM per test."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def run_cli(*args: str, env: dict | None = None) -> subprocess.CompletedProcess:
    """Run the CLI in a child. Its cache dir cannot be created (a path
    under a file), so a child that launches a JVM launches plain and
    never builds a class archive at exit, which the timeout would cut."""
    import os

    full_env = {**os.environ, "XDG_CACHE_HOME": os.devnull, **(env or {})}
    return subprocess.run(
        [sys.executable, "-m", "polla_spark", *args],
        capture_output=True,
        text=True,
        cwd=ROOT,
        timeout=120,
        env=full_env,
    )


def test_alt_source_urls_env_bad_json_is_clean_error():
    res = run_cli("run", env={"ALT_SOURCE_URLS": "{not json"})
    assert res.returncode != 0
    assert "invalid ALT_SOURCE_URLS JSON" in res.stderr
    assert "Traceback" not in res.stderr


def test_help_lists_all_commands():
    res = run_cli("--help")
    assert res.returncode == 0
    for cmd in ("run", "publish", "pozos", "health"):
        assert cmd in res.stdout


def test_run_help_lists_reference_flags():
    res = run_cli("run", "--help")
    assert res.returncode == 0
    for flag in ("--sources", "--source-url", "--retries", "--timeout",
                 "--fail-fast", "--raw-dir", "--normalized", "--state-file",
                 "--log-file", "--mismatch-threshold", "--include-pozos",
                 "--force-publish"):
        assert flag in res.stdout, flag


def test_health_offline_json():
    res = run_cli("health", "--offline")
    assert res.returncode == 0
    payload = json.loads(res.stdout)
    assert payload["status"] == "pass"
    assert payload["checks"]["pyspark"]["status"] == "pass"


def test_bad_source_url_flag_is_clean_error():
    res = run_cli("run", "--source-url", "bogus")
    assert res.returncode != 0
    assert "expected source=url" in res.stderr


def test_unknown_source_is_clean_error():
    res = run_cli("run", "--sources", "nosuch")
    assert res.returncode != 0
    assert "unknown source: nosuch" in res.stderr
    assert "Traceback" not in res.stderr


def test_publish_missing_artifact_is_clean_error():
    res = run_cli("publish", "--normalized", "/nonexistent.jsonl",
                  "--comparison-report", "/also-missing.json", "--dry-run")
    assert res.returncode != 0
    assert "artifact not found" in res.stderr
    assert "Traceback" not in res.stderr


def test_run_bulk_decides_n_runs_in_one_job(tmp_path):
    """`run --bulk payloads.jsonl` must drive run_pipeline_bulk: N
    distinct run_ids decided in ONE Spark job, artifacts written
    executor-side, per-status census on stdout (this is the only
    Spark-starting subprocess test — it certifies the bulk CLI path
    end-to-end)."""
    payloads = tmp_path / "payloads.jsonl"
    rows = []
    for run_i in range(3):
        for prio, name in enumerate(["s1", "s2"]):
            rows.append({
                "run_id": f"r{run_i}",
                "source_name": name,
                "source_priority": prio,
                "fuente": f"https://x/{name}",
                "fetched_at": "2026-05-01T12:00:00.000Z",
                "sha256": f"sha_{name}_r{run_i}",
                "estimado": True,
                "user_agent": "ua",
                "sorteo": 6000 + run_i,
                "fecha": "2026-05-03",
                "montos": {"Loto Clásico": 100 + run_i},
            })
    payloads.write_text("\n".join(json.dumps(r, ensure_ascii=False) for r in rows))
    out = tmp_path / "bulk_out"
    res = run_cli(
        "run", "--bulk", str(payloads), "--output-dir", str(out),
        "--expected-sources", "2",
        "--state-file", str(tmp_path / "no_state.jsonl"),
        env={"SPARK_GRAFT_CPUS": "4"},
    )
    assert res.returncode == 0, res.stderr[-2000:]
    summary = json.loads(res.stdout[res.stdout.index("{"):])
    assert summary["mode"] == "bulk" and summary["runs"] == 3
    assert summary["by_status"] == {"publish": 3}
    # executor-written artifacts exist and carry one decision per run
    decision_rows = []
    for p in (out / "decisions").glob("part-*"):
        decision_rows += [json.loads(l) for l in p.read_text().splitlines() if l]
    assert {r["run_id"] for r in decision_rows} == {"r0", "r1", "r2"}


def test_run_bulk_rejects_source_url():
    res = run_cli("run", "--bulk", "x.jsonl", "--source-url", "openloto=skip")
    assert res.returncode != 0
    assert "--source-url does not apply" in res.stderr


def test_deprecated_include_pozos_warns():
    res = run_cli("run", "--no-include-pozos", "--sources", "openloto",
                  "--source-url", "openloto=skip")
    # deprecation warning surfaces on stderr (reference __main__.py:167-173)
    assert "deprecated" in res.stderr.lower()
