"""Declared query inventory: every operator family from SURVEY.md §2.6.

Each :class:`Query` pairs a Spark DataFrame plan with the ANSI-SQL
oracle DuckDB runs over the same parquet tables. Determinism rules
(SURVEY.md §2.6 notes):

- money/double aggregates go through exact arithmetic (DECIMAL
  intermediates, or floor-quantized BIGINT for float columns) so the
  result is identical regardless of row order or engine;
- every collected list is explicitly sorted; every top-k has a unique
  tie-break key; timestamps are emitted as formatted strings/dates;
- column names are identical on both sides (the driver sorts columns
  by name and hashes values).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


# Declared inventory size. MUST be bumped in the SAME commit that adds
# queries to any family module — tests/test_registry.py pins
# len(registry()) == DECLARED_QUERY_COUNT so an addition that forgets
# the bump (or a bump without queries) fails fast instead of silently
# shipping an undeclared inventory.
# NOTE: query ids span q01–q239 with q139 intentionally unassigned
# (a numbering skip from round 3, not a dropped query) — hence 238
# registered queries over a 240-wide id range.
DECLARED_QUERY_COUNT = 238

# Rows-only queries: implemented but intentionally without a SQL
# oracle (non-SQL-expressible semantics — q38: HLL sketch values are
# implementation-defined; q177/q178/q202: MG estimates /
# quantile-sketch values are partitioning-, merge-order- or
# implementation-dependent, so each query self-verifies its published
# guarantee in-plan instead). Everything else must pair with an
# ANSI-SQL oracle string.
ROWS_ONLY_QUERIES = frozenset(
    {
        "q38_approx_count_distinct",
        "q177_heavy_hitters_sketch",
        "q178_approx_percentile_check",
        "q202_quantile_merge_order",
    }
)


@dataclass(frozen=True)
class Query:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None => non-SQL-expressible; rows-only check
    doc: str = ""


def _certified_rounds() -> dict[str, int]:
    """Map query name -> NEWEST driver round whose
    ``CORRECTNESS_r*.json`` has a green row for it. Used only to ORDER
    the registry (least-recently-certified first) — correctness itself
    is unaffected. Queries absent from the map have never been
    driver-certified."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    rounds: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as fh:
                data = json.load(fh)
        except (OSError, ValueError):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            # Green = oracle hash/row match, OR a rows-only query
            # (err == "no_oracle") that produced rows — the driver
            # records rows-only entries with rows_match null, so
            # without this clause q38/q177/q178 sort as round-0 and
            # permanently pre-empt 3 rotation slots every round
            # (round-5 verdict "what's wrong" #1).
            green = bool(row.get("hash_match") or row.get("rows_match")) or (
                row.get("err") == "no_oracle" and (row.get("spark_rows") or 0) > 0
            )
            if green:
                rounds[name] = max(rounds.get(name, 0), rnd)
    return rounds


def _driver_certified() -> frozenset[str]:
    """Query names with a green row in ANY driver round (back-compat
    view of :func:`_certified_rounds`)."""
    return frozenset(_certified_rounds())


def registry() -> dict[str, Query]:
    """All declared queries, keyed by name (assembled lazily so heavy
    modules import only when the inventory is requested).

    Ordering serves the driver's TIME-BUDGETED correctness sweep
    (~50 queries/round, run in registry order):

    1. Base order ROUND-ROBINS across the family modules (relational,
       consensus, llm-data, windows) rather than
       concatenating them, so any truncated sweep samples every
       family instead of grading one module and skipping the rest.
    2. A stable sort then orders by the NEWEST driver round each
       query went green in (``CORRECTNESS_r*.json``), ascending —
       never-certified queries (round 0) first, then the queries
       whose last green row is OLDEST. With everything certified the
       sweep becomes a rolling re-validation: each round re-checks
       the ~50 least-recently-certified queries, so code drift in a
       long-certified query is caught within a few rounds instead of
       never (round-4 verdict task #1 — the plain uncertified-first
       partition had degenerated to re-checking a fixed prefix).
    """
    from itertools import zip_longest

    from . import consensus_q, llmdata, relational, windows_q

    out: dict[str, Query] = {}
    lists = [list(m.QUERIES) for m in (relational, consensus_q, llmdata, windows_q)]
    for group in zip_longest(*lists):
        for q in group:
            if q is None:
                continue
            if q.name in out:
                raise ValueError(f"duplicate query name: {q.name}")
            out[q.name] = q
    rounds = _certified_rounds()
    ordered = sorted(
        out.values(),
        key=lambda q: 0 if q.name in RECERTIFY else rounds.get(q.name, 0),
    )  # stable
    return {q.name: q for q in ordered}


# Queries whose RESULT SHAPE changed after their newest green round:
# their certification record is stale, so they sort as never-certified
# until the driver re-greens them. r10's q219 entry (the 4-row grid
# reshape) went hash-green in CORRECTNESS_r10 and was removed; r11's
# q222 entry (the planted mid-similarity cohort) went hash-green in
# CORRECTNESS_r11 and was removed. Currently empty — the rotation is
# purely least-recently-certified, which puts the r7 tier (q77-q104,
# q120, q125-q128, q136, q147-q150, q202-q207) at the front for r12.
RECERTIFY: frozenset[str] = frozenset()
