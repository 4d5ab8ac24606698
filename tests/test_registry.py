"""Registry invariants: unique names, oracle coverage, and the
family-interleaved ordering a time-budgeted correctness sweep relies
on (a truncated sweep must still sample every family)."""

from __future__ import annotations

from pathlib import Path

from polla_spark.plans import (
    DECLARED_QUERY_COUNT,
    ROWS_ONLY_QUERIES,
    consensus_q,
    llmdata,
    registry,
    relational,
    windows_q,
)


def test_registry_names_unique_and_oracled():
    reg = registry()
    names = list(reg)
    # the count constant lives NEXT TO the registry assembly so the
    # same commit that adds queries bumps it (r2 regression: queries
    # landed without the bump and the suite went red)
    assert len(names) == len(set(names)) == DECLARED_QUERY_COUNT
    no_oracle = {n for n, q in reg.items() if q.oracle is None}
    assert no_oracle == set(ROWS_ONLY_QUERIES)


def test_registry_interleaves_families():
    from polla_spark.plans import _driver_certified

    fam_of = {}
    for mod, fam in (
        (relational, "rel"),
        (consensus_q, "consensus"),
        (llmdata, "llm"),
        (windows_q, "win"),
    ):
        for q in mod.QUERIES:
            fam_of[q.name] = fam
    names = list(registry())
    # the driver's budgeted sweep (~50/round) runs in registry order:
    # the first 50 must sample every family that still has UNCERTIFIED
    # queries (the uncertified tier rightly jumps the queue). Once
    # everything is certified the rotation tiers (newest-green-round,
    # ascending) supersede the cross-tier round-robin: a family whose
    # queries were all re-certified in the newest round legitimately
    # drops out of the sweep prefix. The interleave guarantee that
    # remains is WITHIN-tier (stable sort preserves the family
    # round-robin), so the expectation is: every family present in a
    # rotation tier FULLY contained in the first 50 must appear there.
    from polla_spark.plans import _certified_rounds

    certified = _driver_certified()
    uncert_fams = {fam_of[n] for n in names if n not in certified}
    if uncert_fams:
        expected = uncert_fams
    else:
        rounds = _certified_rounds()
        prefix = names[:50]
        cut_round = rounds.get(prefix[-1], 0)  # tier possibly split at 50
        full_tiers = {rounds.get(n, 0) for n in prefix} - {cut_round}
        expected = {fam_of[n] for n in names if rounds.get(n, 0) in full_tiers}
    first50 = {fam_of[n] for n in names[:50]}
    assert first50 >= expected


def test_registry_rotates_least_recently_certified_first():
    """Sweep rotation (round-4 verdict task #1): registry order is
    non-decreasing in the NEWEST round each query went driver-green,
    with never-certified queries (round 0) first. A budgeted ~50-query
    sweep therefore re-validates the queries whose last green row is
    OLDEST instead of re-checking a fixed prefix forever — code drift
    in a long-certified query is caught within a few rounds. Within a
    round tier the family round-robin is preserved (stable sort)."""
    from polla_spark.plans import RECERTIFY, _certified_rounds, _driver_certified

    rounds = _certified_rounds()
    names = list(registry())
    # RECERTIFY entries (result shape changed after their last green
    # round) sort as never-certified by contract
    key = lambda n: 0 if n in RECERTIFY else rounds.get(n, 0)  # noqa: E731
    seq = [key(n) for n in names]
    # monotone non-decreasing => never-certified first, then oldest
    # green rows, then newer; tiers are contiguous by construction
    assert seq == sorted(seq), "registry not least-recently-certified-first"
    # back-compat view agrees with the rounds map
    assert _driver_certified() == frozenset(rounds)
    if rounds and max(rounds.values()) > min(rounds.values()):
        # with multi-round artifacts present (this repo: r1..r4) the
        # order must genuinely rotate: a ~50-query sweep prefix must
        # contain NO query certified in the newest round (unless its
        # shape changed and it is explicitly queued for re-sweep)
        newest = max(rounds.values())
        sweep = names[:50]
        assert all(key(n) < newest for n in sweep), (
            "sweep prefix re-checks just-certified queries"
        )


def test_rows_only_queries_certify_from_no_oracle_rows():
    """Round-5 verdict "what's wrong" #1: the driver records rows-only
    queries with ``rows_match: null`` + ``err: "no_oracle"``, so keying
    certification on hash/rows alone left q38/q177/q178 permanently
    uncertified (round 0) — they pre-empted 3 of ~50 rotation slots
    EVERY round. An err == "no_oracle" row with spark_rows > 0 is that
    query's green: it must enter the certified map like any other."""
    import glob
    import json
    import os
    import re

    import polla_spark.plans as plans
    from polla_spark.plans import _certified_rounds

    rounds = _certified_rounds()
    # find, straight from the artifacts, every rows-only green row —
    # derive the artifact root exactly like the implementation does so
    # the test holds in any checkout location
    root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(plans.__file__)))
    )
    expected: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"r(\d+)\.json$", path).group(1))
        with open(path) as fh:
            data = json.load(fh)
        for name, row in data.items():
            if (
                isinstance(row, dict)
                and row.get("err") == "no_oracle"
                and (row.get("spark_rows") or 0) > 0
            ):
                expected[name] = max(expected.get(name, 0), rnd)
    assert expected, "no rows-only artifact rows found — artifacts moved?"
    for name, rnd in expected.items():
        assert rounds.get(name, 0) >= rnd, (
            f"{name} has a rows-only green in r{rnd} but is not certified "
            f"(got round {rounds.get(name, 0)}) — it will leak a rotation "
            "slot every sweep"
        )


def test_driver_contract_exposes_registry():
    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    reg = registry()
    assert set(qs) == set(reg)
    assert set(oracles) == {n for n, q in reg.items() if q.oracle is not None}


def test_q38_sketch_tracks_exact_within_rsd(spark):
    """q38 is rows-only by design (sketch values are implementation-
    defined, so no cross-engine hash) — but the estimate must still
    TRACK the exact count it ships alongside: HLL++ at rsd=0.01 is
    deterministic for a fixed input multiset, so a loose 5% bound is a
    stable regression gate, not a flaky probabilistic one."""
    from polla_spark.plans.relational import q38_approx_count_distinct

    rows = q38_approx_count_distinct(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) >= 2
    for r in rows:
        exact, approx = r["exact_custs"], r["approx_custs"]
        assert exact > 0
        assert abs(approx - exact) / exact <= 0.05, (r["o_orderstatus"], approx, exact)


def test_approx_percentile_tracks_exact(spark):
    """q47 names approx_percentile (KLL sketch) as its 100 TB twin;
    gate the sketch against the exact interpolated percentile it
    replaces: at accuracy=10000 the rank error is <= 1/10000, and the
    sketch is deterministic for a fixed input, so a 2% value bound is
    a stable regression gate."""
    from pyspark.sql import functions as F

    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    row = o.agg(
        F.expr("approx_percentile(o_totalprice, array(0.5, 0.9), 10000)").alias("a"),
        F.expr("percentile(o_totalprice, array(0.5, 0.9))").alias("e"),
    ).collect()[0]
    for approx, exact in zip(row["a"], row["e"]):
        assert abs(approx - exact) / exact <= 0.02, (approx, exact)


def test_query_index_doc_in_sync():
    """docs/QUERIES.md is generated from the registry — regenerate in
    memory and require byte equality so the index can never drift."""
    import importlib.util

    root = Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location(
        "gen_query_index", root / "scripts" / "gen_query_index.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    with open(root / "docs" / "QUERIES.md") as fh:
        assert fh.read() == mod.render()
