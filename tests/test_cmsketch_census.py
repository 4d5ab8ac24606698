"""cm_sketch_from_census ≡ cm_sketch (the r12 q188 derivation).

Counters are sums, so fanning the AGGREGATED (term, count) census
into the CM cells and summing counts must be cell-for-cell identical
to fanning every raw occurrence — this is the algebraic fact that
lets q188 (which pays the exact census anyway for its verify/report)
build the sketch from the vocab-bounded census instead of a second
full corpus tokenize.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")


def _rows(df, keys):
    return sorted(tuple(r[k] for k in keys) for r in df.collect())


def test_cm_sketch_from_census_equals_occurrence_build(spark):
    from polla_spark.functions.cmsketch import cm_sketch, cm_sketch_from_census
    from polla_spark.session import read_table

    tok = (
        read_table(spark, SF_DIR, "documents")
        .select(F.explode(F.split(F.col("text"), "\\s+")).alias("term"))
        .filter(F.col("term") != "")
    )
    census = tok.groupBy("term").agg(F.count("*").alias("n_true"))
    keys = ["r", "pos", "counter"]
    got = _rows(cm_sketch_from_census(census), keys)
    want = _rows(cm_sketch(tok), keys)
    assert got and got == want


def test_cm_sketch_from_census_custom_weight_col(spark):
    # the weight column name is caller-chosen; a duplicate-term census
    # (same term counted in two rows) must still sum correctly because
    # the kernel groups by cell, not by term
    from polla_spark.functions.cmsketch import cm_sketch, cm_sketch_from_census

    tok = spark.createDataFrame(
        [("a",)] * 3 + [("b",)] * 2 + [("c",)], ["term"]
    )
    split_census = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 2), ("c", 1)], ["term", "w"]
    )
    keys = ["r", "pos", "counter"]
    got = _rows(cm_sketch_from_census(split_census, weight_col="w"), keys)
    want = _rows(cm_sketch(tok), keys)
    assert got and got == want


def test_cm_estimate_never_undercounts(spark):
    """Count-min's one-sided guarantee on q188's estimator: every point
    estimate is at least the term's exact count."""
    from polla_spark.functions.cmsketch import cm_estimate, cm_sketch
    from polla_spark.session import read_table

    tok = read_table(spark, SF_DIR, "documents").select(
        F.explode(F.split(F.col("text"), "\\s+")).alias("term")
    )
    probes = (
        tok.groupBy("term")
        .agg(F.count("*").alias("n_true"))
        .orderBy(F.desc("n_true"), "term")
        .limit(20)
    )
    est = {
        r["term"]: r["est"]
        for r in cm_estimate(probes.select("term"), cm_sketch(tok)).collect()
    }
    truth = {r["term"]: r["n_true"] for r in probes.collect()}
    assert est.keys() == truth.keys()
    assert all(est[t] >= n for t, n in truth.items())
