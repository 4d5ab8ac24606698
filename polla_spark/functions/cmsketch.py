"""Count-min-sketch semantics of q188.

Cormode & Muthukrishnan's count-min sketch, expressed in PURE
relational algebra so it is bit-identical across engines: each token
occurrence increments ``CM_D`` counters whose coordinates come from
seeded md5 (the q120/q183 portable-hash idiom), and a counter is just
a SUM — associative + commutative, so the counter table is
merge-closed: any partitioning of the input (and any re-merge of
already-merged partials) yields the same ``CM_D × CM_W`` table.

Why this is THE 100 TB frequency-estimation shape: the aggregation
keyspace is a CONSTANT 8192 cells, so map-side combine collapses each
input partition to ≤8192 rows before the exchange — the shuffle is
O(partitions × cells) regardless of corpus size or token cardinality,
where the exact census (q175) shuffles one row per DISTINCT token and
dies on adversarial cardinality (URLs, UUIDs, raw n-grams). The price
is one-sided error: ``est ≥ true`` always (a counter only ever gains
collision mass), ``est ≤ true + εN`` with ε = e/CM_W per row and the
min over CM_D independent rows driving the failure probability to
e^-CM_D. The ≥ side is STRUCTURAL and q188 asserts it in-plan; the
collision mass itself is deterministic given the seeded hashes, which
is what makes the sketch oracle-EXACT here (q177/q178's MG/KLL
sketches are partitioning-dependent; CM is not — order never matters
to a sum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CM_D = 4     # hash rows (depth): failure prob e^-4 ≈ 1.8%
CM_W = 2048  # counters per row (width): ε = e/2048 ≈ 0.13% of N


def cm_positions(toks: DataFrame) -> DataFrame:
    """Fan each row of a (term, ...) frame into its ``CM_D``
    (r, pos) sketch coordinates WITHIN-ROW (no shuffle); carries
    every other column. Coordinates are seeded md5 folded to the
    row's counter index — portable, engine-exact."""
    seeded = F.md5(
        F.concat(F.col("term"), F.lit(":cm"), F.col("r").cast("string"))
    )
    return toks.withColumn(
        "r",
        F.explode(F.array(*[F.lit(i) for i in range(1, CM_D + 1)])),
    ).withColumn(
        "pos",
        F.conv(F.substring(seeded, 1, 8), 16, 10).cast("long") % CM_W,
    )


def cm_sketch(toks: DataFrame) -> DataFrame:
    """(term) occurrence frame → the ≤``CM_D × CM_W``-row
    (r, pos, counter) sketch. ONE fixed-keyspace aggregation, and
    map-side combine bounds the exchange at
    partitions × 8192 rows at any corpus size."""
    return (
        cm_positions(toks.select("term"))
        .groupBy("r", "pos")
        .agg(F.count("*").cast("long").alias("counter"))
    )


def cm_sketch_from_census(census: DataFrame, weight_col: str = "n_true") -> DataFrame:
    """(term, count) census frame → the same (r, pos, counter) sketch
    ``cm_sketch`` builds from the raw occurrence stream. Counters are
    sums, so Σ_term count(term)·[term hits cell] == the occurrence
    count — fanning the AGGREGATED census and summing its counts is
    bit-identical to fanning every occurrence (pinned in
    tests/test_cmsketch_census.py). Use when a query already pays the
    exact census (q188's verify/report shape): the sketch then costs
    one vocab-bounded pass over the census instead of a second full
    corpus tokenize. Production sketch-only builds keep using
    ``cm_sketch`` — its fixed-keyspace shuffle never depends on
    distinct-token cardinality, which this variant (by construction)
    does."""
    return (
        cm_positions(census.select("term", weight_col))
        .groupBy("r", "pos")
        .agg(F.sum(weight_col).cast("long").alias("counter"))
    )


def cm_estimate(probes: DataFrame, sketch: DataFrame) -> DataFrame:
    """Point-query a (term)-unique probe frame against a sketch:
    broadcast the ≤8192-row counter table, min over the CM_D rows.
    Missing cells coalesce to 0 (a cell no occurrence ever touched).
    Returns (term, est); ``est ≥ true count`` structurally."""
    hit = cm_positions(probes.select("term")).join(
        F.broadcast(sketch), ["r", "pos"], "left"
    )
    return hit.groupBy("term").agg(
        F.min(F.coalesce(F.col("counter"), F.lit(0))).alias("est")
    )
