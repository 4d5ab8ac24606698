"""Histogram-rank percentile algebra of q130: the census shape and
the nearest-rank finisher.

The kernel: exact per-segment median/p90 WITHOUT sorting the data.
The only data-sized stage is a mergeable partial agg to a
(segment, cents) histogram; the ordered cumulative-sum window then
runs over the HISTOGRAM (bounded by the value domain regardless of
input size) and the nearest-rank pick is pure integer arithmetic
(``2*cum >= total`` ⇔ cum ≥ ceil(n/2)) — bit-identical across engines
and across partitionings (counts merge).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def cents_histogram(customers: DataFrame) -> DataFrame:
    """The (segment, cents) census: quantize acctbal to integer cents
    and count. Mergeable, so map-side partial aggregation applies."""
    return (
        customers.select(
            "c_mktsegment",
            F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        )
        .groupBy("c_mktsegment", "cents")
        .agg(F.count("*").alias("cnt"))
    )


def histogram_rank_report(hist: DataFrame) -> DataFrame:
    """Nearest-rank median + p90 over a (segment, cents, cnt)
    histogram — the q130 report shape. Runs on the histogram, never
    the data; the window is bounded by the value domain."""
    w = Window.partitionBy("c_mktsegment").orderBy("cents")
    wtot = Window.partitionBy("c_mktsegment")
    h = hist.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "total", F.sum("cnt").over(wtot)
    )
    return (
        h.groupBy("c_mktsegment")
        .agg(
            F.max("total").alias("n_rows"),
            F.min(
                F.when(2 * F.col("cum") >= F.col("total"), F.col("cents"))
            ).alias("median_cents"),
            F.min(
                F.when(10 * F.col("cum") >= 9 * F.col("total"), F.col("cents"))
            ).alias("p90_cents"),
        )
        .orderBy("c_mktsegment")
    )
