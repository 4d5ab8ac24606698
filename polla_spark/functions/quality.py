"""Data-quality audit semantics of q112.

The Deequ-style audit is 9 metrics over lineitem: 7 row-level
conditional aggregates (completeness / validity), one uniqueness
count over the natural key, and one referential-integrity count
against orders. The 7 scan metrics are merge-closed conditional
sums/counts computed from the expression list below; the reshape to
the tall (metric, value) report lives here too. Reference analog: the sanity/health range
checks the reference runs before publishing
(/root/reference/polla_app/pipeline.py health path).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def scan_metric_aggs() -> list[tuple[str, Column]]:
    """The 7 row-level metrics, each ONE conditional aggregate over
    the lineitem scan — a 7-metric audit costs one partial-agg pass,
    not 7 scans, in both engines."""
    return [
        ("row_count", F.count("*")),
        ("null_quantity", F.count_if(F.col("l_quantity").isNull())),
        ("null_shipdate", F.count_if(F.col("l_shipdate").isNull())),
        (
            "bad_quantity_range",
            F.count_if(~F.col("l_quantity").between(1.0, 50.0)),
        ),
        (
            "bad_discount_range",
            F.count_if(~F.col("l_discount").between(0.0, 1.0)),
        ),
        (
            "bad_returnflag",
            F.count_if(~F.col("l_returnflag").isin("A", "N", "R")),
        ),
        ("nonpositive_price", F.count_if(F.col("l_extendedprice") <= 0)),
    ]


def scan_metric_names() -> list[str]:
    return [n for n, _ in scan_metric_aggs()]


def melt_metrics(wide: DataFrame, names: list[str]) -> DataFrame:
    """Single-row wide metric frame → tall (metric, value) report
    rows. Within-row (array + explode), no exchange."""
    return wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(n).alias("metric"),
                        F.col(n).cast("long").alias("value"),
                    )
                    for n in names
                ]
            )
        ).alias("s")
    ).select("s.metric", "s.value")
