"""Month- and day-grain trend algebra of q122 and q193.

The kernel: period-over-period growth where the only data-sized stage
is a mergeable partial agg to month grain; the ``lag`` window runs on
the ~months-sized report (a months-sized single partition is the
correct plan, not a smell)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def monthly_census(orders: DataFrame) -> DataFrame:
    """Month-grain revenue census in exact integer cents. Mergeable,
    so map-side partial aggregation applies."""
    return orders.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
            "month"
        )
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
            "revenue_cents"
        )
    )


def growth_report(monthly: DataFrame) -> DataFrame:
    """Month-over-month growth over the month-grain census — the q122
    report shape. First month has no predecessor -> NULL."""
    w = Window.orderBy("month")
    prev = F.lag("revenue_cents").over(w)
    growth = F.round(
        (F.col("revenue_cents") - prev).cast("double")
        / prev.cast("double")
        * 100.0,
        4,
    )
    return (
        monthly.withColumn("growth_pct", growth)
        .select("month", "revenue_cents", "growth_pct")
        .orderBy("month")
    )


def daily_type_census(events: DataFrame) -> DataFrame:
    """Day-grain revenue census per event_type in exact integer cents
    — q193's only data-sized stage. Mergeable like
    :func:`monthly_census`."""
    return events.groupBy(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("day"),
    ).agg(F.sum(F.floor(F.col("value") * 100).cast("long")).alias("y"))


def ols_trend_report(daily: DataFrame) -> DataFrame:
    """OLS slope over the day-grain census — the q193 report shape.
    x is rebased to each series' first day (window min riding the
    same event_type exchange) so every product stays inside int64;
    the slope ships as the exact (numerator, denominator) integer
    pair plus a sign class — the division is the only step two
    engines could disagree on at the last ulp, so it is the
    caller's."""
    # x cast to LONG before any product: datediff is 32-bit, and a
    # series spanning > 46341 days would overflow x*x in int32 —
    # ANSI mode turns that into a runtime abort, not a wrap (second
    # review-pass finding; the cast makes the int64 claim true)
    w = Window.partitionBy("event_type")
    xy = daily.withColumn(
        "x", (F.col("day") - F.min("day").over(w)).cast("long")
    )
    agg = xy.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        agg.select(
            "event_type",
            F.col("n").alias("n_days"),
            num.alias("slope_num"),
            den.alias("slope_den"),
            F.when(num > 0, F.lit("up"))
            .when(num < 0, F.lit("down"))
            .otherwise(F.lit("flat"))
            .alias("trend"),
        )
        .orderBy("event_type")
    )
