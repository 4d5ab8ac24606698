"""Event-semantics definitions of the q148/q149/q150 plans
(plans/windows_q.py): the behavior-mask bit order, the conversion
endpoints and the clamped-balance delta table, one definition each.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Behavior-mask bit order (q148): bit i set <=> user performed type i.
BEHAVIOR_TYPES = ["click", "error", "purchase", "signup", "view"]


def behavior_flag_aggs() -> list[Column]:
    """Per-user monotone flags, one ``max(case)`` per behavior type.
    Columns are named f0..f{k-1} in BEHAVIOR_TYPES order."""
    return [
        F.max(F.when(F.col("event_type") == ty, 1).otherwise(0)).alias(f"f{i}")
        for i, ty in enumerate(BEHAVIOR_TYPES)
    ]


def behavior_mask_col() -> Column:
    """Fold the f0..f{k-1} flag columns into the integer bit mask."""
    mask = None
    for i in range(len(BEHAVIOR_TYPES)):
        bit = F.when(F.col(f"f{i}") == 1, F.lit(1 << i)).otherwise(F.lit(0))
        mask = bit if mask is None else mask + bit
    return mask


def behavior_labels_col() -> Column:
    """Human-readable '+'-joined behavior list for a ``mask`` column."""
    return F.concat_ws(
        "+",
        *[
            F.when(F.col("mask").bitwiseAND(F.lit(1 << i)) != 0, F.lit(ty))
            for i, ty in enumerate(BEHAVIOR_TYPES)
        ],
    )


def first_touch_aggs() -> list[Column]:
    """q149's conversion endpoints: first view / first purchase as
    conditional ``min`` aggregates."""
    return [
        F.min(
            F.when(F.col("event_type") == "view", F.col("ts"))
        ).alias("first_view"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("first_purchase"),
    ]


def conversion_report(latest) -> "DataFrame":  # noqa: F821
    """The q149 report over a user-grain frame with first_view /
    first_purchase columns: converter filter, integer-second delays,
    exact interpolated p25/p50/p90."""
    delays = latest.filter(
        F.col("first_view").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_view") < F.col("first_purchase"))
    ).select(
        (
            (F.unix_micros("first_purchase") - F.unix_micros("first_view"))
            / F.lit(1000000)
        ).cast("long").alias("delay_sec")
    )
    pct = F.expr("percentile(delay_sec, array(0.25, 0.5, 0.9))")
    return delays.agg(
        F.count("*").alias("n_converters"),
        F.round(F.element_at(pct, 1), 2).alias("p25_sec"),
        F.round(F.element_at(pct, 2), 2).alias("p50_sec"),
        F.round(F.element_at(pct, 3), 2).alias("p90_sec"),
    )


#: q150 balance deltas (integer cents). 'purchase' is special-cased to
#: +value-cents; any type absent from this table takes BALANCE_DEFAULT.
BALANCE_DELTAS = {"signup": 1000, "error": -800, "click": -100, "view": -50}
BALANCE_DEFAULT = -50


def balance_delta_col() -> Column:
    """The q150 per-event delta as a JVM column.

    A purchase with a NULL or NaN value contributes 0: without the
    guards the window would silently drop a NULL row from the sum,
    and under Spark 4's default ANSI mode ``CAST(NaN AS LONG)`` would
    abort the whole query."""
    c = F.when(
        F.col("event_type") == "purchase",
        F.coalesce(
            F.floor(
                F.when(~F.isnan("value"), F.col("value")) * 100
            ).cast("long"),
            F.lit(0),
        ),
    )
    for ty, d in BALANCE_DELTAS.items():
        c = c.when(F.col("event_type") == ty, F.lit(d))
    return c.otherwise(F.lit(BALANCE_DEFAULT)).cast("long")

