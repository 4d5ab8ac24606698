"""Time-window aggregations over the events table, each checked
against its DuckDB oracle. Window starts are emitted as formatted
strings; float values are floor-quantized to BIGINT (:func:`VQ`) so
sums are exact and order-independent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import Query
from .relational import t

FMT = "yyyy-MM-dd HH:mm:ss"


def VQ() -> Column:  # noqa: N802
    """Exact integer-cent quantization of ``events.value``.

    NaN policy (r5 self-review): events.value is contractually
    non-null/non-NaN typed data, and a NaN here FAILS FAST (ANSI
    ``CAST(NaN AS LONG)`` aborts the query), because silent
    corruption of a metric column should stop a pipeline, unlike
    scraped-text parse errors, which this engine turns into data
    columns. The ONE deliberate exception is the q150 balance family
    (``functions/events.balance_delta_col``), whose reference
    semantics define null/NaN purchases as 0."""
    return F.floor(F.col("value") * 100).cast("long")


def q70_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling windows per event_type (F.window).

    Spark aligns window starts to the epoch; the oracle reproduces the
    alignment with floor(epoch/300)*300.
    """
    e = t(spark, sf_dir, "events")
    return (
        e.withColumn("vq", VQ())
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("vq").alias("sum_vq"))
        .select(
            F.date_format(F.col("w.start"), FMT).alias("window_start"),
            "event_type",
            "n",
            "sum_vq",
        )
        .orderBy("window_start", "event_type")
    )


O70 = """
SELECT strftime(to_timestamp(floor(epoch(ts) / 300) * 300), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, COUNT(*) AS n,
       CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_vq
FROM events
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q71_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding by 5: every event lands in 2 windows."""
    e = t(spark, sf_dir, "events")
    return (
        e.withColumn("vq", VQ())
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n"), F.sum("vq").alias("sum_vq"))
        .select(F.date_format(F.col("w.start"), FMT).alias("window_start"), "n", "sum_vq")
        .orderBy("window_start")
    )


O71 = """
SELECT strftime(to_timestamp(floor(epoch(ts) / 300) * 300 - off.o * 300), '%Y-%m-%d %H:%M:%S') AS window_start,
       COUNT(*) AS n, CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_vq
FROM events CROSS JOIN (SELECT unnest([0, 1]) AS o) off
GROUP BY 1 ORDER BY 1
"""


def q72_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: 30-minute inactivity gap per user.

    lag + cumulative-sum-of-gap-flags — the classic shuffle-once plan:
    one exchange on user_id, both windows reuse the same sort.
    """
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = (
        e.withColumn("new_sess", new_sess)
        .withColumn("session_id", F.sum("new_sess").over(w))
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.date_format(F.min("ts"), FMT).alias("session_start"),
            F.count("*").alias("n_events"),
            (F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long"))).alias(
                "duration_sec"
            ),
        )
        .select("user_id", "session_id", "session_start", "n_events", "duration_sec")
        .orderBy("user_id", "session_id")
    )


O72 = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) - LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER w IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT) - LAG(CAST(floor(epoch(ts)) AS BIGINT)) OVER w > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       COUNT(*) AS n_events,
       CAST(MAX(sec) - MIN(sec) AS BIGINT) AS duration_sec
FROM sess GROUP BY user_id, session_id
ORDER BY user_id, session_id
"""


def q73_event_type_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily rollup with distinct users — the dashboard query shape."""
    e = t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(VQ()).alias("sum_vq"),
        )
        .orderBy("day", "event_type")
    )


O73 = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
       COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_vq
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


def q74_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): for each purchase, the user's
    most recent click at-or-before it. One exchange + one sort over
    |L|+|R| rows — vs the O(matches) blowup of the naive theta join.
    DuckDB's native ASOF JOIN is the oracle."""
    from ..operators.asof import asof_join

    e = t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        VQ().alias("click_vq"),
    )
    out = asof_join(purchases, clicks, on="user_id", ts="ts",
                    value_cols=["click_id", "click_vq"])
    return out.select(
        "user_id",
        F.date_format("ts", FMT).alias("purchase_ts"),
        "purchase_id",
        "click_id",
        "click_vq",
    ).orderBy("user_id", "purchase_ts", "purchase_id")


O74 = """
WITH purchases AS (
  SELECT user_id, ts, event_id AS purchase_id FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id, ts, event_id AS click_id,
         CAST(floor(value * 100) AS BIGINT) AS click_vq
  FROM events WHERE event_type = 'click'
)
SELECT p.user_id, strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       p.purchase_id, c.click_id, c.click_vq
FROM purchases p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY p.user_id, purchase_ts, purchase_id
"""


def q75_multi_grain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate shape: hourly + daily +
    total grains in ONE scan via GROUPING SETS over truncated
    timestamps (the single-pass form of maintaining three rollup
    tables). At 100 TB this is one shuffle instead of three."""
    e = t(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("hour", "ts"), FMT).alias("hour"),
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        VQ().alias("vq"),
    )
    return (
        e.groupingSets(
            [["day", "hour"], ["day"], []],
            "day", "hour",
        )
        .agg(F.count("*").alias("n"), F.sum("vq").alias("sum_vq"))
        .orderBy(F.col("day").asc_nulls_first(), F.col("hour").asc_nulls_first())
    )


O75 = """
SELECT day, hour, COUNT(*) AS n,
       CAST(SUM(vq) AS BIGINT) AS sum_vq
FROM (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
         strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         CAST(floor(value * 100) AS BIGINT) AS vq
  FROM events
)
GROUP BY GROUPING SETS ((day, hour), (day), ())
ORDER BY day ASC NULLS FIRST, hour ASC NULLS FIRST
"""


def q103_first_seen_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-seen exact dedupe: one survivor per (user_id,
    event_type), earliest ts wins with event_id as the deterministic
    tie-break, then a per-type report over survivors. Plan: one
    hash shuffle on the key for the window, one partial-aggregated
    shuffle for the report — the same two exchanges at any scale.
    """
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.withColumn("vq", VQ())
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_keys"),
            F.sum("vq").alias("sum_first_vq"),
            F.date_format(F.min("ts"), FMT).alias("earliest"),
            F.date_format(F.max("ts"), FMT).alias("latest"),
        )
        .orderBy("event_type")
    )


O103 = """
WITH firsts AS (
  SELECT event_type, ts, CAST(floor(value * 100) AS BIGINT) AS vq,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT event_type, COUNT(*) AS n_keys,
       CAST(SUM(vq) AS BIGINT) AS sum_first_vq,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS earliest,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS latest
FROM firsts WHERE rn = 1 GROUP BY event_type ORDER BY event_type
"""


def q108_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: first view -> first click AFTER that
    view -> first purchase AFTER that click, per user; one report row
    with the user count surviving each stage and the exact summed
    view->purchase conversion seconds for full converts.

    Plan shape at 100 TB: all three stages are windows PARTITIONED BY
    the same user_id key, so Catalyst plans them on ONE hash exchange
    (each later stage reads the previous stage's window column — no
    joins, no self-join funnel explosion); the final report is a
    partial-aggregated collapse to a single row. Strictly-after
    ordering (``ts >``) makes the stage predicates exact, not
    same-timestamp-coincidence.
    """
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    s1 = e.withColumn(
        "v_ts", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    s2 = s1.withColumn(
        "c_ts",
        F.min(
            F.when((F.col("event_type") == "click") & (F.col("ts") > F.col("v_ts")), F.col("ts"))
        ).over(w),
    )
    per_user = (
        s2.groupBy("user_id")
        .agg(
            F.first("v_ts").alias("v_ts"),
            F.first("c_ts").alias("c_ts"),
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("ts") > F.col("c_ts")),
                    F.col("ts"),
                )
            ).alias("p_ts"),
        )
    )
    return per_user.agg(
        F.count("*").alias("n_users"),
        F.count("v_ts").alias("n_viewed"),
        F.count("c_ts").alias("n_clicked"),
        F.count("p_ts").alias("n_purchased"),
        F.sum(
            F.when(
                F.col("p_ts").isNotNull(),
                F.unix_timestamp("p_ts") - F.unix_timestamp("v_ts"),
            )
        ).alias("sum_convert_secs"),
    )


O108 = """
WITH s1 AS (
  SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts END)
              OVER (PARTITION BY user_id) AS v_ts
  FROM events
), s2 AS (
  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > v_ts THEN ts END)
              OVER (PARTITION BY user_id) AS c_ts
  FROM s1
), per_user AS (
  SELECT user_id, any_value(v_ts) AS v_ts, any_value(c_ts) AS c_ts,
         MIN(CASE WHEN event_type = 'purchase' AND ts > c_ts THEN ts END) AS p_ts
  FROM s2 GROUP BY user_id
)
SELECT COUNT(*) AS n_users,
       COUNT(v_ts) AS n_viewed,
       COUNT(c_ts) AS n_clicked,
       COUNT(p_ts) AS n_purchased,
       CAST(SUM(CASE WHEN p_ts IS NOT NULL
                THEN CAST(floor(epoch(p_ts)) AS BIGINT) - CAST(floor(epoch(v_ts)) AS BIGINT)
                END) AS BIGINT) AS sum_convert_secs
FROM per_user
"""


def q109_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-cohort triangle: users cohorted by FIRST-SEEN week,
    crossed with the week offset of every later activity — the
    retention report behind every growth dashboard, as two exchanges:
    the first-seen window shuffles on user_id, the cohort × offset
    cell count on the (small) report key.

    ``countDistinct`` per cell is exact; at 100 TB the cell count is
    weeks², not data-sized, so the second exchange is trivial — the
    user_id window is the only data-scale shuffle.
    """
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    first_day = F.min(F.to_date("ts")).over(w)
    cohorted = e.select(
        "user_id",
        F.date_format(F.date_trunc("week", first_day), "yyyy-MM-dd").alias("cohort_week"),
        F.floor(F.datediff(F.to_date("ts"), first_day) / 7).alias("week_offset"),
    )
    return (
        cohorted.groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


O109 = """
WITH firsts AS (
  SELECT user_id, ts,
         MIN(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS first_day
  FROM events
)
SELECT strftime(date_trunc('week', first_day), '%Y-%m-%d') AS cohort_week,
       CAST(floor(date_diff('day', first_day, CAST(ts AS DATE)) / 7.0) AS BIGINT) AS week_offset,
       COUNT(DISTINCT user_id) AS n_active
FROM firsts GROUP BY 1, 2 ORDER BY 1, 2
"""


def q110_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series densification + forward fill: hourly high-value
    activity per event_type over a DENSE calendar (missing hours
    materialized as rows), with the last observed hourly sum carried
    forward through gaps — the standard prep step before charting or
    feeding a sequence model.

    Plan shape at 100 TB: the data-scale work is ONE partial-agg
    shuffle to (event_type, hour); the calendar is generated from the
    per-type min/max span via ``sequence``+``explode`` so the dense
    axis is calendar-sized (hours x types), never data-sized; the
    forward-fill window and the left join both ride the same
    (event_type, hour) key. No driver loop, no Python — gap rows are
    born distributed.
    """
    e = t(spark, sf_dir, "events")
    hourly = (
        e.filter(F.col("value") > 9.0)
        .withColumn("vq", VQ())
        .groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.count("*").alias("n_obs"), F.sum("vq").alias("sum_vq"))
    )
    cal = (
        hourly.groupBy("event_type")
        .agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            "event_type",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("h")
    return (
        cal.join(hourly, ["event_type", "h"], "left")
        .select(
            "event_type",
            F.date_format("h", FMT).alias("hour"),
            F.coalesce("n_obs", F.lit(0)).cast("long").alias("n_obs"),
            F.last("sum_vq", ignorenulls=True).over(w).alias("filled_sum_vq"),
            F.when(F.col("n_obs").isNull(), 1).otherwise(0).cast("long").alias("was_gap"),
        )
        .orderBy("event_type", "hour")
    )


O110 = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         COUNT(*) AS n_obs,
         CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_vq
  FROM events WHERE value > 9.0 GROUP BY 1, 2
), cal AS (
  SELECT event_type, unnest(generate_series(min(h), max(h), INTERVAL 1 HOUR)) AS h
  FROM hourly GROUP BY event_type
)
SELECT c.event_type,
       strftime(c.h, '%Y-%m-%d %H:%M:%S') AS hour,
       CAST(COALESCE(y.n_obs, 0) AS BIGINT) AS n_obs,
       last_value(y.sum_vq IGNORE NULLS)
         OVER (PARTITION BY c.event_type ORDER BY c.h) AS filled_sum_vq,
       CAST(CASE WHEN y.n_obs IS NULL THEN 1 ELSE 0 END AS BIGINT) AS was_gap
FROM cal c LEFT JOIN hourly y ON y.event_type = c.event_type AND y.h = c.h
ORDER BY 1, 2
"""


def q114_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types per user:
    every consecutive (prev -> next) pair within a user's timeline,
    counted and normalized to a transition probability.

    Plan shape at 100 TB: the lag window shuffles once on user_id
    (the only data-scale exchange); the transition count collapses to
    a |types|^2-sized key, and the row-normalizing total is a window
    over that already-tiny result — calendar-sized, not data-sized.
    The probability is a single exact-integer division rounded once,
    so it hashes identically across engines.
    """
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.select(
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count("*").alias("n_trans"))
    )
    wrow = Window.partitionBy("prev_type")
    return (
        pairs.select(
            "prev_type",
            "next_type",
            "n_trans",
            F.round(F.col("n_trans") / F.sum("n_trans").over(wrow), 6).alias("p_trans"),
        )
        .orderBy("prev_type", "next_type")
    )


O114 = """
WITH seq AS (
  SELECT user_id,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events
), trans AS (
  SELECT prev_type, next_type, COUNT(*) AS n_trans
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
)
SELECT prev_type, next_type, n_trans,
       ROUND(n_trans / SUM(n_trans) OVER (PARTITION BY prev_type), 6) AS p_trans
FROM trans ORDER BY 1, 2
"""


def q116_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candlestick bars: per (day, event_type) the Open (first
    value by time), High, Low, Close (last value by time) plus volume
    — the canonical downsampling step for any metered/financial
    series, exercised through ``min_by``/``max_by``.

    Determinism: (ts, event_id) is unique, so the ordering key is a
    fixed-width sortable string ``lpad(unix_micros)||lpad(event_id)``
    — ``min_by``/``max_by`` over it picks exactly one row in both
    engines (DuckDB ``arg_min``/``arg_max`` on the same VARCHAR key).
    Open/Close pass the stored double through untouched (no float
    arithmetic to diverge); High/Low are plain min/max.

    Plan shape at 100 TB: ONE partial-aggregated shuffle on the
    (day, type) key — min_by/max_by are ordinary mergeable aggregates,
    so bars never need a sort or a window over the series.
    """
    e = t(spark, sf_dir, "events")
    key = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return (
        e.withColumn("ord", key)
        .groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.min_by("value", "ord").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", "ord").alias("close"),
            F.count("*").alias("volume"),
        )
        .orderBy("day", "event_type")
    )


O116 = """
WITH keyed AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type, value,
         lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') ||
         lpad(CAST(event_id AS VARCHAR), 12, '0') AS ord
  FROM events
)
SELECT day, event_type,
       arg_min(value, ord) AS open, MAX(value) AS high, MIN(value) AS low,
       arg_max(value, ord) AS close, COUNT(*) AS volume
FROM keyed GROUP BY 1, 2 ORDER BY 1, 2
"""


def q117_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value (TWAP) per event_type: each
    observation holds until the next one of the same type, so its
    weight is that holding interval in microseconds. The last
    observation per type has no successor and is excluded (standard
    left-closed TWAP).

    Determinism: weights are exact integer microsecond deltas
    (``lead`` over unix_micros), values floor-quantized to integer
    cents; both sums are DECIMAL(38,0)-exact, and the single final
    division is the only floating rounding — bit-identical across
    engines.

    Plan shape at 100 TB: the lead window and nothing else shuffles
    (keyed by type); the weighted sums partial-aggregate. For a
    day-partitioned lake the window stays within partitions except
    one boundary row per (partition, type).
    """
    e = t(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.floor(F.col("value") * 100).cast("decimal(38,0)").alias("qv"),
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy("us", "event_id")
    dt_us = (F.lead("us").over(w) - F.col("us")).cast("decimal(38,0)")
    return (
        e.withColumn("dt_us", dt_us)
        .filter(F.col("dt_us").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_intervals"),
            F.sum("dt_us").cast("long").alias("total_us"),
            # cast each exact decimal sum to double BEFORE dividing:
            # decimal/decimal division rounds at decimal scale rules,
            # which differ between engines — double/double does not
            F.round(
                F.sum(F.col("qv") * F.col("dt_us")).cast("double")
                / F.sum("dt_us").cast("double")
                / 100.0,
                6,
            ).alias("twap"),
        )
        .orderBy("event_type")
    )


O117 = """
WITH seq AS (
  SELECT event_type, epoch_us(ts) AS us,
         CAST(floor(value * 100) AS HUGEINT) AS qv,
         LEAD(epoch_us(ts)) OVER (PARTITION BY event_type
                                  ORDER BY epoch_us(ts), event_id) AS next_us
  FROM events
)
SELECT event_type, COUNT(*) AS n_intervals,
       CAST(SUM(next_us - us) AS BIGINT) AS total_us,
       ROUND(CAST(SUM(qv * (next_us - us)) AS DOUBLE)
             / CAST(SUM(next_us - us) AS DOUBLE) / 100.0, 6) AS twap
FROM seq WHERE next_us IS NOT NULL
GROUP BY 1 ORDER BY 1
"""


def q122_monthly_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Period-over-period growth: monthly order revenue with the
    month-over-month percentage change — the core BI trend query,
    exercising a window (`lag`) OVER AN AGGREGATED SERIES rather than
    raw rows.

    Determinism: revenue is an exact integer-cent sum; the growth
    ratio divides two exact longs as doubles (one rounding) and is
    rounded to 4 places. First month has no predecessor -> NULL.

    Plan shape at 100 TB: the data-scale work is one partial-agg
    shuffle to month grain (~hundreds of rows); the lag window runs
    on the report, not the data. A months-sized single partition is
    the correct plan, not a smell.
    """
    from ..functions.trends import growth_report, monthly_census

    # census + report live in functions/trends.py
    return growth_report(monthly_census(t(spark, sf_dir, "orders")))


O122 = """
WITH monthly AS (
  SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
         CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
  FROM orders GROUP BY 1
)
SELECT month, revenue_cents,
       ROUND(CAST(revenue_cents - LAG(revenue_cents) OVER (ORDER BY month) AS DOUBLE)
             / CAST(LAG(revenue_cents) OVER (ORDER BY month) AS DOUBLE) * 100.0, 4)
         AS growth_pct
FROM monthly ORDER BY month
"""


def q124_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path mining: the 10 most common 3-step event-type
    sequences (per-user, time-ordered) — the exploratory query behind
    funnel design, exercising stacked ``lead`` windows that share one
    sort.

    Determinism: (ts, event_id) ordering is total; top-10 breaks ties
    by path string. Paths crossing the end of a user's history (NULL
    leads) are excluded.

    Plan shape at 100 TB: both leads ride ONE user_id exchange and
    ONE sort (same window spec), the path count partial-aggregates,
    and the top-10 is TakeOrderedAndProject.
    """
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    path = F.concat_ws(
        ">",
        F.col("event_type"),
        F.lead("event_type", 1).over(w),
        F.lead("event_type", 2).over(w),
    )
    stepped = e.select(
        "user_id",
        F.lead("event_type", 2).over(w).alias("_has_full_path"),
        path.alias("path"),
    )
    return (
        stepped.filter(F.col("_has_full_path").isNotNull())
        .groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(10)
    )


O124 = """
WITH stepped AS (
  SELECT event_type AS e0,
         LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e1,
         LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2
  FROM events
)
SELECT e0 || '>' || e1 || '>' || e2 AS path, COUNT(*) AS n
FROM stepped WHERE e2 IS NOT NULL
GROUP BY 1 ORDER BY n DESC, path ASC LIMIT 10
"""


def q126_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build: collapse each user's event_type
    stream into effective-dated state rows (state, valid_from,
    valid_to, n_events) — the standard slowly-changing-dimension
    primitive for warehouse dimension tables, built from an append-only
    event log.

    Gaps-and-islands without an aggregation: run starts are the rows
    where ``lag(event_type)`` differs; ``valid_to`` / run length come
    from ``lead`` over the SURVIVING start rows. Every window
    partitions by user_id, so the whole history builds on ONE
    exchange — the filter between the two window groups keeps the
    hash partitioning, no re-shuffle (plan-pinned).

    At 100 TB: state per task is one sort of its users' events; the
    open-ended current row is the NULL-lead case (sentinel 9999-12-31)
    — exactly how the batch rebuild of a streaming SCD2 sink works.
    """
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wu = Window.partitionBy("user_id")
    d = e.select(
        "user_id",
        "event_type",
        "ts",
        F.row_number().over(w).alias("rn"),
        F.lag("event_type").over(w).alias("prev"),
        F.count("*").over(wu).alias("cnt"),
    )
    starts = d.filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
    w2 = Window.partitionBy("user_id").orderBy("rn")
    return (
        starts.select(
            "user_id",
            F.row_number().over(w2).alias("run_seq"),
            F.col("event_type").alias("state"),
            F.date_format("ts", FMT).alias("valid_from"),
            F.coalesce(
                F.date_format(F.lead("ts").over(w2), FMT),
                F.lit("9999-12-31 00:00:00"),
            ).alias("valid_to"),
            (F.coalesce(F.lead("rn").over(w2), F.col("cnt") + 1) - F.col("rn"))
            .cast("long")
            .alias("n_events"),
        )
        .orderBy("user_id", "run_seq")
    )


O126 = """
WITH d AS (
  SELECT user_id, event_type, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
         COUNT(*) OVER (PARTITION BY user_id) AS cnt
  FROM events
), starts AS (
  SELECT * FROM d WHERE prev IS NULL OR prev <> event_type
)
SELECT user_id,
       ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rn) AS run_seq,
       event_type AS state,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
       COALESCE(strftime(LEAD(ts) OVER (PARTITION BY user_id ORDER BY rn),
                         '%Y-%m-%d %H:%M:%S'),
                '9999-12-31 00:00:00') AS valid_to,
       CAST(COALESCE(LEAD(rn) OVER (PARTITION BY user_id ORDER BY rn), cnt + 1)
            - rn AS BIGINT) AS n_events
FROM starts ORDER BY user_id, run_seq
"""

def q132_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct active users per day — the rolling-
    distinct metric a window frame CANNOT express (``count(DISTINCT)``
    over a RANGE frame is unsupported in both engines' window paths).

    Scale pattern: collapse the fact to distinct ``(user, day)``
    partials FIRST (one mergeable shuffle), then each active-day
    serves the 7 report days it belongs to via a WITHIN-ROW
    ``sequence``/``explode`` — a bounded 7x expansion of the PARTIAL,
    never of the fact — and one count-distinct shuffle on report day
    finishes. At 100 TB the event table crosses the wire once; the
    expansion runs on the |users| x |days| grain, orders of magnitude
    smaller. The extreme-scale form swaps the final count-distinct
    for per-day HLL sketch unions (q38's family) at the cost of
    exactness.
    """
    e = t(spark, sf_dir, "events")
    active = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    contrib = active.select(
        "user_id",
        F.explode(F.sequence(F.col("day"), F.date_add("day", 6))).alias("rday"),
    )
    return (
        contrib.groupBy(F.date_format("rday", "yyyy-MM-dd").alias("day"))
        .agg(F.countDistinct("user_id").alias("active_7d"))
        .orderBy("day")
    )


O132 = """
WITH active AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), contrib AS (
  SELECT user_id, day + CAST(g.i AS INTEGER) AS rday
  FROM active CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS i) g
)
SELECT strftime(rday, '%Y-%m-%d') AS day, COUNT(DISTINCT user_id) AS active_7d
FROM contrib GROUP BY 1 ORDER BY 1
"""


def q138_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase credits the
    user's most recent preceding click within 24 h; the campaign id
    comes from the click's ``props`` JSON. Purchases with no
    qualifying click fall into the ``(organic)`` bucket.

    Scale shape: clicks and purchases stay in ONE stream — two
    ``last(..., ignorenulls)`` windows (carried campaign + carried
    click time) ride a single hash exchange on user_id with one sort;
    the 24 h recency gate and the JSON extraction are within-row. The
    naive formulation is a per-purchase correlated subquery or an
    as-of join of purchases against clicks — both shuffle the event
    stream twice; this shuffles it once. Unique (ts, event_id) sort
    key keeps the carried values deterministic under ties.
    """
    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    is_click = F.col("event_type") == "click"
    carried_k = F.last(
        F.when(is_click, F.get_json_object("props", "$.k")), ignorenulls=True
    ).over(w)
    carried_ts = F.last(F.when(is_click, F.col("ts")), ignorenulls=True).over(w)
    attributed = (
        e.withColumn("k", carried_k)
        .withColumn("click_ts", carried_ts)
        .filter(F.col("event_type") == "purchase")
        .withColumn(
            "campaign",
            F.when(
                F.col("click_ts").isNotNull()
                & (
                    F.unix_micros("ts") - F.unix_micros("click_ts")
                    <= F.lit(24 * 3600 * 1000000)
                ),
                F.col("k"),
            ).otherwise(F.lit("(organic)")),
        )
    )
    return (
        attributed.groupBy("campaign")
        .agg(F.count("*").alias("n_purchases"), F.sum(VQ()).alias("revenue_vq"))
        .orderBy("campaign")
    )


O138 = """
WITH carried AS (
  SELECT event_type, ts, value,
         LAST_VALUE(CASE WHEN event_type = 'click'
                         THEN json_extract_string(props, '$.k') END IGNORE NULLS)
           OVER w AS k,
         LAST_VALUE(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
           OVER w AS click_ts
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), attributed AS (
  SELECT CASE WHEN click_ts IS NOT NULL
              AND epoch_us(ts) - epoch_us(click_ts) <= CAST(24 AS BIGINT) * 3600 * 1000000
              THEN k ELSE '(organic)' END AS campaign,
         value
  FROM carried WHERE event_type = 'purchase'
)
SELECT campaign, COUNT(*) AS n_purchases,
       CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS revenue_vq
FROM attributed GROUP BY 1 ORDER BY 1
"""


def q145_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join: each purchase looks up the
    dimension value that was CURRENT at its timestamp — the
    fact-to-SCD2 lookup every warehouse does (q126 BUILDS the
    effective-dated history; this consumes one). The dimension here
    is each user's last non-purchase activity type, effective-dated
    by gaps-and-islands.

    Scale shape: the validity windows partition time per user (no
    overlaps, valid_to = next valid_from), so the temporal join is an
    EQUI-join on user_id with the BETWEEN predicate as a residual
    filter — at most one history row survives per fact, no range-join
    explosion, and both sides shuffle once on the same key. Purchases
    before any activity keep a ``(none)`` status via left join —
    never silently dropped.
    """
    e = t(spark, sf_dir, "events")
    dims = e.filter(F.col("event_type") != "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    starts = (
        dims.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
        .withColumn("valid_to", F.lead("ts").over(w))
        .select(
            "user_id",
            F.col("event_type").alias("status"),
            F.col("ts").alias("valid_from"),
            "valid_to",
        )
    )
    facts = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), VQ().alias("vq")
    )
    j = facts.join(
        starts,
        (facts["user_id"] == starts["user_id"])
        & (F.col("pts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("pts") < F.col("valid_to"))),
        "left_outer",
    )
    return (
        j.groupBy(F.coalesce("status", F.lit("(none)")).alias("status"))
        .agg(F.count("*").alias("n_purchases"), F.sum("vq").alias("revenue_vq"))
        .orderBy("status")
    )


O145 = """
WITH dims AS (
  SELECT * FROM events WHERE event_type != 'purchase'
), starts AS (
  SELECT user_id, event_type AS status, ts AS valid_from,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
  FROM (
    SELECT user_id, event_type, ts, event_id,
           LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS prev_type
    FROM dims
  )
  WHERE prev_type IS NULL OR prev_type != event_type
), facts AS (
  SELECT user_id, ts AS pts, CAST(floor(value * 100) AS BIGINT) AS vq
  FROM events WHERE event_type = 'purchase'
)
SELECT COALESCE(s.status, '(none)') AS status,
       COUNT(*) AS n_purchases, CAST(SUM(f.vq) AS BIGINT) AS revenue_vq
FROM facts f LEFT JOIN starts s
  ON f.user_id = s.user_id AND f.pts >= s.valid_from
 AND (s.valid_to IS NULL OR f.pts < s.valid_to)
GROUP BY 1 ORDER BY 1
"""


def q147_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance: merge a late delta batch into an
    EXISTING aggregate without recomputing history — the nightly-MV
    pattern every 100 TB warehouse runs. Here the 'existing MV' is the
    daily rollup of events before Jan 21 and the 'delta' is everything
    after; the query returns the MERGED aggregate, and the ORACLE is
    the full recompute over all events — hash equality IS the proof
    that incremental maintenance loses nothing.

    Only merge-closed aggregates participate (count/sum/min/max merge
    as sum-of-counts, sum-of-sums, min-of-mins, max-of-maxes);
    count-distinct deliberately does NOT appear — its mergeable form
    is the HLL sketch (q38's family) or user-grain partials. Scale
    shape: the history side
    is MV-sized (days x types, not events); only the delta scans raw
    rows; the merge shuffles report-grain rows once.
    """
    e = t(spark, sf_dir, "events")
    split = F.lit("2024-01-21 00:00:00").cast("timestamp")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "event_type",
        ).agg(
            F.count("*").alias("n"),
            F.sum(VQ()).alias("sum_vq"),
            F.min(VQ()).alias("min_vq"),
            F.max(VQ()).alias("max_vq"),
        )

    existing = rollup(e.filter(F.col("ts") < split))  # the stored MV
    delta = rollup(e.filter(F.col("ts") >= split))  # tonight's batch
    return (
        existing.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_vq").alias("sum_vq"),
            F.min("min_vq").alias("min_vq"),
            F.max("max_vq").alias("max_vq"),
        )
        .orderBy("day", "event_type")
    )


# The oracle is the FULL RECOMPUTE — equality proves the merge exact.
O147 = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_vq,
       CAST(MIN(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS min_vq,
       CAST(MAX(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS max_vq
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


def q148_behavior_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap census (the Venn/segment report): how many
    users performed each exact COMBINATION of behaviors — the
    marketing-segmentation staple that naive tooling answers with 2^k
    separate intersect queries over the fact.

    Shape: ONE user-grain conditional aggregation folds each user's
    behavior set into a 5-bit mask (bool_or per event type — mergeable
    partials), then a 32-row census. The fact scans once regardless of
    how many segment combinations the report enumerates; set-ops
    (INTERSECT per combination) would scan it 2^k times.
    """
    # a 2-day window keeps the combination space discriminative (over
    # the full month every user does everything and the census
    # degenerates to one row)
    from ..functions.events import (
        behavior_flag_aggs,
        behavior_labels_col,
        behavior_mask_col,
    )

    e = t(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-03 00:00:00").cast("timestamp")
    )
    # flags + mask + labels come from functions/events.py
    user = e.groupBy("user_id").agg(*behavior_flag_aggs()).select(
        "user_id", behavior_mask_col().alias("mask")
    )
    labels = behavior_labels_col()
    return (
        user.groupBy("mask")
        .agg(F.count("*").alias("n_users"))
        .withColumn("behaviors", labels)
        .select("mask", "behaviors", "n_users")
        .orderBy("mask")
    )


O148 = """
WITH u AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) * 1
       + MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) * 2
       + MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 4
       + MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) * 8
       + MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) * 16 AS mask
  FROM events WHERE ts < TIMESTAMP '2024-01-03 00:00:00'
  GROUP BY 1
)
SELECT mask,
       concat_ws('+',
         CASE WHEN mask & 1 != 0 THEN 'click' END,
         CASE WHEN mask & 2 != 0 THEN 'error' END,
         CASE WHEN mask & 4 != 0 THEN 'purchase' END,
         CASE WHEN mask & 8 != 0 THEN 'signup' END,
         CASE WHEN mask & 16 != 0 THEN 'view' END) AS behaviors,
       COUNT(*) AS n_users
FROM u GROUP BY 1 ORDER BY 1
"""


def q149_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: for users whose first view
    precedes their first purchase, the p25/p50/p90 of the view->
    purchase delay — the funnel-latency report behind every growth
    dashboard.

    Shape: first-view/first-purchase are conditional ``min`` aggs on
    ONE user-grain exchange (mergeable partials — no window, no
    self-join of the fact); the integer-second deltas then feed an
    exact interpolated percentile over the USER-grain table (1/N of
    the fact; at extreme scale swap for approx_percentile or q130's
    histogram-rank, same contract as q47/q135).
    """
    from ..functions.events import conversion_report, first_touch_aggs

    e = t(spark, sf_dir, "events")
    # endpoint aggs + report come from functions/events.py
    user = e.groupBy("user_id").agg(*first_touch_aggs())
    return conversion_report(user)


O149 = """
WITH u AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
  FROM events GROUP BY 1
), d AS (
  SELECT (epoch_us(first_purchase) - epoch_us(first_view)) // 1000000 AS delay_sec
  FROM u
  WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
    AND first_view < first_purchase
)
SELECT COUNT(*) AS n_converters,
       ROUND(quantile_cont(delay_sec, 0.25), 2) AS p25_sec,
       ROUND(quantile_cont(delay_sec, 0.5), 2) AS p50_sec,
       ROUND(quantile_cont(delay_sec, 0.9), 2) AS p90_sec
FROM d
"""


def q150_clamped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floor-at-zero running balance (credit/inventory semantics):
    each user's balance moves by a per-event delta but can never go
    below zero — the recurrence ``b_t = max(0, b_{t-1} + d_t)`` LOOKS
    non-associative (each clamp shifts the whole later trajectory),
    which tempts a per-key sequential Python scan. The classic
    identity rescues the declarative plan: with prefix sums
    ``S_t``, the clamped balance is exactly
    ``S_t - min(0, min_{k<=t} S_k)`` — so TWO ordinary windows
    (running sum + running min) sharing one user_id exchange and one
    sort compute it, JVM-side, at any scale. The oracle runs the same
    identity; the docstring math is the proof both implement the
    recurrence.

    Deltas: signup +1000, purchase +value-cents, error -800,
    click -100, view -50 (all exact integers).
    """
    from ..functions.events import balance_delta_col

    e = t(spark, sf_dir, "events")
    # the delta table lives in functions/events.py
    delta = balance_delta_col()
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    scanned = e.select("user_id", "ts", "event_id", delta.alias("d")).select(
        "user_id", "d", F.sum("d").over(w).alias("s")
    )
    # the LAST prefix sum is simply the total delta sum — no
    # order-sensitive last() needed
    per_user = scanned.groupBy("user_id").agg(
        F.sum("d").alias("s_last"),
        F.least(F.lit(0), F.min("s")).alias("floor_shift"),
    )
    final = per_user.select(
        "user_id",
        (F.col("s_last") - F.col("floor_shift")).alias("final_cents"),
        (F.col("floor_shift") < 0).alias("floored"),
    )
    return final.agg(
        F.count("*").alias("n_users"),
        F.sum(F.when(F.col("floored"), 1).otherwise(0)).alias("n_floored"),
        F.sum("final_cents").alias("total_final_cents"),
        F.max("final_cents").alias("max_final_cents"),
    )


O150 = """
WITH d AS (
  SELECT user_id, ts, event_id,
         CASE event_type
           WHEN 'signup' THEN 1000
           WHEN 'purchase' THEN CASE WHEN isnan(value) THEN 0
                ELSE COALESCE(CAST(floor(value * 100) AS BIGINT), 0) END
           WHEN 'error' THEN -800
           WHEN 'click' THEN -100
           ELSE CAST(-50 AS BIGINT) END AS d
  FROM events
), s AS (
  SELECT user_id, d,
         SUM(d) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
  FROM d
), per_user AS (
  SELECT user_id, SUM(d) AS s_last, LEAST(0, MIN(s)) AS floor_shift
  FROM s GROUP BY user_id
), final AS (
  SELECT user_id, s_last - floor_shift AS final_cents,
         floor_shift < 0 AS floored
  FROM per_user
)
SELECT COUNT(*) AS n_users,
       CAST(SUM(CASE WHEN floored THEN 1 ELSE 0 END) AS BIGINT) AS n_floored,
       CAST(SUM(final_cents) AS BIGINT) AS total_final_cents,
       CAST(MAX(final_cents) AS BIGINT) AS max_final_cents
FROM final
"""


def q193_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type DAILY-REVENUE TREND via ordinary least squares —
    the regression complement to q122's lag-based month-over-month
    deltas: one slope per series instead of per-step ratios. Exact
    integer arithmetic end-to-end (the q119 Pearson discipline):
    x = day index REBASED to the series' own first day (a window min
    sharing the per-type exchange — rebasing keeps every product
    inside int64 at any calendar span, where raw epoch-day x² sums
    would not), y = daily revenue cents. The report emits the slope
    as an exact (numerator, denominator) integer PAIR —
    num = n·Σxy − Σx·Σy, den = n·Σx² − (Σx)² — plus the sign class,
    because the division is the only step two engines could disagree
    on at the last ulp; the caller divides when a float is wanted.

    Plan shape at 100 TB: daily census (partial-agged groupBy on
    (event_type, day)) → window min + the five OLS sums ride ONE
    event_type exchange; the scalar combine runs on the label-sized
    report. The day census keys are uniform — no skew exposure. Census +
    report live in ``functions/trends.py``.
    """
    from ..functions.trends import daily_type_census, ols_trend_report

    return ols_trend_report(daily_type_census(t(spark, sf_dir, "events")))


O193 = """
WITH daily AS (
  SELECT event_type, date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
         CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
), rebased AS (
  SELECT event_type, day - MIN(day) OVER (PARTITION BY event_type) AS x, y
  FROM daily
), s AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM rebased GROUP BY 1
)
SELECT event_type, n AS n_days,
       n * sxy - sx * sy AS slope_num,
       n * sxx - sx * sx AS slope_den,
       CASE WHEN n * sxy - sx * sy > 0 THEN 'up'
            WHEN n * sxy - sx * sy < 0 THEN 'down'
            ELSE 'flat' END AS trend
FROM s ORDER BY event_type
"""


def q200_aqp_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing (BlinkDB-style): answer count/sum
    per event_type from a 1/16 DETERMINISTIC hash sample, scaled by
    the inverse sampling rate (Horvitz-Thompson with uniform
    inclusion p = 16/256), and report the estimates AGAINST the exact
    census. The gate is the q86/q120 md5 idiom — '10' is exactly
    16/256, and a hash gate (never ``rand()``) makes the sample, the
    estimates, and therefore the oracle comparison bit-reproducible
    across engines, retries and cluster sizes.

    Plan shape at 100 TB: production materializes the gated sample
    ONCE as its own table (1/16 of the bytes) and routes exploratory
    queries at it — this query computes gate, sample aggregates and
    the exact census in one scan only so the driver can hash-check
    estimate AND truth together. Estimates are exact integers
    (16 × sample sums): the error columns are honest signed deltas,
    not asserted bounds — sampling error is statistical, the q191
    discipline.
    """
    e = t(spark, sf_dir, "events").select(
        "event_type",
        VQ().alias("vq"),
        (F.substring(F.md5(F.col("event_id").cast("string")), 1, 2) < "10").alias(
            "in_sample"
        ),
    )
    return (
        e.groupBy("event_type")
        .agg(
            F.sum(F.when(F.col("in_sample"), 1).otherwise(0)).alias("n_sample"),
            F.count("*").alias("n_true"),
            F.sum(F.when(F.col("in_sample"), F.col("vq")).otherwise(0)).alias("_s"),
            F.sum("vq").alias("sum_true_cents"),
        )
        .select(
            "event_type",
            "n_sample",
            (F.col("n_sample") * 16).alias("est_n"),
            "n_true",
            (F.col("n_sample") * 16 - F.col("n_true")).alias("delta_n"),
            (F.col("_s") * 16).alias("est_sum_cents"),
            "sum_true_cents",
            (F.col("_s") * 16 - F.col("sum_true_cents")).alias("delta_sum_cents"),
        )
        .orderBy("event_type")
    )


O200 = """
WITH e AS (
  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS vq,
         substr(md5(CAST(event_id AS VARCHAR)), 1, 2) < '10' AS in_sample
  FROM events
)
SELECT event_type,
       CAST(SUM(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT) AS n_sample,
       CAST(SUM(CASE WHEN in_sample THEN 1 ELSE 0 END) * 16 AS BIGINT) AS est_n,
       COUNT(*) AS n_true,
       CAST(SUM(CASE WHEN in_sample THEN 1 ELSE 0 END) * 16 - COUNT(*) AS BIGINT) AS delta_n,
       CAST(SUM(CASE WHEN in_sample THEN vq ELSE 0 END) * 16 AS BIGINT) AS est_sum_cents,
       CAST(SUM(vq) AS BIGINT) AS sum_true_cents,
       CAST(SUM(CASE WHEN in_sample THEN vq ELSE 0 END) * 16
            - SUM(vq) AS BIGINT) AS delta_sum_cents
FROM e GROUP BY 1 ORDER BY 1
"""


QUERIES = [
    Query("q70_tumbling", q70_tumbling, O70, "tumbling window"),
    Query("q71_sliding", q71_sliding, O71, "sliding window"),
    Query("q72_sessionize", q72_sessionize, O72, "session windows (batch)"),
    Query("q73_event_type_daily", q73_event_type_daily, O73, "daily rollup"),
    Query("q74_asof_join", q74_asof_join, O74, "as-of (backward) join"),
    Query("q75_multi_grain_rollup", q75_multi_grain_rollup, O75,
          "multi-granularity GROUPING SETS rollup"),
    Query("q103_first_seen_dedup", q103_first_seen_dedup, O103,
          "first-seen event dedup (earliest ts, event_id tie-break)"),
    Query("q108_funnel", q108_funnel, O108,
          "ordered conversion funnel (staged windows, one exchange)"),
    Query("q109_retention_cohorts", q109_retention_cohorts, O109,
          "first-seen-week retention cohort triangle"),
    Query("q110_gap_fill", q110_gap_fill, O110,
          "calendar densification + forward fill (sequence/explode)"),
    Query("q114_transition_matrix", q114_transition_matrix, O114,
          "first-order Markov event-type transition matrix"),
    Query("q116_ohlc_bars", q116_ohlc_bars, O116,
          "OHLC candlestick downsampling via min_by/max_by"),
    Query("q117_twap", q117_twap, O117,
          "time-weighted average (exact integer interval weights)"),
    Query("q122_monthly_growth", q122_monthly_growth, O122,
          "month-over-month growth (lag over the aggregated series)"),
    Query("q124_path_trigrams", q124_path_trigrams, O124,
          "top event-type 3-step paths (stacked leads, one sort)"),
    Query("q126_scd2_history", q126_scd2_history, O126,
          "SCD Type-2 effective-dated history (one-exchange gaps-and-islands)"),
    Query("q132_rolling_active_users", q132_rolling_active_users, O132,
          "trailing 7-day distinct users (partial + bounded explode, no window)"),
    Query("q138_last_touch_attribution", q138_last_touch_attribution, O138,
          "last-touch 24h attribution (carried-click windows, one exchange)"),
    Query("q145_point_in_time_join", q145_point_in_time_join, O145,
          "point-in-time fact-to-SCD2 lookup (equi-join + residual validity)"),
    Query("q147_incremental_rollup", q147_incremental_rollup, O147,
          "MV maintenance: merge delta into existing partials == full recompute"),
    Query("q148_behavior_cohorts", q148_behavior_cohorts, O148,
          "audience-overlap bitmask census (one scan, never 2^k INTERSECTs)"),
    Query("q149_time_to_convert", q149_time_to_convert, O149,
          "first-view to first-purchase delay quantiles (conditional mins)"),
    Query("q150_clamped_balance", q150_clamped_balance, O150,
          "floor-at-zero running balance via the S - min(0, min S) identity"),
    Query("q200_aqp_estimates", q200_aqp_estimates, O200,
          "AQP via deterministic 1/16 hash sample (Horvitz-Thompson "
          "scaled count/sum vs the exact census; signed error deltas)"),
    Query("q193_ols_trend", q193_ols_trend, O193,
          "per-series OLS daily-revenue trend (rebased-x integer sums; "
          "exact numerator/denominator slope pair + sign class)"),
]
