"""KLL quantile-sketch verification kernel of q202.

Spark's ``percentile_approx``/``approx_percentile`` is backed by a
KLL-family mergeable sketch (Karnin–Lang–Liberty lineage via the
QuantileSummaries/Greenwald-Khanna implementation): fixed memory per
group, map-side partial sketches, MERGE-closed combine — the 100 TB
percentile form (a full sort per group is the thing it replaces).
Unlike KMV (functions/kmv.py) the sketch values are
IMPLEMENTATION-DEFINED — the returned value depends on compaction
history, hence on partitioning and merge ORDER — so no cross-engine
value hash is possible by construction. What IS portable is the
documented guarantee: for accuracy parameter ``acc``, the returned
value's true rank is within ``n/acc`` of the target rank ``p·n``.

This module verifies that guarantee IN-PLAN (the q177/q178 loud-abort
pattern): one conditional-sum census pass computes each returned
value's exact rank window ``[count(x<v), count(x<=v)]`` and the query
ABORTS unless ``p·n`` falls inside it ± ``n/acc + 1``. The same
verifier runs over

- the natural-partitioning sketch and
- an ADVERSARIAL merge order (value-range-sorted runs — each
  partition a contiguous value range, the classic worst case for
  rank-sketch merging),

so "mergeable within the documented bound under ANY merge order" is
a pinned property, not prose.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

QUANTILE_ACC = 100            # documented rank error: n/acc = 1%
QUANTILE_PCTS = [0.25, 0.5, 0.9]


def approx_group_quantiles(
    fact: DataFrame,
    key: str,
    val: str,
    pcts: list[float] | None = None,
    acc: int = QUANTILE_ACC,
) -> DataFrame:
    """(key, n, pct, v): one mergeable-sketch aggregation, exploded to
    a row per requested percentile."""
    pcts = QUANTILE_PCTS if pcts is None else pcts
    return (
        fact.groupBy(key)
        .agg(
            F.percentile_approx(val, pcts, F.lit(acc)).alias("vals"),
            F.count("*").alias("n"),
        )
        .select(
            key,
            "n",
            F.posexplode("vals").alias("_i", "v"),
        )
        .withColumn(
            "pct",
            F.element_at(F.array(*[F.lit(p) for p in pcts]), F.col("_i") + 1),
        )
        .drop("_i")
    )


def rank_bound_verify(
    approx: DataFrame,
    fact: DataFrame,
    key: str,
    val: str,
    acc: int = QUANTILE_ACC,
    tag: str = "quantile sketch",
) -> DataFrame:
    """Exact-rank census of each sketch value + in-plan abort on a
    guarantee violation. ``approx`` is report-sized (keys × pcts), so
    it broadcasts; the census is ONE conditional-sum pass over the
    fact. Returns (key, pct, n, approx_value, rank_lt, rank_le,
    verified) with ``verified`` all-true or the job dead."""
    # internal names are prefixed so a fact column named "v"/"n"/"pct"
    # can't collide with the sketch table's after the join
    sk = approx.select(
        key,
        F.col("n").alias("__q_n"),
        F.col("pct").alias("__q_pct"),
        F.col("v").alias("__q_v"),
    )
    ranks = (
        fact.select(key, val)
        .join(F.broadcast(sk), key)
        .groupBy(key, "__q_pct", "__q_n", "__q_v")
        .agg(
            F.sum(
                F.when(F.col(val) < F.col("__q_v"), 1).otherwise(0)
            ).alias("rank_lt"),
            F.sum(
                F.when(F.col(val) <= F.col("__q_v"), 1).otherwise(0)
            ).alias("rank_le"),
        )
    )
    err = F.col("__q_n") / F.lit(acc) + F.lit(1)
    target = F.col("__q_pct") * F.col("__q_n")
    out = ranks.select(
        key,
        F.col("__q_pct").alias("pct"),
        F.col("__q_n").alias("n"),
        F.col("__q_v").alias("approx_value"),
        "rank_lt",
        "rank_le",
        (
            (target >= F.col("rank_lt") - err)
            & (target <= F.col("rank_le") + err)
        ).alias("verified"),
    )
    n_bad = out.filter(~F.col("verified")).agg(F.count("*").alias("_nbad"))
    return (
        out.crossJoin(F.broadcast(n_bad))
        .filter(
            F.coalesce(
                F.assert_true(
                    F.col("_nbad") == 0,
                    F.lit(f"{tag}: rank guarantee violated"),
                ),
                F.lit(True),
            )
        )
        .drop("_nbad")
    )
