"""Majority-vote consensus engine as a composed DataFrame plan.

Re-expresses the reference's dict-based merge
(`polla_app/pipeline.py:135-225` — vote build A1, majority+tie-break
A2, max deviation A3, missing sources A4, mismatch records A5,
provenance A8) as relational transforms over the long form
``(run_id, source_name, source_priority, categoria, valor)``.

Scale design: every transform is keyed by ``run_id`` — the reference
merges ONE run per process; this plan merges any number of runs in a
single job, shuffling once on ``(run_id, categoria, valor)`` for the
vote tally and once on ``(run_id, categoria)`` for the resolution
window. No driver-side loops, no collect.

Determinism (SURVEY.md §4 trap #1): the reference's tie-break is
"first value inserted wins", i.e. Python dict insertion order driven
by source registry order. Here that ordering is *data*: each payload
carries ``source_priority``; a value's tie-break key is the minimum
priority among its voters (= the earliest source that reported it),
and the winner window orders by ``(votes DESC, first_priority ASC)``.
Voter lists and missing-source lists are likewise sorted by priority,
never by task arrival order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TOTAL_PREFIX = "total"  # categories excluded from consensus (pipeline.py:154-155)
HARD_DEVIATION_CAP = 0.10  # hard-coded quarantine cap (pipeline.py:453)


def explode_montos(payloads: DataFrame, keep_totals: bool = False) -> DataFrame:
    """Payload rows -> long ``(run_id, source, priority, pos, categoria, valor)``.

    ``pos`` (position of the category inside the source's map) is kept
    so output map key-order can reproduce the reference's insertion
    order byte-for-byte in JSON artifacts.
    """
    long = payloads.select(
        "run_id",
        "source_name",
        "source_priority",
        F.posexplode("montos").alias("pos", "categoria", "valor"),
    )
    if not keep_totals:
        long = long.filter(~F.lower(F.col("categoria")).startswith(TOTAL_PREFIX))
    return long


def tally_votes(long: DataFrame) -> DataFrame:
    """A1: one row per (run, categoria, valor) with its voter coalition.

    Map-side partial aggregation applies (count/min are partial-able;
    collect_list of tiny voter structs is bounded by source count).
    """
    return long.groupBy("run_id", "categoria", "valor").agg(
        F.count("*").alias("votes"),
        F.min("source_priority").alias("first_priority"),
        F.array_sort(
            F.collect_list(F.struct("source_priority", "source_name"))
        ).alias("_voters_ranked"),
    ).withColumn(
        "voters", F.transform("_voters_ranked", lambda s: s["source_name"])
    ).drop("_voters_ranked")


def rank_candidates(votes: DataFrame) -> DataFrame:
    """A2: total order within each category; rank 1 is the winner."""
    w = Window.partitionBy("run_id", "categoria").orderBy(
        F.desc("votes"), F.asc("first_priority")
    )
    return votes.withColumn("rank", F.row_number().over(w))


def resolve_categories(ranked: DataFrame) -> DataFrame:
    """A2+A3+A5 core: per (run, categoria) winner, deviation, disagreement.

    ``max_deviation`` reproduces pipeline.py:176-188: max |v - w| / w
    over candidate values when the winner is positive, rounded to 4
    places, and only defined when there was disagreement.
    """
    return (
        ranked.groupBy("run_id", "categoria")
        .agg(
            F.max(F.when(F.col("rank") == 1, F.col("valor"))).alias("winner_valor"),
            F.max(F.when(F.col("rank") == 1, F.col("voters"))).alias("winner_voters"),
            F.min(F.when(F.col("rank") == 1, F.col("first_priority"))).alias(
                "winner_first_priority"
            ),
            F.count("*").alias("n_values"),
            F.max(
                F.when(F.col("rank") > 1, F.col("valor"))
            ).isNotNull().alias("_has_losers"),
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("rank") > 1,
                        F.struct(
                            F.col("rank").alias("rank"),
                            F.col("valor").cast("string").alias("valor_str"),
                            F.col("voters").alias("voters"),
                        ),
                    )
                )
            ).alias("_losers_ranked"),
        )
        .withColumn(
            "disagreeing",
            F.map_from_entries(
                F.when(
                    F.size("_losers_ranked") > 0,
                    F.transform(
                        "_losers_ranked",
                        lambda s: F.struct(s["valor_str"], s["voters"]),
                    ),
                ).otherwise(F.array().cast("array<struct<valor_str:string,voters:array<string>>>"))
            ),
        )
        .drop("_losers_ranked", "_has_losers")
    )


def attach_deviation(resolved: DataFrame, ranked: DataFrame) -> DataFrame:
    """A3: max relative deviation of losing values vs the winner."""
    dev = (
        ranked.groupBy("run_id", "categoria")
        .agg(F.collect_list("valor").alias("_vals"), F.count("*").alias("_n"))
    )
    joined = resolved.join(dev, ["run_id", "categoria"], "left")
    deviation = F.when(
        F.col("n_values") > 1,
        F.when(
            F.col("winner_valor") > 0,
            F.round(
                F.array_max(
                    F.transform(
                        "_vals",
                        lambda v: F.abs(v - F.col("winner_valor"))
                        / F.col("winner_valor"),
                    )
                ),
                4,
            ),
        ).otherwise(F.lit(0.0)),
    )
    return joined.withColumn("max_deviation", deviation).drop("_vals", "_n")


def missing_sources(long: DataFrame, payloads: DataFrame, resolved: DataFrame) -> DataFrame:
    """A4: per (run, categoria), responded sources lacking that category.

    "Responded" means the source produced a non-empty payload for the
    run (reference keeps every collected entry, pipeline.py:166-173);
    a source that reported only excluded 'Total*' rows still counts as
    responded, hence the anti-join is against the *payload* roster.
    Output order = source priority (reference: collected order).
    """
    roster = payloads.select("run_id", "source_name", "source_priority").distinct()
    cats = resolved.select("run_id", "categoria")
    voters = long.select("run_id", "categoria", "source_name").distinct()
    return (
        cats.join(roster, "run_id")
        .join(voters, ["run_id", "categoria", "source_name"], "left_anti")
        .groupBy("run_id", "categoria")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("source_priority", "source_name"))),
                lambda s: s["source_name"],
            ).alias("missing_sources")
        )
    )


def _is_mismatch() -> Column:
    """A category the reference records (pipeline.py:175-201): its
    sources disagree, or a responded source lacks it."""
    return (F.col("n_values") > 1) | (F.size("missing_sources") > 0)


def _mismatch_fields() -> list[Column]:
    """One mismatch record's fields, from a ``categories`` row."""
    return [
        F.col("categoria"),
        F.col("winner_valor"),
        F.col("winner_voters"),
        F.col("disagreeing"),
        # deviation key only exists for true disagreements (pipeline.py:183-201)
        F.when(F.col("n_values") > 1, F.col("max_deviation")).alias("max_deviation"),
        F.col("missing_sources"),
    ]


def consensus(payloads: DataFrame) -> dict[str, DataFrame]:
    """Full consensus pass. Returns the composed intermediate frames.

    Keys: ``long``, ``ranked``, ``categories`` (one row per run+categoria
    with winner/deviation/disagreement/missing), ``mismatches`` (only
    rows the reference would record, pipeline.py:175-201).
    """
    long = explode_montos(payloads)
    ranked = rank_candidates(tally_votes(long))
    cats = attach_deviation(resolve_categories(ranked), ranked)
    miss = missing_sources(long, payloads, cats)
    categories = cats.join(miss, ["run_id", "categoria"], "left").withColumn(
        "missing_sources",
        F.coalesce(F.col("missing_sources"), F.array().cast("array<string>")),
    )
    mismatches = categories.filter(_is_mismatch()).select("run_id", *_mismatch_fields())
    return {
        "long": long,
        "ranked": ranked,
        "categories": categories,
        "mismatches": mismatches,
    }


def category_order(long: DataFrame) -> DataFrame:
    """First-appearance order of categories (dict insertion parity).

    The reference's ``resolved`` dict iterates categories in the order
    they were first seen across sources (pipeline.py:149-157); that is
    ``min(struct(source_priority, pos))`` per category.
    """
    return long.groupBy("run_id", "categoria").agg(
        F.min(F.struct("source_priority", "pos")).alias("first_seen")
    )


def resolved_map(categories: DataFrame, long: DataFrame) -> DataFrame:
    """Per run: ``pozos_proximo`` map, entries ordered by first_seen,
    and ``mismatches``, the run's mismatch records in first_seen order
    (the order the reference's report lists them in).

    Note: map entry order does not survive every transport (the
    Python->JVM dict conversion hashes it), so artifact writers pin
    their own canonical order; this ordering is best-effort only.
    """
    order = category_order(long)
    # a record holds a map, which array_sort cannot order by itself,
    # hence the comparator on first_seen alone
    mismatch = F.when(
        _is_mismatch(),
        F.struct("first_seen", F.struct(*_mismatch_fields()).alias("m")),
    )
    return (
        categories.join(order, ["run_id", "categoria"])
        .groupBy("run_id")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(mismatch),
                    lambda a, b: F.when(a["first_seen"] < b["first_seen"], -1)
                    .when(a["first_seen"] > b["first_seen"], 1)
                    .otherwise(0),
                ),
                lambda s: s["m"],
            ).alias("mismatches"),
            F.map_from_entries(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("first_seen", "categoria", "winner_valor")
                        )
                    ),
                    lambda s: F.struct(s["categoria"], s["winner_valor"]),
                )
            ).alias("pozos_proximo"),
            F.count("*").alias("total_categories"),
            F.sum(F.when(F.col("n_values") > 1, 1).otherwise(0)).alias(
                "mismatched_categories"
            ),
            F.coalesce(F.max("max_deviation"), F.lit(0.0)).alias("max_deviation"),
        )
        .withColumn(
            "mismatch_ratio",
            # pipeline.py:383-387: mismatched / total categories
            F.when(
                F.col("total_categories") > 0,
                F.col("mismatched_categories") / F.col("total_categories"),
            ).otherwise(F.lit(0.0)),
        )
    )


def provenance(payloads: DataFrame) -> DataFrame:
    """A8: primary (lowest priority) + priority-ordered alternatives."""
    desc = F.struct(
        "source_priority",
        F.struct(
            "source_name",
            "fuente",
            "fetched_at",
            "sha256",
            "user_agent",  # reference descriptor carries the fetch UA
            "estimado",
            "sorteo",
            "fecha",
        ).alias("d"),
    )
    per_run = payloads.groupBy("run_id").agg(
        F.array_sort(F.collect_list(desc)).alias("_ranked"),
        F.count("*").alias("n_collected"),
    )
    return per_run.select(
        "run_id",
        "n_collected",
        F.col("_ranked")[0]["d"].alias("primary"),
        F.expr("transform(slice(_ranked, 2, size(_ranked)), s -> s.d)").alias(
            "alternatives"
        ),
    )


def confidence_col(n_collected: Column, expected: Column, mismatch_ratio: Column) -> Column:
    """A7 (pipeline.py:391-404): degraded / single_source / full."""
    return (
        F.when((n_collected < expected) | (mismatch_ratio > 0), F.lit("degraded"))
        .when(n_collected == 1, F.lit("single_source"))
        .otherwise(F.lit("full"))
    )


def normalized_records(
    payloads: DataFrame,
    expected_sources: int,
    parts: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Assemble the per-run normalized record (pipeline.py:409-417),
    with the run's ``mismatches`` (:func:`resolved_map`) beside it so
    one query answers a whole run; the optimizer drops that column
    where it goes unused.

    ``parts`` is ``consensus(payloads)`` when the caller already built
    it for other outputs, so the plan is constructed once.
    """
    if parts is None:
        parts = consensus(payloads)
    res = resolved_map(parts["categories"], parts["long"])
    prov = provenance(payloads)
    return (
        prov.join(res, "run_id", "left")
        .withColumn(
            "pozos_proximo",
            F.coalesce(
                F.col("pozos_proximo"), F.expr("cast(map() as map<string,bigint>)")
            ),
        )
        .withColumn("total_categories", F.coalesce("total_categories", F.lit(0)))
        .withColumn(
            "mismatched_categories", F.coalesce("mismatched_categories", F.lit(0))
        )
        .withColumn("mismatch_ratio", F.coalesce("mismatch_ratio", F.lit(0.0)))
        .withColumn("max_deviation", F.coalesce("max_deviation", F.lit(0.0)))
        .select(
            "run_id",
            F.col("primary")["sorteo"].alias("sorteo"),
            F.col("primary")["fecha"].alias("fecha"),
            F.col("primary")["fuente"].alias("fuente"),
            confidence_col(
                F.col("n_collected"), F.lit(expected_sources), F.col("mismatch_ratio")
            ).alias("confidence"),
            F.expr(
                "cast(array() as array<struct<categoria:string,premio_clp:bigint,ganadores:bigint>>)"
            ).alias("premios"),
            "pozos_proximo",
            F.struct(
                F.struct(F.col("primary"), F.col("alternatives")).alias("pozos")
            ).alias("provenance"),
            "total_categories",
            "mismatched_categories",
            "mismatch_ratio",
            "max_deviation",
            "n_collected",
            "mismatches",
        )
    )


# ---------------------------------------------------------------------------
# Delta vs previous state (A9) + decision (A10)
# ---------------------------------------------------------------------------

def _map_as_sorted_entries(m: Column) -> Column:
    """MapType is not comparable in Spark; dict == in Python is
    key-order-insensitive — compare sorted entry arrays instead
    (SURVEY.md §4 trap #2)."""
    return F.array_sort(F.map_entries(m))


def with_unchanged(current: DataFrame, state: DataFrame) -> DataFrame:
    """A9 (pipeline.py:257-285): ``unchanged`` column per run.

    Match previous state on null-safe (sorteo, fecha); unchanged if the
    primary content hash matches (PROV-01 short-circuit — cheap string
    equality *first* in the predicate, so the map comparison only
    evaluates for hash misses) or the resolved amount maps are equal.
    """
    prev = state.select(
        F.col("sorteo").alias("_p_sorteo"),
        F.col("fecha").alias("_p_fecha"),
        F.col("primary_sha256").alias("_p_sha"),
        F.col("pozos_proximo").alias("_p_pozos"),
    )
    slim = current.select(
        "run_id",
        "sorteo",
        "fecha",
        F.col("provenance")["pozos"]["primary"]["sha256"].alias("_cur_sha"),
        "pozos_proximo",
    )
    joined = slim.join(
        prev,
        slim["sorteo"].eqNullSafe(prev["_p_sorteo"])
        & slim["fecha"].eqNullSafe(prev["_p_fecha"]),
        "left",
    )
    same = F.when(
        F.col("_p_sha").isNotNull()
        & F.col("_cur_sha").isNotNull()
        & (F.col("_cur_sha") == F.col("_p_sha")),
        F.lit(True),
    ).otherwise(
        _map_as_sorted_entries(F.col("pozos_proximo"))
        == _map_as_sorted_entries(F.col("_p_pozos"))
    )
    flags = joined.withColumn("_match", F.coalesce(same, F.lit(False))).groupBy(
        "run_id"
    ).agg(F.max("_match").alias("unchanged"))
    # state is tiny (last-run record) -> broadcast side of the join at scale
    return current.join(flags, "run_id", "left").withColumn(
        "unchanged", F.coalesce(F.col("unchanged"), F.lit(False))
    )


def decide(
    flagged: DataFrame,
    *,
    mismatch_threshold: float = 0.25,
    force_publish: bool = False,
) -> DataFrame:
    """A10 (pipeline.py:439-459): skip | quarantine | publish(+forced).

    Pure column logic over the per-run aggregate row; reason strings
    match the reference's formats exactly.
    """
    ratio = F.col("mismatch_ratio")
    dev = F.col("max_deviation")
    unchanged = F.col("unchanged")
    quarantine = (ratio > mismatch_threshold) | (dev > HARD_DEVIATION_CAP)
    status = (
        F.when(unchanged & F.lit(force_publish), F.lit("publish_forced"))
        .when(unchanged, F.lit("skip"))
        .when(quarantine, F.lit("quarantine"))
        .otherwise(F.lit("publish"))
    )
    reason = (
        F.when(unchanged & F.lit(force_publish), F.lit("force_publish_requested"))
        .when(unchanged, F.lit("sorteo_fecha_and_amounts_unchanged"))
        .when(
            dev > HARD_DEVIATION_CAP,
            F.format_string("max_deviation_%.2f_exceeds_threshold_0.10", dev),
        )
        .when(
            ratio > mismatch_threshold,
            F.format_string(
                f"mismatch_ratio_%.2f_exceeds_threshold_{mismatch_threshold}", ratio
            ),
        )
        .otherwise(F.lit("updated_or_new_amounts"))
    )
    publish = status.isin("publish", "publish_forced")
    return flagged.select(
        "*",
        status.alias("status"),
        publish.alias("publish"),
        reason.alias("publish_reason"),
    )
