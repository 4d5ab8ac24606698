"""Majority-vote consensus engine: one row per run, resolved in-row.

Re-expresses the reference's dict-based merge
(`polla_app/pipeline.py:135-225` — vote build A1, majority+tie-break
A2, max deviation A3, missing sources A4, mismatch records A5,
provenance A8) as one per-run kernel.

Plan shape: one ``groupBy("run_id")`` gathers each run's sources into
an array ordered by ``(source_priority, source_name)``; everything the
reference computes per run is then computed inside that row with SQL
higher-order functions (``transform``/``filter``/``exists``/
``array_sort``). A run's array is bounded by sources x categories, so
any number of runs resolve with ONE shuffle on ``run_id``; the state
delta adds one tiny aggregate of the state frame. A warm daily call
(2 sources, ``local[4]``) runs 4 Spark jobs / 6 stages. No
driver-side loops, no collect.

Determinism (SURVEY.md §4 trap #1): the reference's tie-break is
"first value inserted wins", i.e. Python dict insertion order driven
by source registry order. Here that ordering is *data*: each payload
carries ``source_priority``, and a run's entries are laid out in
``(source_priority, source_name, map position)`` order, so a value's
first-seen index is its tie-break key and candidates rank by
``(votes DESC, first_seen ASC)``. Categories, voters and missing
sources keep that order, never task arrival order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOTAL_PREFIX = "total"  # categories excluded from consensus (pipeline.py:154-155)
HARD_DEVIATION_CAP = 0.10  # hard-coded quarantine cap (pipeline.py:453)

# The kernel is SQL text: built with the Column API, its nested lambdas
# cost ~3500 py4j round-trips per plan (~0.5 s of a warm daily call on a
# 4-vCPU VM); parsed, a handful.

#: A run's payloads ordered by (source_priority, source_name). The
#: comparator is needed because a payload struct holds the ``montos``
#: map, which the natural struct order cannot compare.
_SOURCES = """array_sort(
  collect_list(named_struct(
    'source_priority', source_priority, 'source_name', source_name, 'montos', montos,
    'd', struct(source_name, fuente, fetched_at, sha256, user_agent, estimado, sorteo, fecha))),
  (a, b) -> CASE WHEN struct(a.source_priority, a.source_name)
                      < struct(b.source_priority, b.source_name) THEN -1
                 WHEN struct(a.source_priority, a.source_name)
                      > struct(b.source_priority, b.source_name) THEN 1
                 ELSE 0 END)"""

#: Every source's montos in source order, then map position order; a
#: NULL map adds no entries; 'Total*' categories are dropped.
_ENTRIES = f"""filter(
  flatten(filter(
    transform(sources, s -> transform(map_entries(s.montos), m -> named_struct(
      'source_priority', s.source_priority, 'source_name', s.source_name,
      'categoria', m.key, 'valor', m.value))),
    a -> a IS NOT NULL)),
  e -> NOT lower(e.categoria) LIKE '{TOTAL_PREFIX}%')"""

#: Per category ``c`` (first-seen order): its candidate values, rank 1
#: first under (votes DESC, first seen ASC), the natural order of these
#: structs; and the names of the sources that reported it.
_RANKED = """transform(array_distinct(transform(entries, e -> e.categoria)), c -> named_struct(
  'categoria', c,
  'cands', array_sort(transform(
    array_distinct(transform(filter(entries, e -> e.categoria = c), e -> e.valor)),
    (v, i) -> named_struct(
      'neg_votes', -size(filter(entries, e -> e.categoria = c AND e.valor <=> v)),
      'first_seen', i,
      'valor', v,
      'voters', transform(filter(entries, e -> e.categoria = c AND e.valor <=> v),
                          e -> e.source_name)))),
  'names', transform(filter(entries, e -> e.categoria = c), e -> e.source_name)))"""

#: One category's consensus. ``max_deviation`` (pipeline.py:176-188) is
#: max |v - w| / w over candidate values when the winner is positive,
#: rounded to 4 places, and only defined when there was disagreement.
_CATEGORY = """named_struct(
  'categoria', r.categoria,
  'winner_valor', r.cands[0].valor,
  'winner_voters', r.cands[0].voters,
  'votes', -r.cands[0].neg_votes,
  'n_values', size(r.cands),
  'disagreeing', map_from_entries(transform(
    filter(r.cands, (x, i) -> i > 0), x -> struct(CAST(x.valor AS STRING), x.voters))),
  'max_deviation', CASE WHEN size(r.cands) > 1 THEN
    CASE WHEN r.cands[0].valor > 0
         THEN round(array_max(transform(
           r.cands, x -> abs(x.valor - r.cands[0].valor) / r.cands[0].valor)), 4)
         ELSE 0.0D END END,
  'missing_sources', transform(
    filter(roster, s -> NOT array_contains(r.names, s.source_name)), s -> s.source_name))"""

_MISMATCHED = "size(filter(cats, c -> c.n_values > 1))"

#: Run-level columns over ``cats``.
_RUN = {
    "pozos_proximo": "map_from_entries(transform(cats, c -> struct(c.categoria, c.winner_valor)))",
    # a category the reference records (pipeline.py:175-201): its sources
    # disagree, or a responded source lacks it; first-seen order, [] if none
    "mismatches": """transform(
      filter(cats, c -> c.n_values > 1 OR size(c.missing_sources) > 0),
      c -> named_struct(
        'categoria', c.categoria, 'winner_valor', c.winner_valor,
        'winner_voters', c.winner_voters, 'disagreeing', c.disagreeing,
        'max_deviation', c.max_deviation, 'missing_sources', c.missing_sources))""",
    "total_categories": "size(cats)",
    "mismatched_categories": _MISMATCHED,
    # pipeline.py:383-387: mismatched / total categories
    "mismatch_ratio": f"CASE WHEN size(cats) > 0 THEN {_MISMATCHED} / size(cats) ELSE 0.0D END",
    "max_deviation": "coalesce(array_max(transform(cats, c -> c.max_deviation)), 0.0D)",
    "n_sources": "size(roster)",
}


def resolve(runs: DataFrame, members: str) -> DataFrame:
    """A1-A5 inside each run's row.

    ``runs`` holds ``entries``, an array of ``(source_priority,
    source_name, categoria, valor)`` in first-seen order, and the
    column ``members`` whose elements' ``(source_priority,
    source_name)`` are the run's responded sources. Adds those as
    ``roster``, ``cats`` (one struct per category, first-seen order)
    and the run-level columns of ``_RUN``.

    "Responded" means the source produced a payload for the run
    (reference keeps every collected entry, pipeline.py:166-173); a
    source that reported only excluded 'Total*' rows still counts.
    """
    roster = f"""array_distinct(transform({members}, s -> named_struct(
      'source_priority', s.source_priority, 'source_name', s.source_name)))"""
    return (
        runs.selectExpr("*", f"{roster} AS roster")
        .selectExpr("*", f"transform({_RANKED}, r -> {_CATEGORY}) AS cats")
        .selectExpr("*", *[f"{sql} AS {name}" for name, sql in _RUN.items()])
    )


def runs_of(payloads: DataFrame) -> DataFrame:
    """SOURCE_PAYLOAD rows -> one resolved row per run (the one shuffle):
    ``sources`` (the run's payloads by priority), ``entries``, ``cats``
    and the run-level columns (:func:`resolve`)."""
    runs = payloads.groupBy("run_id").agg(F.expr(_SOURCES).alias("sources"))
    return resolve(runs.selectExpr("*", f"{_ENTRIES} AS entries"), "sources")


def consensus(payloads: DataFrame) -> dict[str, DataFrame]:
    """Full consensus pass. Keys: ``categories`` (one row per
    run+categoria with winner/deviation/disagreement/missing) and
    ``mismatches`` (only rows the reference would record,
    pipeline.py:175-201), both narrow ``inline``s of :func:`runs_of`.
    """
    runs = runs_of(payloads)
    return {
        "categories": runs.selectExpr("run_id", "inline(cats)"),
        "mismatches": runs.selectExpr("run_id", "inline(mismatches)"),
    }


#: A8: primary (lowest priority) + priority-ordered alternatives.
_PRIMARY = "sources[0].d"
_ALTERNATIVES = "transform(filter(sources, (s, i) -> i > 0), s -> s.d)"


def provenance(payloads: DataFrame) -> DataFrame:
    """A8 per run: ``n_collected``, ``primary``, ``alternatives``."""
    return runs_of(payloads).selectExpr(
        "run_id",
        "size(sources) AS n_collected",
        f"{_PRIMARY} AS primary",
        f"{_ALTERNATIVES} AS alternatives",
    )


def confidence_col(n_collected: Column, expected: Column, mismatch_ratio: Column) -> Column:
    """A7 (pipeline.py:391-404): degraded / single_source / full."""
    return (
        F.when((n_collected < expected) | (mismatch_ratio > 0), F.lit("degraded"))
        .when(n_collected == 1, F.lit("single_source"))
        .otherwise(F.lit("full"))
    )


def normalized_records(payloads: DataFrame, expected_sources: int) -> DataFrame:
    """Assemble the per-run normalized record (pipeline.py:409-417),
    with the run's ``mismatches`` beside it so one query answers a
    whole run; the optimizer drops that column where it goes unused."""
    n_collected = F.expr("size(sources)")
    return runs_of(payloads).select(
        "run_id",
        F.expr(f"{_PRIMARY}.sorteo AS sorteo"),
        F.expr(f"{_PRIMARY}.fecha AS fecha"),
        F.expr(f"{_PRIMARY}.fuente AS fuente"),
        confidence_col(
            n_collected, F.lit(expected_sources), F.col("mismatch_ratio")
        ).alias("confidence"),
        F.expr(
            "cast(array() as array<struct<categoria:string,premio_clp:bigint,ganadores:bigint>>)"
        ).alias("premios"),
        "pozos_proximo",
        F.expr(
            f"struct(struct({_PRIMARY} AS primary, {_ALTERNATIVES} AS alternatives) AS pozos)"
        ).alias("provenance"),
        "total_categories",
        "mismatched_categories",
        "mismatch_ratio",
        "max_deviation",
        n_collected.alias("n_collected"),
        "mismatches",
    )


# ---------------------------------------------------------------------------
# Delta vs previous state (A9) + decision (A10)
# ---------------------------------------------------------------------------

def with_unchanged(current: DataFrame, state: DataFrame) -> DataFrame:
    """A9 (pipeline.py:257-285): ``unchanged`` column per run.

    The state is grouped by (sorteo, fecha) and left-joined once on
    those keys, null-safe; a run is unchanged if any previous record
    under its keys has the same primary content hash (PROV-01
    short-circuit — cheap string equality *first*, so the map
    comparison only evaluates for hash misses) or equal amount maps.
    MapType is not comparable in Spark and dict == in Python is
    key-order-insensitive, so maps compare as sorted entry arrays
    (SURVEY.md §4 trap #2).
    """
    prev = state.groupBy(
        F.col("sorteo").alias("_p_sorteo"), F.col("fecha").alias("_p_fecha")
    ).agg(F.expr(
        "collect_list(named_struct("
        "'sha', primary_sha256, 'pozos', array_sort(map_entries(pozos_proximo)))) AS _prev"
    ))
    joined = current.join(
        prev,
        current["sorteo"].eqNullSafe(prev["_p_sorteo"])
        & current["fecha"].eqNullSafe(prev["_p_fecha"]),
        "left",
    )
    sha = "provenance.pozos.primary.sha256"
    same = F.expr(f"""coalesce(exists(_prev, p ->
        (p.sha IS NOT NULL AND {sha} IS NOT NULL AND {sha} = p.sha)
        OR array_sort(map_entries(pozos_proximo)) = p.pozos), false) AS unchanged""")
    return joined.select(*current.columns, same)


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
