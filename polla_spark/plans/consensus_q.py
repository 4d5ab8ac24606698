"""Consensus kernel exercised at table scale, oracle-checked.

The reference merges ONE run of 2 sources x 9 categories
(pipeline.py:135-225). Here the same kernel operators
(polla_spark.operators.consensus) run over a payload table *derived
deterministically from the events testdata* — ~30 runs x 4 sources x
5 categories at sf0.01, and proportionally more rows at scale — and
every stage is hash-checked against an ANSI-SQL restatement of the
semantics in DuckDB.

Derivation (identical in both engines): run = UTC day of ts, source =
user_id % 4 (priority = that index), categoria = event_type, valor =
max over the group of |floor(value*100)| % 50 (small domain so
sources genuinely agree/disagree).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import consensus as C
from . import Query
from .relational import t

PAYLOAD_CTE = """
WITH plong AS (
  SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS run_id,
         's' || CAST(user_id % 4 AS VARCHAR) AS source_name,
         CAST(user_id % 4 AS INT) AS source_priority,
         event_type AS categoria,
         MAX(abs(CAST(floor(value * 100) AS BIGINT)) % 50) AS valor
  FROM events
  GROUP BY 1, 2, 3, 4
)
"""


def payload_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The long-form payload table (engine side of PAYLOAD_CTE)."""
    e = t(spark, sf_dir, "events")
    return (
        e.select(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("run_id"),
            F.concat(F.lit("s"), (F.col("user_id") % 4).cast("string")).alias("source_name"),
            (F.col("user_id") % 4).cast("int").alias("source_priority"),
            F.col("event_type").alias("categoria"),
            (F.abs(F.floor(F.col("value") * 100)).cast("long") % 50).alias("valor"),
        )
        .groupBy("run_id", "source_name", "source_priority", "categoria")
        .agg(F.max("valor").alias("valor"))
    )


def sparse_payload_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload table from the sparse event slice (value < 5)."""
    e = t(spark, sf_dir, "events").filter(F.col("value") < 5)
    return (
        e.select(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("run_id"),
            F.concat(F.lit("s"), (F.col("user_id") % 4).cast("string")).alias("source_name"),
            (F.col("user_id") % 4).cast("int").alias("source_priority"),
            F.col("event_type").alias("categoria"),
            (F.abs(F.floor(F.col("value") * 100)).cast("long") % 50).alias("valor"),
        )
        .groupBy("run_id", "source_name", "source_priority", "categoria")
        .agg(F.max("valor").alias("valor"))
    )


def _categories(long: DataFrame) -> DataFrame:
    """One row per (run, categoria): the engine's own per-run kernel
    (``C.resolve``) over the derived table, inlined."""
    return _runs(long).select("run_id", F.inline("cats"))


def _runs(long: DataFrame) -> DataFrame:
    """Long rows -> one resolved row per run; entries sort by (priority,
    source, categoria, valor), so sources keep registry order."""
    entries = F.array_sort(
        F.collect_list(F.struct("source_priority", "source_name", "categoria", "valor"))
    )
    return C.resolve(long.groupBy("run_id").agg(entries.alias("entries")), "entries")


def q40_consensus_winner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A2: vote tally + majority winner with priority tie-break."""
    return (
        _categories(payload_long(spark, sf_dir))
        .select(
            "run_id",
            "categoria",
            "winner_valor",
            "votes",
            F.array_join("winner_voters", ",").alias("winner_voters"),
        )
        .orderBy("run_id", "categoria")
    )


O40 = PAYLOAD_CTE + """
, votes AS (
  SELECT run_id, categoria, valor,
         COUNT(*) AS votes,
         MIN(source_priority) AS first_priority,
         string_agg(source_name, ',' ORDER BY source_priority) AS winner_voters
  FROM plong GROUP BY run_id, categoria, valor
)
SELECT run_id, categoria, valor AS winner_valor, votes, winner_voters
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY run_id, categoria
            ORDER BY votes DESC, first_priority ASC) AS rn
  FROM votes
) WHERE rn = 1
ORDER BY run_id, categoria
"""


def q41_consensus_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: max relative deviation vs winner, disagreements only."""
    return (
        _categories(payload_long(spark, sf_dir))
        .filter(F.col("n_values") > 1)
        .select("run_id", "categoria", "winner_valor", "n_values", "max_deviation")
        .orderBy("run_id", "categoria")
    )


O41 = PAYLOAD_CTE + """
, votes AS (
  SELECT run_id, categoria, valor, COUNT(*) AS votes, MIN(source_priority) AS first_priority
  FROM plong GROUP BY run_id, categoria, valor
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY run_id, categoria
            ORDER BY votes DESC, first_priority ASC) AS rn
  FROM votes
), winners AS (
  SELECT run_id, categoria, valor AS winner_valor FROM ranked WHERE rn = 1
)
SELECT v.run_id, v.categoria, w.winner_valor,
       COUNT(*) AS n_values,
       CASE WHEN w.winner_valor > 0
            THEN ROUND(MAX(abs(v.valor - w.winner_valor) / CAST(w.winner_valor AS DOUBLE)), 4)
            ELSE 0.0 END AS max_deviation
FROM votes v JOIN winners w USING (run_id, categoria)
GROUP BY v.run_id, v.categoria, w.winner_valor
HAVING COUNT(*) > 1
ORDER BY v.run_id, v.categoria
"""


def q42_consensus_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: per (run, categoria), responded sources lacking the category.

    Uses a sparse payload slice (value < 5) so absent combinations
    actually occur — on the dense table every source reports every
    category and the missing lists are all empty.
    """
    return (
        _categories(sparse_payload_long(spark, sf_dir))
        .filter(F.size("missing_sources") > 0)
        .select(
            "run_id", "categoria", F.array_join("missing_sources", ",").alias("missing")
        )
        .orderBy("run_id", "categoria")
    )


SPARSE_CTE = PAYLOAD_CTE.replace("FROM events", "FROM events WHERE value < 5")

O42 = SPARSE_CTE + """
, roster AS (SELECT DISTINCT run_id, source_name, source_priority FROM plong),
  cats AS (SELECT DISTINCT run_id, categoria FROM plong),
  voters AS (SELECT DISTINCT run_id, categoria, source_name FROM plong)
SELECT c.run_id, c.categoria,
       string_agg(r.source_name, ',' ORDER BY r.source_priority) AS missing
FROM cats c JOIN roster r ON c.run_id = r.run_id
WHERE NOT EXISTS (SELECT 1 FROM voters v
                  WHERE v.run_id = c.run_id AND v.categoria = c.categoria
                    AND v.source_name = r.source_name)
GROUP BY c.run_id, c.categoria
ORDER BY c.run_id, c.categoria
"""


def q43_consensus_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6+A7: per-run mismatch ratio and confidence label (expected=4)."""
    return (
        _runs(payload_long(spark, sf_dir))
        .select(
            "run_id",
            "total_categories",
            F.col("mismatched_categories").alias("mismatched"),
            "n_sources",
            F.round("mismatch_ratio", 4).alias("mismatch_ratio"),
            C.confidence_col(
                F.col("n_sources"), F.lit(4), F.col("mismatched_categories")
            ).alias("confidence"),
        )
        .orderBy("run_id")
    )


O43 = PAYLOAD_CTE + """
, votes AS (
  SELECT run_id, categoria, valor, COUNT(*) AS votes
  FROM plong GROUP BY run_id, categoria, valor
), per_cat AS (
  SELECT run_id, categoria, COUNT(*) AS n_values
  FROM votes GROUP BY run_id, categoria
), per_run AS (
  SELECT run_id, COUNT(*) AS total_categories,
         CAST(SUM(CASE WHEN n_values > 1 THEN 1 ELSE 0 END) AS BIGINT) AS mismatched
  FROM per_cat GROUP BY run_id
), n_src AS (
  SELECT run_id, COUNT(DISTINCT source_name) AS n_sources FROM plong GROUP BY run_id
)
SELECT p.run_id, p.total_categories, p.mismatched, s.n_sources,
       ROUND(p.mismatched / CAST(p.total_categories AS DOUBLE), 4) AS mismatch_ratio,
       CASE WHEN s.n_sources < 4 OR p.mismatched > 0 THEN 'degraded'
            WHEN s.n_sources = 1 THEN 'single_source'
            ELSE 'full' END AS confidence
FROM per_run p JOIN n_src s USING (run_id)
ORDER BY p.run_id
"""


def q44_consensus_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 over table scale: status per run (threshold 0.25, dev cap 0.10)."""
    quarantine = (F.col("mismatch_ratio") > 0.25) | (F.col("max_deviation") > 0.10)
    return (
        _runs(payload_long(spark, sf_dir))
        .select(
            "run_id",
            "total_categories",
            F.col("mismatched_categories").alias("mismatched"),
            F.round("max_deviation", 4).alias("max_dev"),
            F.when(quarantine, "quarantine").otherwise("publish").alias("status"),
        )
        .orderBy("run_id")
    )


O44 = PAYLOAD_CTE + """
, votes AS (
  SELECT run_id, categoria, valor, COUNT(*) AS votes, MIN(source_priority) AS first_priority
  FROM plong GROUP BY run_id, categoria, valor
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY run_id, categoria
            ORDER BY votes DESC, first_priority ASC) AS rn FROM votes
), winners AS (
  SELECT run_id, categoria, valor AS winner_valor FROM ranked WHERE rn = 1
), per_cat AS (
  SELECT v.run_id, v.categoria, COUNT(*) AS n_values,
         CASE WHEN COUNT(*) > 1 THEN
           CASE WHEN w.winner_valor > 0
                THEN ROUND(MAX(abs(v.valor - w.winner_valor) / CAST(w.winner_valor AS DOUBLE)), 4)
                ELSE 0.0 END
         END AS max_deviation
  FROM votes v JOIN winners w USING (run_id, categoria)
  GROUP BY v.run_id, v.categoria, w.winner_valor
), per_run AS (
  SELECT run_id, COUNT(*) AS total_categories,
         CAST(SUM(CASE WHEN n_values > 1 THEN 1 ELSE 0 END) AS BIGINT) AS mismatched,
         ROUND(COALESCE(MAX(max_deviation), 0.0), 4) AS max_dev
  FROM per_cat GROUP BY run_id
)
SELECT run_id, total_categories, mismatched, max_dev,
       CASE WHEN mismatched / CAST(total_categories AS DOUBLE) > 0.25 OR max_dev > 0.10
            THEN 'quarantine' ELSE 'publish' END AS status
FROM per_run ORDER BY run_id
"""


QUERIES = [
    Query("q40_consensus_winner", q40_consensus_winner, O40, "vote+tie-break winner"),
    Query("q41_consensus_deviation", q41_consensus_deviation, O41, "max deviation"),
    Query("q42_consensus_missing", q42_consensus_missing, O42, "missing sources"),
    Query("q43_consensus_confidence", q43_consensus_confidence, O43, "confidence scoring"),
    Query("q44_consensus_decision", q44_consensus_decision, O44, "publish/quarantine decision"),
]
