"""Simpson-diversity semantics of q186.

The (doc_id, ch) character census is a plain count — merge-closed
across any partitioning — and the report (Σc², n, ppm diversity,
least-diverse top-15) runs over the census.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def char_census(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → per-(doc_id, ch) counts. The explode fans a
    doc into its CODEPOINTS within-row; the census shuffle key is
    uniform. ``regexp_extract_all('(?s).', 0)`` (not ``split('')``)
    because Java regex matches a surrogate PAIR as one '.', while an
    empty-pattern split severs it into two lone surrogates — counts
    would then be UTF-16 code units on the Spark side but codepoints
    in DuckDB's RE2, an encoding-dependent statistic and a latent
    hash mismatch on any non-BMP character (emoji, CJK ext-B)."""
    d = docs.select(
        "doc_id",
        F.explode(F.expr("regexp_extract_all(text, '(?s).', 0)")).alias("ch"),
    )
    return d.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))


def simpson_report(census: DataFrame) -> DataFrame:
    """Census → the 15 least-diverse docs with exact Σc²/n²
    arithmetic (diversity in ppm, floor division — no transcendental
    math, identical in both engines and both execution modes).

    The ppm numerator routes through DECIMAL(38,0): ``1e6 * sum_c2``
    exceeds BIGINT once a doc passes ~3.04 M repeated characters —
    precisely the padding/mash documents the gate exists to catch —
    and under ANSI mode the overflow would kill the job (with ANSI
    off it would wrap negative and rank the MOST repetitive docs as
    most diverse). The DuckDB oracle mirrors with HUGEINT."""
    per_doc = census.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_chars"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("sum_c2"),
    )
    div_ppm = F.expr(
        "1000000 - cast((cast(1000000 as decimal(38,0)) * sum_c2) div "
        "(cast(n_chars as decimal(38,0)) * n_chars) as bigint)"
    )
    return (
        per_doc.withColumn("diversity_ppm", div_ppm)
        .orderBy("diversity_ppm", "doc_id")
        .limit(15)
        .select("doc_id", "n_chars", "sum_c2", "diversity_ppm")
    )
