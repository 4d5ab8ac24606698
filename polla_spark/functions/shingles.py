"""Token / 3-token-shingle set geometry — ONE definition shared by
every set-similarity, containment, cover and record-linkage query in
plans/llmdata.py, so a geometry change (k, null handling, tokenizer)
cannot desynchronize them.

Tokenizer = raw-text ``split('\\s+')`` — NOT lowercased (the
production TOKS geometry; its DuckDB twin is llmdata's
``regexp_split_to_array(text, '\\s+')``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def toks() -> Column:
    """The whitespace tokenizer column (over ``text``)."""
    return F.split(F.col("text"), "\\s+")


def shingles_expr() -> str:
    """3-token shingles via 0-based Spark array indexing (over a
    ``_toks`` column)."""
    return (
        "transform(sequence(0, greatest(size(_toks) - 3, 0)), "
        "i -> concat_ws(' ', _toks[i], _toks[i+1], _toks[i+2]))"
    )


def with_shingle_sets(df: DataFrame) -> DataFrame:
    """documents-shaped frame → + ``sh`` = the doc's DISTINCT 3-token
    shingle set (q54/q190's geometry)."""
    return df.withColumn("_toks", toks()).withColumn(
        "sh", F.array_distinct(F.expr(shingles_expr()))
    )
