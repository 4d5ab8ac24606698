"""Duplicate-span semantics of q189.

ExactSubstr-style substring dedup (Lee et al., "Deduplicating
Training Data Makes Language Models Better") distributed as a
k-token-gram census: a span is duplicated when its gram occurs ≥2
times anywhere in the corpus; per-doc coverage is the union of the
[pos, pos+k) intervals of duplicated gram starts (q153's sweep
specialised to equal-length intervals).

The census is a plain COUNT on the md5 gram key — merge-closed over
any partitioning that keeps each DOCUMENT whole (grams span k-token
windows, so splitting one doc's text would change its grams). The
census IS the state
of any incremental substring-dedup index — gram-keyed and corpus-
sized, the same storage tier as q97's hash index, not a fixed-size
sketch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SPAN_K = 8  # tokens per gram: the minimum duplicated-span length


def token_spine(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (doc_id, n_toks): every doc, including those
    too short to produce grams (they report zero coverage)."""
    return docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), "\\s+")).cast("long").alias("n_toks"),
    )


def gram_stream(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → one row per k-token gram START: (doc_id, pos,
    g) with pos 1-based and g = md5 of the space-joined window. Built
    WITHIN-ROW (transform over sequence + slice) — no join, no
    shuffle; docs shorter than k tokens yield nothing."""
    k = SPAN_K
    g_arr = F.expr(
        f"transform(sequence(1, size(_toks) - {k - 1}), "
        f"i -> md5(concat_ws(' ', slice(_toks, i, {k}))))"
    )
    return (
        docs.withColumn("_toks", F.split(F.col("text"), "\\s+"))
        .filter(F.size("_toks") >= k)
        .select("doc_id", F.posexplode(g_arr).alias("p0", "g"))
        .select("doc_id", (F.col("p0") + 1).cast("long").alias("pos"), "g")
    )


def gram_census(docs: DataFrame) -> DataFrame:
    """Corpus gram census (g, n_occ): ONE partial-agged count shuffle
    on the uniform md5 key (counts merge)."""
    return gram_stream(docs).groupBy("g").agg(
        F.count("*").cast("long").alias("n_occ")
    )


def span_report(
    census: DataFrame, grams: DataFrame, spine: DataFrame
) -> DataFrame:
    """Census + gram stream + doc spine → the 20 most-duplicated docs
    by ppm token coverage. Duplicated-gram occurrences come back via
    one keyed join on g; coverage is one doc-keyed window sweep
    (sorted starts: each contributes min(k, next−pos), last k)."""
    k = SPAN_K
    dup = census.filter(F.col("n_occ") >= 2).select("g")
    occ = grams.join(dup, "g").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    contrib = F.least(
        F.lit(k).cast("long"),
        F.coalesce(F.lead("pos").over(w) - F.col("pos"), F.lit(k).cast("long")),
    )
    cov = (
        occ.withColumn("c", contrib)
        .groupBy("doc_id")
        .agg(F.sum("c").alias("dup_tokens"))
    )
    return (
        spine.join(cov, "doc_id", "left")
        .withColumn("dup_tokens", F.coalesce("dup_tokens", F.lit(0)).cast("long"))
        .withColumn(
            "dup_ppm",
            F.expr("(1000000 * dup_tokens) div greatest(n_toks, 1)"),
        )
        .orderBy(F.desc("dup_ppm"), "doc_id")
        .limit(20)
        .select("doc_id", "n_toks", "dup_tokens", "dup_ppm")
    )
