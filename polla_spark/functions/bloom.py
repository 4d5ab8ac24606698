"""Relational-bloom semantics of q183.

The filter is pure relational arithmetic so it is bit-identical
across engines: k = 3 bit positions per
key from seeded md5 (the q120 portable-hash idiom), folded into
32-bit-per-word masks, aggregated with ``bit_or``. Because ``bit_or``
is associative, commutative and IDEMPOTENT, the word table is
merge-closed in the strongest sense — any partitioning of the input
(and any re-merge of already-merged partials) yields the same
words.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BLOOM_BITS = 65536  # 2 KB filter; production sizes ~10 bits/key
BLOOM_K = 3


def bloom_positions(df: DataFrame) -> DataFrame:
    """Explode each key's ``hh`` (md5-hex content hash) into its k
    (word, mask) bit coordinates; carries every other column."""
    seeded = F.md5(
        F.concat(F.col("hh"), F.lit(":b"), F.col("i").cast("string"))
    )
    return (
        df.withColumn(
            "i",
            F.explode(F.array(*[F.lit(i) for i in range(1, BLOOM_K + 1)])),
        )
        .withColumn(
            "p",
            F.conv(F.substring(seeded, 1, 8), 16, 10).cast("long") % BLOOM_BITS,
        )
        .withColumn("w", F.expr("p div 32"))
        .withColumn("mask", F.expr("shiftleft(1L, int(p % 32))"))
    )


def bloom_word_table(keys: DataFrame) -> DataFrame:
    """(hh) frame → the ≤``BLOOM_BITS/32``-row (w, word) filter table.
    One ``bit_or`` aggregation."""
    return bloom_positions(keys).groupBy("w").agg(
        F.bit_or("mask").alias("word")
    )


def bloom_probe(new_keys: DataFrame, words: DataFrame) -> DataFrame:
    """Membership for a (doc_id, hh) batch against a word table:
    broadcast join + ``bool_and`` over the k probes. Returns
    (doc_id, hh, maybe_dup); ``maybe_dup = false`` is PROOF of
    novelty (one-sided error)."""
    probe = (
        bloom_positions(new_keys)
        .join(F.broadcast(words), "w", "left")
        .withColumn(
            "hit",
            F.coalesce(
                F.col("word").bitwiseAND(F.col("mask")) != 0, F.lit(False)
            ),
        )
    )
    return probe.groupBy("doc_id", "hh").agg(
        F.bool_and("hit").alias("maybe_dup")
    )
