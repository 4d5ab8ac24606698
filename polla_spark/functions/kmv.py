"""KMV (k-minimum-values / theta) distinct sketch of q191 and q203.

Bar-Yossef et al.'s KMV estimator: hash every element to a uniform
integer and keep only the K smallest DISTINCT hash values. If the
k-th smallest of n uniform draws on [0, M) sits at h_k, then
n ≈ (K-1) * M / h_k — the sketch is K longs per group no matter how
many distinct elements exist. This is DataSketches' theta-sketch
family, expressed in PURE relational algebra:

- the hash is seeded md5 folded to 56 bits (the q120/q183/q188
  portable-hash idiom) — deterministic, content-addressed, and
  recomputable bit-for-bit by the DuckDB oracle, so unlike HLL/KLL
  (q38/q178, rows-only) the estimate is oracle-EXACT;
- ``min-k`` is MERGE-CLOSED: min-k(A ∪ B) = min-k(min-k(A) ∪
  min-k(B)), so per-partition / per-group minima union into the
  global sketch losslessly (pinned in tests/test_kernel_units.py);
- set algebra for free: the union sketch is min-k over the DISTINCT
  union of per-group minima (same term ⇒ same hash, so duplicates
  collapse), which is how q191 derives its corpus-wide 'ALL' row
  without a second pass over the data.

Why this is the 100 TB distinct-count shape — stated honestly
(second review-pass finding): the FIRST exchange (the ``distinct``
on (scope, h)) still carries each task's local distinct hashes, the
same per-distinct cost as the exact census's partial agg. What the
sketch removes is everything AFTER it: the rank exchange is
WindowGroupLimit-bounded to ≤K rows per scope per task, the global
state is K longs per group (the census's second stage is
distinct-sized), and the minima are merge-closed. For truly
adversarial cardinality the first exchange too can be K-bounded by
a per-partition min-k combiner (the ``operators/sketch.mg_partials``
pattern) at the price of a Python stage; the native plan here keeps everything in codegen.
Accuracy is the standard RSE ≈ 1/sqrt(K-2) (~6.3% at K=256) — a
statistical bound, not a structural one, so q191 reports the signed
error against the exact census rather than asserting it in-plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

KMV_K = 256                      # minima kept per group: RSE ~ 6.3%
KMV_BITS = 56                    # md5 prefix bits: 14 hex chars, fits a signed long
_KMV_M = 1 << KMV_BITS           # hash range [0, M)
_KMV_NUMER = (KMV_K - 1) * _KMV_M  # estimator numerator; > int64, so DECIMAL


def kmv_hash(term: Column) -> Column:
    """Seeded 56-bit content hash — portable (DuckDB:
    ``CAST(from_hex(substr(md5(term || ':kmv'), 1, 14)) AS
    BIT)::BIGINT``) and order-free, so the sketch is deterministic
    under any partitioning."""
    seeded = F.md5(F.concat(term, F.lit(":kmv")))
    return F.conv(F.substring(seeded, 1, 14), 16, 10).cast("long")


def kmv_minima(terms: DataFrame) -> DataFrame:
    """(scope, term) occurrence frame → the ≤K-row-per-scope
    (scope, h) minima table. The EXPLICIT ``rn <= K`` filter licenses
    WindowGroupLimit pushdown (the q104 lesson): each task forwards
    at most K rows per scope to the RANK exchange. (The preceding
    ``distinct`` exchange is still per-distinct-value — see the
    module docstring for the honest cost model.)"""
    h = terms.select("scope", kmv_hash(F.col("term")).alias("h")).distinct()
    w = Window.partitionBy("scope").orderBy("h")
    return (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .select("scope", "h")
    )


def kmv_guard_reserved(minima: DataFrame, scope: str = "ALL") -> DataFrame:
    """In-plan guard against the reserved union label colliding with
    a REAL scope value: asserts ``scope != label`` on every (already
    label-sized, ≤K-per-scope) minima row, aborting loudly instead of
    silently folding a genuine scope named 'ALL' into the union
    sketch (q191). ``assert_true`` returns NULL on
    success, hence the coalesce-to-True filter keeping it alive
    through the optimizer (the q177 pattern)."""
    return minima.filter(
        F.coalesce(
            F.assert_true(
                F.col("scope") != scope,
                F.lit(
                    f"kmv: reserved scope label {scope!r} collides with a "
                    "real scope value"
                ),
            ),
            F.lit(True),
        )
    )


def kmv_union(minima: DataFrame, scope: str = "ALL") -> DataFrame:
    """Union sketch: min-k over the DISTINCT union of per-scope
    minima (identical terms hash identically across scopes, so
    ``distinct`` collapses them — classic theta-sketch union). Input
    is already ≤K rows per scope, so the single-partition rank window
    here ranks at most K × n_scopes rows — label-sized, not
    data-sized."""
    u = minima.select(F.lit(scope).alias("scope"), "h").distinct()
    w = Window.partitionBy("scope").orderBy("h")
    return (
        u.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .select("scope", "h")
    )


def kmv_estimate(minima: DataFrame) -> DataFrame:
    """Minima table → (scope, n_kept, h_k, est). When a scope holds
    fewer than K distinct hashes the sketch IS the exact set, so
    est = n_kept exactly; otherwise the KMV estimator
    ⌊(K-1) · 2^56 / h_k⌋ in DECIMAL(38,0) (the numerator exceeds
    int64 — the q186 overflow lesson)."""
    agg = minima.groupBy("scope").agg(
        F.count("*").alias("n_kept"), F.max("h").alias("h_k")
    )
    # integral `div`, NOT floor(a / b): Spark plans decimal division
    # as decimal(38,6) with HALF_UP rounding BEFORE the floor, which
    # can exceed the exact integer quotient by 1 when the true
    # fraction is >= .9999995 — `div` divides exactly (second
    # review-pass finding; DuckDB's HUGEINT // is exact too)
    est = F.when(F.col("n_kept") < KMV_K, F.col("n_kept")).otherwise(
        F.expr(f"CAST('{_KMV_NUMER}' AS DECIMAL(38,0)) div h_k")
    )
    return agg.withColumn("est", est.cast("long"))


def kmv_set_algebra(minima: DataFrame) -> DataFrame:
    """Theta-sketch SET ALGEBRA over a (scope, h) minima table — the
    kernel of q203: for
    every scope pair a < b, estimate |A ∩ B| and |A \\ B| from the
    sketches alone.

    The exact-below-theta rule: with theta_X = M when X's sketch is
    exact (kept < K) else X's largest retained hash, every hash below
    theta = min(theta_a, theta_b) is retained by BOTH sketches iff its
    element is in the respective set — so sub-theta hash equality IS
    set membership, and the counts scale by M/theta. All inputs here
    are already ≤K rows per scope, so every join below is label-sized.

    Returns (lang_a, lang_b, theta, n_ab, n_a, est_common, est_only_a)
    ordered by pair. Estimates are deterministic given the minima,
    and the minima are merge-closed.
    """
    th = (
        minima.groupBy("scope")
        .agg(F.count("*").alias("n_kept"), F.max("h").alias("h_max"))
        .select(
            "scope",
            F.when(F.col("n_kept") < KMV_K, F.lit(_KMV_M))
            .otherwise(F.col("h_max"))
            .alias("theta"),
        )
    )
    # rename BEFORE the self-cross-join: alias()-based self-joins can
    # hit conflicting-reference resolution
    ta = th.select(
        F.col("scope").alias("lang_a"), F.col("theta").alias("theta_a")
    )
    tb = th.select(
        F.col("scope").alias("lang_b"), F.col("theta").alias("theta_b")
    )
    pairs = (
        ta.crossJoin(tb)  # scope-count-sized, never data-sized
        .filter(F.col("lang_a") < F.col("lang_b"))
        .select(
            "lang_a",
            "lang_b",
            F.least("theta_a", "theta_b").alias("theta"),
        )
    )
    ma = (
        minima.join(F.broadcast(pairs), minima["scope"] == pairs["lang_a"])
        .filter(F.col("h") < F.col("theta"))
        .select("lang_a", "lang_b", "h")
    )
    mb = (
        minima.join(F.broadcast(pairs), minima["scope"] == pairs["lang_b"])
        .filter(F.col("h") < F.col("theta"))
        .select("lang_a", "lang_b", "h")
    )
    n_ab = ma.join(mb, ["lang_a", "lang_b", "h"]).groupBy(
        "lang_a", "lang_b"
    ).agg(F.count("*").alias("n_ab"))
    n_a = ma.groupBy("lang_a", "lang_b").agg(F.count("*").alias("n_a"))

    def est(n: str):
        # (n * M) div theta exceeds int64 (256 * 2^56 = 2^64) -> DECIMAL
        return F.expr(
            f"CAST({n} AS DECIMAL(38,0)) "
            f"* CAST('{_KMV_M}' AS DECIMAL(38,0)) div theta"
        ).cast("long")

    return (
        pairs.join(n_ab, ["lang_a", "lang_b"], "left")
        .join(n_a, ["lang_a", "lang_b"], "left")
        .na.fill(0, ["n_ab", "n_a"])
        .select(
            "lang_a",
            "lang_b",
            "theta",
            "n_ab",
            "n_a",
            est("n_ab").alias("est_common"),
            est("n_a - n_ab").alias("est_only_a"),
        )
        .orderBy("lang_a", "lang_b")
    )
