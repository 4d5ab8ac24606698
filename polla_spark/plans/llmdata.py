"""LLM-training-data pipeline operators over documents/embeddings.

North-star extensions (BASELINE.json): dedup families, similarity
search, text analysis, multimodal columns — designed for 100 TB:

- every dedup is a pure shuffle-on-key plan (hash/fingerprint ->
  groupBy), no pairwise comparison except inside LSH buckets;
- MinHash uses portable md5-based hash functions so the oracle can
  recompute signatures bit-for-bit in DuckDB;
- similarity search: brute-force exact top-k (the oracle-checkable
  baseline; at scale the same plan shards by embedding partition and
  k-merges); the LSH-bucketed variant is the scale path (rows-only);
- float math is either floor-quantized to BIGINT or a single
  division, so no cross-engine accumulation-order drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import linkage as LK
from ..functions import shingles
from . import Query
from .relational import t

TOKS = "regexp_split_to_array(text, '\\s+')"  # duckdb side tokenizer

# tokenizer + shingle geometry live in functions/shingles.py (r8);
# these aliases keep llmdata the query-side name
_toks = shingles.toks


def _spread(spark: SparkSession, d: DataFrame) -> DataFrame:
    """CPU-partition a scan feeding a compute-heavy kernel.

    Parquet scan splitting is BYTE-based (maxPartitionBytes), which
    under-parallelizes hash/text kernels: a 0.6 MB documents file is
    one task but holds minutes of per-row md5 work, so 31 of 32 cores
    idle. Repartitioning on the uniform doc key costs a shuffle of the
    raw text — negligible next to the kernel — and engages every core.
    At 100 TB the same rule holds per-file: CPU-bound stages want
    ~defaultParallelism partitions, not bytes/128MB.
    """
    return d.repartition(spark.sparkContext.defaultParallelism, "doc_id")


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------

def q50_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: sha256(text) -> group -> survivor = min(doc_id).

    The 100 TB shape: single shuffle on the 64-hex hash; skew-free
    because the key is uniform.
    """
    d = t(spark, sf_dir, "documents")
    return (
        d.withColumn("sha", F.sha2("text", 256))
        .groupBy("sha")
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("survivor"))
        .orderBy("sha")
    )


O50 = """
SELECT sha256(text) AS sha, COUNT(*) AS n_copies, MIN(doc_id) AS survivor
FROM documents GROUP BY sha ORDER BY sha
"""


def q51_fingerprint_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-fingerprint dedup (case/whitespace-insensitive md5),
    reported per source."""
    d = t(spark, sf_dir, "documents")
    fp = F.md5(F.regexp_replace(F.lower(F.col("text")), "\\s+", " "))
    return (
        d.withColumn("fp", fp)
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.countDistinct("fp").alias("n_unique"))
        .orderBy("source")
    )


O51 = """
SELECT source, COUNT(*) AS n_docs,
       COUNT(DISTINCT md5(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS n_unique
FROM documents GROUP BY source ORDER BY source
"""


_shingles_expr = shingles.shingles_expr
_with_shingle_sets = shingles.with_shingle_sets

def _snm_neighbors(d, extra_fields: tuple[str, ...] = (), *,
                   include_sh: bool = True):
    """ONE source of truth for sorted-neighborhood candidate
    generation (q128 blocking ≡ q206 scoring — the _with_shingle_sets
    discipline): block by lang, sort by (n_chars NULLS FIRST, doc_id)
    — the NULL placement is EXPLICIT because Spark defaults NULLS
    FIRST while DuckDB defaults NULLS LAST, and a NULL n_chars row
    would otherwise pair different neighbors in the two engines —
    then compare each record to its next w=3 neighbors via lead()
    over the SAME window (the pair never joins).

    ``d`` must carry doc_id, lang, n_chars plus ``extra_fields`` (and
    sh when ``include_sh``); returns (doc_a, [sha], [f+'_a'...],
    doc_b, [shb], [f+'_b'...], w_dist) with doc_b non-null. Pair
    GENERATION never reads sh — ordering is (lang, n_chars, doc_id)
    only — so a consumer that scores without shingles (q211) sets
    ``include_sh=False`` and the shingle arrays never ride the
    exchange (r8 review finding: dead weight on a benched query). The
    oracle-side twin of this CTE is :func:`_o_snm_neighbors`.
    """
    w = Window.partitionBy("lang").orderBy(
        F.col("n_chars").asc_nulls_first(), "doc_id"
    )
    sh_lead = (
        [lambda i: F.lead("sh", i).over(w).alias("shb")] if include_sh else []
    )
    nbrs = F.array(
        *[
            F.struct(
                F.lead("doc_id", i).over(w).alias("doc_b"),
                *[mk(i) for mk in sh_lead],
                *[
                    F.lead(f, i).over(w).alias(f + "_b")
                    for f in extra_fields
                ],
                F.lit(i).alias("w_dist"),
            )
            for i in (1, 2, 3)
        ]
    )
    return (
        d.withColumn("nb", nbrs)
        .select(
            F.col("doc_id").alias("doc_a"),
            *([F.col("sh").alias("sha")] if include_sh else []),
            *[F.col(f).alias(f + "_a") for f in extra_fields],
            F.explode("nb").alias("nb"),
        )
        .select(
            "doc_a",
            *(["sha"] if include_sh else []),
            *[f + "_a" for f in extra_fields],
            "nb.doc_b",
            *(["nb.shb"] if include_sh else []),
            *[f"nb.{f}_b" for f in extra_fields],
            "nb.w_dist",
        )
        .filter(F.col("doc_b").isNotNull())
    )


def _o_snm_neighbors(extra_fields: tuple[str, ...] = (), *,
                     include_sh: bool = True) -> str:
    """DuckDB twin of :func:`_snm_neighbors`: the ``neigh`` CTE body
    (expects a ``docs`` CTE with doc_id, lang, n_chars + fields, and
    sh when ``include_sh``). NULLS FIRST pins DuckDB to Spark's
    default NULL placement."""
    over = ("OVER (PARTITION BY lang, i "
            "ORDER BY n_chars NULLS FIRST, doc_id)")
    items = ["doc_id AS doc_a"]
    if include_sh:
        items.append("sh AS sa")
    items += [f"{f} AS {f}_a" for f in extra_fields]
    items += ["i", f"LEAD(doc_id, i) {over} AS doc_b"]
    if include_sh:
        items.append(f"LEAD(sh, i) {over} AS sb")
    items += [f"LEAD({f}, i) {over} AS {f}_b" for f in extra_fields]
    sel = ",\n         ".join(items)
    return f"""
  SELECT {sel}
  FROM docs CROSS JOIN (SELECT unnest([1, 2, 3]) AS i) w
"""


def _minhash_col(band: int):
    # slice the single per-shingle md5 into an independent 8-hex
    # (32-bit) hash per band; min is lexicographic = numeric on
    # fixed-width lowercase hex, identical in both engines
    return F.array_min(
        F.transform(F.col("_md5s"), lambda h: F.substring(h, 1 + 8 * band, 8))
    ).alias(f"mh{band}")


def with_minhash(d: DataFrame) -> DataFrame:
    """Portable MinHash: one md5 per shingle, sliced into 4
    independent 32-bit hex hashes ``mh0..mh3`` (4 bands x 1 row).

    One hash pass per shingle — not one per (shingle, band) — keeps
    the kernel 4x cheaper; md5 is bit-identical in both engines, so
    signatures are oracle-exact.
    """
    return (
        d.withColumn("_toks", _toks())
        .withColumn("_shingles", F.expr(_shingles_expr()))
        .withColumn("_md5s", F.transform("_shingles", lambda s: F.md5(s)))
        .select("*", *[_minhash_col(b) for b in range(4)])
        .drop("_toks", "_shingles", "_md5s")
    )


def minhash_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, sig) with one row per MinHash band: the unpivoted
    signature table every LSH consumer joins or groups on (q53's
    family, q67, q227, q237/q239, q238)."""
    return with_minhash(docs).select(
        "doc_id", "mh0", "mh1", "mh2", "mh3"
    ).selectExpr("doc_id", "stack(4, mh0, mh1, mh2, mh3) as sig")


def band_table(bands: DataFrame) -> DataFrame:
    """Persist a (doc_id, sig) band table and materialize it BEFORE any
    join reads it: otherwise both join branches race the cold cache
    and compute the expensive signature projection twice.

    The cache is plan-lifetime: the returned plan still reads it, so
    it cannot be unpersisted inside a query builder. The bench harness
    clearCache()s between reps; callers composing many plans in one
    session should do the same."""
    bands = bands.persist()
    bands.count()
    return bands


def band_pairs(
    probe: DataFrame, build: DataFrame, a: str = "id_a", b: str = "id_b"
) -> DataFrame:
    """The band join: (sig, a, b) for every probe row and build row
    sharing a band value, the two doc ids renamed to ``a``/``b``.
    Callers add their own pair filter (``<`` or ``!=``) and distinct."""
    return probe.select(F.col("doc_id").alias(a), "sig").join(
        build.select(F.col("doc_id").alias(b), "sig"), "sig"
    )


_DUCK_SHINGLES = (
    f"list_transform(generate_series(1, greatest(len({TOKS}) - 2, 1)), "
    f"i -> concat_ws(' ', {TOKS}[i], {TOKS}[i+1], {TOKS}[i+2]))"
)


def _duck_mh(band: int) -> str:
    return (
        f"list_min(list_transform({_DUCK_SHINGLES}, s -> substr(md5(s), {1 + 8 * band}, 8)))"
    )


def q52_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 4-band MinHash signature table (Broder 1997's resemblance
    sketches; banding per Leskovec/Rajaraman/Ullman, MMDS ch. 3)."""
    d = _spread(spark, t(spark, sf_dir, "documents"))
    return with_minhash(d).select("doc_id", "mh0", "mh1", "mh2", "mh3").orderBy("doc_id")


O52 = f"""
SELECT doc_id, {_duck_mh(0)} AS mh0, {_duck_mh(1)} AS mh1,
       {_duck_mh(2)} AS mh2, {_duck_mh(3)} AS mh3
FROM documents ORDER BY doc_id
"""


def _minhash_band_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id_a, id_b) distinct candidate pairs from the MinHash band
    self-join — the shared front end of q53 and the in-bucket rescore
    queries (q81/q83)."""
    return band_candidates_from(_spread(spark, t(spark, sf_dir, "documents")))


def band_candidates_from(docs: DataFrame) -> DataFrame:
    """The band self-join over an arbitrary documents-shaped frame
    (q222 feeds it the planted-variant union)."""
    bands = band_table(minhash_bands(docs))
    return (
        band_pairs(bands, bands)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def q53_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding: docs sharing any band signature become candidates.

    Plan shape: compute the signature table ONCE, unpivot to
    (doc_id, sig) long form, persist it (it is 4 rows/doc of short hex
    strings — tiny relative to the corpus), then one self-equi-join on
    sig. A naive per-band join loop recomputes the expensive
    shingle+md5 projection once per band per side (8x); this shape
    computes it once. No all-pairs scan: at 100 TB the bucket join is
    the only feasible near-dup shape, and the persisted signature
    table is what you would bucket/write by sig.
    """
    return _minhash_band_candidates(spark, sf_dir).orderBy("id_a", "id_b")


O53 = f"""
WITH sigs AS (
  SELECT doc_id, {_duck_mh(0)} AS mh0, {_duck_mh(1)} AS mh1,
         {_duck_mh(2)} AS mh2, {_duck_mh(3)} AS mh3
  FROM documents
), long AS (
  SELECT doc_id, mh0 AS sig FROM sigs UNION ALL SELECT doc_id, mh1 FROM sigs
  UNION ALL SELECT doc_id, mh2 FROM sigs UNION ALL SELECT doc_id, mh3 FROM sigs
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM long a JOIN long b ON a.sig = b.sig AND a.doc_id < b.doc_id
ORDER BY id_a, id_b
"""


def q67_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: connected components over the MinHash-LSH
    candidate graph (operators/graph.py). The edge set after banding
    is orders smaller than the corpus, so the default plan is band
    join -> bounded driver union-find endgame; past the edge bound
    the same operator runs iterative min-label propagation with path
    compression + localCheckpoint (the 100 TB path — exercised by
    tests/test_components.py with local_threshold=0).

    Oracle: DuckDB recursive-CTE transitive closure + MIN(reachable).
    """
    from ..operators.graph import connected_components

    bands = band_table(minhash_bands(_spread(spark, t(spark, sf_dir, "documents"))))
    edges = (
        band_pairs(bands, bands, "src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    nodes = t(spark, sf_dir, "documents").select(F.col("doc_id").alias("node"))
    labels = connected_components(nodes, edges)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("component")
    ).orderBy("doc_id")


# shared recursive-closure CTE body: O67 reads the label table
# directly; O236 aggregates it into the cluster-size histogram
_CC_CTES = f"""sigs AS (
  SELECT doc_id, {_duck_mh(0)} AS mh0, {_duck_mh(1)} AS mh1,
         {_duck_mh(2)} AS mh2, {_duck_mh(3)} AS mh3
  FROM documents
), long AS (
  SELECT doc_id, mh0 AS sig FROM sigs UNION ALL SELECT doc_id, mh1 FROM sigs
  UNION ALL SELECT doc_id, mh2 FROM sigs UNION ALL SELECT doc_id, mh3 FROM sigs
), edges AS MATERIALIZED (
  -- MATERIALIZED: otherwise DuckDB inlines this CTE into the
  -- recursive step and recomputes the md5 signature self-join on
  -- EVERY iteration (~8s x diameter)
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM long a JOIN long b ON a.sig = b.sig AND a.doc_id <> b.doc_id
), reach(a, b) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
)"""

O67 = f"""
WITH RECURSIVE {_CC_CTES}
SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a ORDER BY doc_id
"""

O236 = f"""
WITH RECURSIVE {_CC_CTES}, lbl AS (
  SELECT a AS doc_id, MIN(b) AS component FROM reach GROUP BY a
), szs AS (
  SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
  FROM lbl GROUP BY component
)
SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(cluster_size * COUNT(*) AS BIGINT) AS n_docs
FROM szs GROUP BY cluster_size ORDER BY cluster_size
"""


def q54_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard for a deterministic sample of doc pairs
    (constant slice ``doc_id < 32``): |A∩B| / |A∪B| over distinct
    shingle sets.

    BASELINE-ONLY: all-pairs grows quadratically, so the sample is a
    CONSTANT cap — at any corpus size this stays <= 496 pairs (a
    modular sample like ``doc_id % 50`` would grow linearly and its
    pairs quadratically). The production shape is
    q81_lsh_rescored_jaccard, which runs this exact kernel only on
    LSH band candidates."""
    d = (
        _with_shingle_sets(
            t(spark, sf_dir, "documents").filter(F.col("doc_id") < 32)
        )
        .select("doc_id", "sh")
    )
    a = d.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = d.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            inter.alias("n_common"),
            F.round(inter / union, 4).alias("jaccard"),
        )
        .orderBy("id_a", "id_b")
    )


O54 = f"""
WITH sample AS (
  SELECT doc_id, list_distinct({_DUCK_SHINGLES}) AS sh
  FROM documents WHERE doc_id < 32
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       len(list_intersect(a.sh, b.sh)) AS n_common,
       ROUND(len(list_intersect(a.sh, b.sh)) /
             CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 4) AS jaccard
FROM sample a, sample b WHERE a.doc_id < b.doc_id
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_EN_STOP = ("the", "a", "of", "and", "to")


def q55_lang_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/stopword language-ID heuristic vs the labeled lang."""
    d = t(spark, sf_dir, "documents").withColumn("_toks", _toks())
    stop_n = F.size(F.filter("_toks", lambda x: x.isin(*_EN_STOP)))
    ratio = stop_n / F.size("_toks")
    pred = F.when(ratio > 0.08, "en_like").otherwise("other")
    return (
        d.select("lang", pred.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "predicted")
    )


_DUCK_STOP = "('the', 'a', 'of', 'and', 'to')"

O55 = f"""
SELECT lang,
       CASE WHEN len(list_filter({TOKS}, x -> x IN {_DUCK_STOP}))
                 / CAST(len({TOKS}) AS DOUBLE) > 0.08
            THEN 'en_like' ELSE 'other' END AS predicted,
       COUNT(*) AS n
FROM documents GROUP BY 1, 2 ORDER BY lang, predicted
"""


def q56_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality metrics per lang: exact decimal averages of
    length/token/stopword ratios."""
    d = t(spark, sf_dir, "documents").withColumn("_toks", _toks())
    n_toks = F.size("_toks")
    stop_n = F.size(F.filter("_toks", lambda x: x.isin(*_EN_STOP)))
    return (
        d.select(
            "lang",
            F.col("n_chars"),
            n_toks.alias("n_toks"),
            stop_n.alias("stop_n"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
            F.round(
                F.sum(F.col("n_chars").cast("decimal(18,4)")) / F.sum("n_toks"), 2
            ).cast("double").alias("chars_per_token"),
            F.round(
                F.sum(F.col("stop_n").cast("decimal(18,4)")) / F.sum("n_toks"), 4
            ).cast("double").alias("stopword_ratio"),
        )
        .orderBy("lang")
    )


O56 = f"""
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(len({TOKS})) AS BIGINT) AS total_tokens,
       CAST(ROUND(SUM(CAST(n_chars AS DECIMAL(18,4))) / SUM(len({TOKS})), 2) AS DOUBLE) AS chars_per_token,
       CAST(ROUND(SUM(CAST(len(list_filter({TOKS}, x -> x IN {_DUCK_STOP})) AS DECIMAL(18,4)))
             / SUM(len({TOKS})), 4) AS DOUBLE) AS stopword_ratio
FROM documents GROUP BY lang ORDER BY lang
"""


def q57_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish (letters|digits|other) token counts per doc."""
    d = t(spark, sf_dir, "documents")
    bpeish = F.size(F.regexp_extract_all(F.col("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), F.lit(0)))
    return d.select(
        "doc_id",
        F.size(_toks()).alias("n_ws_tokens"),
        bpeish.alias("n_bpeish"),
        F.length("text").alias("n_chars_actual"),
    ).orderBy("doc_id")


O57 = f"""
SELECT doc_id, len({TOKS}) AS n_ws_tokens,
       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpeish,
       length(text) AS n_chars_actual
FROM documents ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

_QUERY_IDS = (0, 1, 2)


def _dot(a, b):
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def q58_knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for 3 query vectors.

    Query side is broadcast; the scan side streams once — the exact
    baseline every ANN variant is measured against. Scores are
    computed with an identical left-to-right fold in both engines.
    """
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    pairs = e.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("query_id"))
    cos = _dot(F.col("embedding"), F.col("qv")) / (
        F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
        * F.sqrt(_dot(F.col("qv"), F.col("qv")))
    )
    scored = pairs.select("query_id", "vec_id", F.round(cos, 4).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "rn", "vec_id", "cosine")
        .orderBy("query_id", "rn")
    )


_DDOT = (
    "list_reduce(list_transform(generate_series(1, 64), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
)

O58 = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id IN (0, 1, 2)
), scored AS (
  SELECT q.query_id, e.vec_id,
         ROUND({_DDOT.format(a='e.embedding', b='q.qv')} /
               (sqrt({_DDOT.format(a='e.embedding', b='e.embedding')}) *
                sqrt({_DDOT.format(a='q.qv', b='q.qv')})), 4) AS cosine
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id
)
SELECT query_id, rn, vec_id, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM scored
) WHERE rn <= 5 ORDER BY query_id, rn
"""


def q59_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid components (floor-quantized exact sums)."""
    e = t(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(
            F.sum(F.floor(F.col("x").cast("double") * 1000000).cast("long")).alias("qsum"),
            F.count("*").alias("n"),
        )
        .orderBy("label", "pos")
    )


O59 = """
SELECT label, i - 1 AS pos,
       CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS qsum,
       COUNT(*) AS n
FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) s
GROUP BY label, pos ORDER BY label, pos
"""


# ---------------------------------------------------------------------------
# Multimodal columns
# ---------------------------------------------------------------------------

def q60_multimodal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary modeling: text bytes stand in for media payloads.

    Real Spark-side plumbing (binary column, byte lengths, modality
    partitioning); the decode step is the stubbed part (see
    polla_spark.operators.multimodal).
    """
    d = t(spark, sf_dir, "documents")
    modality = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    content = F.encode(F.col("text"), "UTF-8")
    return (
        d.select(modality.alias("modality"), F.length(content).alias("n_bytes"))
        .groupBy("modality")
        .agg(
            F.count("*").alias("n_assets"),
            F.sum("n_bytes").alias("total_bytes"),
            F.max("n_bytes").alias("max_bytes"),
        )
        .orderBy("modality")
    )


O60 = """
SELECT ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS modality,
       COUNT(*) AS n_assets,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       MAX(octet_length(encode(text))) AS max_bytes
FROM documents GROUP BY modality ORDER BY modality
"""


# ---------------------------------------------------------------------------
# SimHash dedup family
# ---------------------------------------------------------------------------

_HEX = "0123456789abcdef"

# SimHash over distinct tokens: for each of 64 bit positions, sum a
# +1/-1 vote per token (bit p of the token's md5) and keep the sign.
# All within-row array ops — zero shuffle until the final dedup
# groupBy, which is the only viable shape at 100 TB.
#
# Compute shape: decode each token's 16 hex nibbles ONCE into ints
# (string work is the expensive part; 16 substring+instr per token,
# not 64), expand nibbles to a 64-long +/-1 vote vector with integer
# shifts, then element-wise-sum vote vectors across tokens.
_NIBBLES_SPARK = f"""
transform(_md5s, h ->
  transform(sequence(1, 16), c -> instr('{_HEX}', substring(h, c, 1)) - 1))
"""

_SIMHASH_SPARK = """
concat_ws('', transform(
  aggregate(
    transform(_nibs, nb ->
      transform(sequence(0, 63), p ->
        2 * (shiftright(element_at(nb, cast((p div 4) + 1 as int)), cast(p % 4 as int)) & 1) - 1)),
    array_repeat(0, 64),
    (acc, v) -> zip_with(acc, v, (a, b) -> a + b)),
  s -> case when s > 0 then '1' else '0' end))
"""

_DUCK_MD5S = (
    f"list_transform(list_distinct({TOKS}), t -> md5(t))"
)

_SIMHASH_DUCK = f"""
array_to_string(list_transform(generate_series(0, 63), p ->
  CASE WHEN list_reduce(list_transform({_DUCK_MD5S}, h ->
      2 * (((strpos('{_HEX}', substr(h, (p // 4) + 1, 1)) - 1) >> (p % 4)) & 1) - 1),
    (x, y) -> x + y) > 0 THEN '1' ELSE '0' END), '')
"""


def _with_simhash(d: DataFrame) -> DataFrame:
    return (
        d.withColumn("_toks", F.array_distinct(_toks()))
        .withColumn("_md5s", F.transform("_toks", lambda t_: F.md5(t_)))
        .withColumn("_nibs", F.expr(_NIBBLES_SPARK))
        .withColumn("simhash", F.expr(_SIMHASH_SPARK))
        .drop("_toks", "_md5s", "_nibs")
    )


def q61_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 64-bit SimHash signature (bitstring form) — Charikar's
    (STOC 2002) similarity-preserving fingerprints."""
    d = _spread(spark, t(spark, sf_dir, "documents"))
    return _with_simhash(d).select("doc_id", "simhash").orderBy("doc_id")


O61 = f"""
SELECT doc_id, {_SIMHASH_DUCK} AS simhash
FROM documents ORDER BY doc_id
"""


def q62_simhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidates: any matching 16-bit band of the
    64-bit signature (Hamming-distance LSH). Signature table computed
    once, unpivoted, persisted, single self-equi-join — same scale
    shape as q53 (the band join IS the 100 TB plan; banding makes
    Hamming search a shuffle-on-key problem)."""
    d = _with_simhash(_spread(spark, t(spark, sf_dir, "documents"))).select("doc_id", "simhash")
    bands = band_table(d.selectExpr(
        "doc_id",
        "stack(4, concat('0:', substring(simhash, 1, 16)), concat('1:', substring(simhash, 17, 16)),"
        " concat('2:', substring(simhash, 33, 16)), concat('3:', substring(simhash, 49, 16))) as sig",
    ))
    return (
        band_pairs(bands, bands)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .orderBy("id_a", "id_b")
    )


O62 = f"""
WITH sigs AS (
  SELECT doc_id, {_SIMHASH_DUCK} AS simhash FROM documents
), long AS (
  SELECT doc_id, '0:' || substr(simhash, 1, 16) AS band FROM sigs
  UNION ALL SELECT doc_id, '1:' || substr(simhash, 17, 16) FROM sigs
  UNION ALL SELECT doc_id, '2:' || substr(simhash, 33, 16) FROM sigs
  UNION ALL SELECT doc_id, '3:' || substr(simhash, 49, 16) FROM sigs
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM long a JOIN long b ON a.band = b.band AND a.doc_id < b.doc_id
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# Embedding near-dup + ANN scale path
# ---------------------------------------------------------------------------

def q63_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine >= 0.40;
    the synthetic vectors are near-orthogonal, so the threshold sits
    just under the capped slice's max pairwise ~0.44).

    BASELINE-ONLY: exact all-pairs is the oracle yardstick, bounded
    by a CONSTANT slice (``vec_id < 200`` -> <= 19,900 pairs at any
    corpus size); norms are precomputed once per vector so the pair
    loop is a single fold. The production shape is
    q82_bucket_cosine_pairs — the identical rescore restricted to
    hyperplane-LSH buckets, never all-pairs."""
    e = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    n = e.select(
        "vec_id",
        "embedding",
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("norm"),
    )
    a = n.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"), F.col("norm").alias("na")
    )
    b = n.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"), F.col("norm").alias("nb")
    )
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 4).alias("cosine"))
        .filter(F.col("cosine") >= 0.40)
        .orderBy("id_a", "id_b")
    )


O63 = f"""
WITH n AS (
  SELECT vec_id, embedding,
         sqrt({_DDOT.format(a='embedding', b='embedding')}) AS norm
  FROM embeddings WHERE vec_id < 200
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND({_DDOT.format(a='a.embedding', b='b.embedding')} / (a.norm * b.norm), 4) AS cosine
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE ROUND({_DDOT.format(a='a.embedding', b='b.embedding')} / (a.norm * b.norm), 4) >= 0.40
ORDER BY id_a, id_b
"""

# Random-hyperplane LSH: 8 deterministic +/-1 hyperplanes derived from
# md5(plane__dim); the 8-bit sign code is the bucket. Left-to-right
# float fold is identical in both engines -> bit-stable codes.
#
# Spark side: the weights are row-independent, so they are computed
# ONCE driver-side (hashlib md5 == Spark md5 == DuckDB md5) and
# inlined as +/-1.0 literals — the per-row work is a pure
# multiply-add fold, no hashing. The oracle recomputes the weights
# with SQL md5, proving the inlined values right.
def _hyperplane_weight(j: int, i: int) -> float:
    import hashlib

    h = hashlib.md5(f"{j}_{i}".encode()).hexdigest()
    return 1.0 if (_HEX.index(h[0])) % 2 == 1 else -1.0


def _code_spark_expr(n_planes: int = 8) -> str:
    planes = []
    for j in range(n_planes):
        terms = ", ".join(
            f"cast({_hyperplane_weight(j, i)} as double)" for i in range(1, 65)
        )
        planes.append(
            "case when aggregate(zip_with(embedding, "
            f"array({terms}), (x, w) -> cast(x as double) * w), "
            "cast(0.0 as double), (acc, x) -> acc + x) > 0 then '1' else '0' end"
        )
    return "concat(" + ", ".join(planes) + ")"


_CODE_SPARK = _code_spark_expr()

_CODE_DUCK = f"""
array_to_string(list_transform(generate_series(0, 7), j ->
  CASE WHEN list_reduce(list_transform(generate_series(1, 64), i ->
      CAST(embedding[i] AS DOUBLE) *
      (CASE WHEN (strpos('{_HEX}', substr(md5(j::VARCHAR || '_' || i::VARCHAR), 1, 1)) - 1) % 2 = 1
            THEN 1.0 ELSE -1.0 END)),
    (x, y) -> x + y) > 0 THEN '1' ELSE '0' END), '')
"""


def q64_ann_hyperplane_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: probe only the query's hyperplane bucket,
    exact-rescore inside it, top-3 per query.

    The 100 TB shape: the corpus is written bucketed/partitioned by
    ``code`` (2^n_planes buckets), a query reads ONE partition —
    IVF-style partition pruning instead of a full scan. Recall vs the
    exact baseline (q58) is the LSH tradeoff; candidates are exact-
    rescored so precision within the probed bucket is 1."""
    e = t(spark, sf_dir, "embeddings").withColumn("code", F.expr(_CODE_SPARK))
    q = e.filter(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), "code"
    )
    cand = e.join(F.broadcast(q), "code").filter(F.col("vec_id") != F.col("query_id"))
    cos = _dot(F.col("embedding"), F.col("qv")) / (
        F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
        * F.sqrt(_dot(F.col("qv"), F.col("qv")))
    )
    scored = cand.select("query_id", "vec_id", F.round(cos, 4).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "rn", "vec_id", "cosine")
        .orderBy("query_id", "rn")
    )


O64 = f"""
WITH coded AS (
  SELECT vec_id, embedding, {_CODE_DUCK} AS code FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding AS qv, code FROM coded WHERE vec_id IN (0, 1, 2)
), scored AS (
  SELECT q.query_id, e.vec_id,
         ROUND({_DDOT.format(a='e.embedding', b='q.qv')} /
               (sqrt({_DDOT.format(a='e.embedding', b='e.embedding')}) *
                sqrt({_DDOT.format(a='q.qv', b='q.qv')})), 4) AS cosine
  FROM coded e JOIN q ON e.code = q.code AND e.vec_id <> q.query_id
)
SELECT query_id, rn, vec_id, cosine FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rn
  FROM scored
) WHERE rn <= 3 ORDER BY query_id, rn
"""


# ---------------------------------------------------------------------------
# Winnowing fingerprints (rolling-hash document fingerprinting)
# ---------------------------------------------------------------------------

def q65_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (Schleimer et al. 2003): md5 over char 5-grams,
    keep the min hash of each 4-gram window, distinct per doc.
    Within-row array ops only — fingerprinting shuffles nothing; the
    downstream dedup/groupBy on fingerprint is the only exchange."""
    d = _spread(spark, t(spark, sf_dir, "documents"))
    grams = "transform(sequence(1, greatest(length(text) - 4, 1)), i -> md5(substring(text, i, 5)))"
    # least() of 4 element_ats beats array_min(slice(...)): no
    # per-window array allocation (~2x at sf0.1)
    fps = (
        "array_distinct(transform(sequence(1, greatest(size(_grams) - 3, 1)), "
        "i -> least(element_at(_grams, i), element_at(_grams, i + 1), "
        "element_at(_grams, i + 2), element_at(_grams, i + 3))))"
    )
    return (
        d.withColumn("_grams", F.expr(grams))
        .withColumn("_fps", F.expr(fps))
        .select(
            "doc_id",
            F.size("_fps").alias("n_fp"),
            F.array_min("_fps").alias("min_fp"),
        )
        .orderBy("doc_id")
    )


O65 = """
WITH g AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(length(text) - 4, 1)),
                        i -> md5(substr(text, i, 5))) AS grams
  FROM documents
), w AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, greatest(len(grams) - 3, 1)),
                                      i -> list_min(grams[i:i+3]))) AS fps
  FROM g
)
SELECT doc_id, len(fps) AS n_fp, list_min(fps) AS min_fp FROM w ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Multimodal feature extraction (mapInPandas kernel)
# ---------------------------------------------------------------------------

def q66_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction through the real mapInPandas kernel
    (operators/multimodal.py): documents modeled as binary assets,
    Arrow-batched decode (deterministic sha256 fake), then a relational
    aggregate over the kernel output. The oracle recomputes the fake
    decode arithmetic in SQL — proving the Python kernel is
    bit-deterministic, which is what makes it retry-safe at scale."""
    from ..operators.multimodal import documents_as_assets, extract_features

    assets = documents_as_assets(t(spark, sf_dir, "documents"))
    # no repartition before the kernel: payload bytes must never cross
    # an Exchange (plan-shape pinned); scan splits provide parallelism
    feats = extract_features(assets)
    return (
        feats.groupBy("modality")
        .agg(
            F.count("*").alias("n_assets"),
            F.sum("n_bytes").alias("total_bytes"),
            F.sum(F.element_at("features", 1)).alias("qsum_f0"),
        )
        .orderBy("modality")
    )


O66 = f"""
SELECT ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS modality,
       COUNT(*) AS n_assets,
       CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
       CAST(SUM(list_reduce(list_transform(generate_series(1, 8), i ->
            strpos('{_HEX}', substr(sha256(text), i, 1)) - 1),
            (x, y) -> x * 16 + y)) AS BIGINT) AS qsum_f0
FROM documents GROUP BY modality ORDER BY modality
"""


def q68_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein edit distance for a deterministic pair sample
    (prefixes — full-text O(n*m) DP is the reason near-dup at scale
    uses LSH banding to cut candidates first).

    BASELINE-ONLY with a CONSTANT cap (``doc_id < 16`` -> <= 120
    pairs at any corpus size; a modular sample's pair count would
    grow quadratically). The production shape is
    q83_lsh_edit_rescore, which runs this kernel only on LSH band
    candidates."""
    d = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 16)
        .select("doc_id", F.substring("text", 1, 120).alias("prefix"))
    )
    a = d.select(F.col("doc_id").alias("id_a"), F.col("prefix").alias("pa"))
    b = d.select(F.col("doc_id").alias("id_b"), F.col("prefix").alias("pb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.levenshtein("pa", "pb").alias("edit_dist"))
        .orderBy("id_a", "id_b")
    )


O68 = """
WITH sample AS (
  SELECT doc_id, substr(text, 1, 120) AS prefix FROM documents WHERE doc_id < 16
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       levenshtein(a.prefix, b.prefix) AS edit_dist
FROM sample a, sample b WHERE a.doc_id < b.doc_id
ORDER BY id_a, id_b
"""


def q76_trigram_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language ID — the real n-gram heuristic (vs
    q55's stopword ratio): build a top-40-trigram profile per labeled
    language from the corpus itself, score every document against
    every profile by trigram hits, predict the argmax, and emit the
    lang × predicted confusion matrix.

    Plan: trigram explode is a map-side substring transform (no
    shuffle); profiles aggregate to ≤40 rows/lang so the score join is
    a broadcast; per-doc argmax is one window over the scored rows.
    At 100 TB the profile build runs on a fixed sample instead of the
    full corpus (profiles converge long before that) — the scoring
    side, which dominates, keeps this exact shape.
    """
    d = (
        t(spark, sf_dir, "documents")
        .filter(F.length("text") >= 3)
        .select("doc_id", "lang", F.lower(F.col("text")).alias("txt"))
    )
    tri = _spread(spark, d).select(
        "doc_id",
        "lang",
        F.explode(
            F.expr("transform(sequence(1, length(txt) - 2), i -> substring(txt, i, 3))")
        ).alias("g"),
    )
    # NOT persisted, deliberately: both the profile build and the
    # scoring join consume the trigram stream, but the explode is a
    # cheap map-side transform — measured at sf0.1, caching the
    # exploded rows costs more (materialization + memory) than
    # recomputing them, unlike q82/q53's expensive signature columns.
    counts = tri.groupBy("lang", "g").agg(F.count("*").alias("c"))
    w = Window.partitionBy("lang").orderBy(F.desc("c"), F.asc("g"))
    prof = (
        counts.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 40)
        .select(F.col("lang").alias("p_lang"), "g")
    )
    scored = (
        tri.join(F.broadcast(prof), "g")
        .groupBy("doc_id", "p_lang")
        .agg(F.count("*").alias("hits"))
    )
    wb = Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("p_lang"))
    best = (
        scored.withColumn("r", F.row_number().over(wb))
        .filter(F.col("r") == 1)
        .select("doc_id", F.col("p_lang").alias("predicted"))
    )
    return (
        d.join(best, "doc_id")
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "predicted")
    )


O76 = """
WITH docs AS (
  SELECT doc_id, lang, lower(text) AS txt FROM documents WHERE length(text) >= 3
), tri AS (
  SELECT doc_id, lang, substring(txt, CAST(i AS INTEGER), 3) AS g
  FROM docs, UNNEST(range(1, length(txt) - 1)) AS u(i)
), prof AS (
  SELECT lang AS p_lang, g FROM (
    SELECT lang, g,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, g) AS r
    FROM tri GROUP BY lang, g
  ) WHERE r <= 40
), scored AS (
  SELECT t.doc_id, p.p_lang, COUNT(*) AS hits
  FROM tri t JOIN prof p USING (g)
  GROUP BY 1, 2
), best AS (
  SELECT doc_id, p_lang AS predicted,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, p_lang) AS r
  FROM scored
)
SELECT d.lang, b.predicted, COUNT(*) AS n
FROM best b JOIN docs d USING (doc_id)
WHERE b.r = 1
GROUP BY 1, 2 ORDER BY 1, 2
"""


def _quant(col):
    """float -> clamped int8 code: floor(x*127) in [-127, 127]."""
    return F.transform(
        col,
        lambda x: F.greatest(
            F.lit(-127), F.least(F.lit(127), F.floor(x.cast("double") * 127))
        ),
    )


def _qdot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def q77_quantized_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized cosine top-3 — the memory-bandwidth half of
    vector search at scale: a 100 TB float32 corpus becomes 25 TB of
    int8 codes, scanned 4x faster, with candidates exact-rescored
    (q58's kernel) only for the survivors. Here the quantized score
    IS the output so the oracle can check it: integer dot products
    are exact in both engines, and the final divide-by-norms is a
    single deterministic float op.

    Same plan shape as q58: broadcast query side, one streaming scan,
    per-query top-k window."""
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", _quant(F.col("embedding")).alias("qe")
    )
    q = e.filter(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("qe").alias("qv")
    )
    pairs = e.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("query_id"))
    qcos = _qdot(F.col("qe"), F.col("qv")).cast("double") / (
        F.sqrt(_qdot(F.col("qe"), F.col("qe")).cast("double"))
        * F.sqrt(_qdot(F.col("qv"), F.col("qv")).cast("double"))
    )
    scored = pairs.select("query_id", "vec_id", F.round(qcos, 4).alias("qcos"))
    w = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "rn", "vec_id", "qcos")
        .orderBy("query_id", "rn")
    )


_QUANT_DUCK = (
    "list_transform({c}, x -> GREATEST(-127, LEAST(127, "
    "CAST(floor(CAST(x AS DOUBLE) * 127) AS BIGINT))))"
)
_QDOT_DUCK = (
    "list_reduce(list_transform(generate_series(1, 64), "
    "i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
)

O77 = f"""
WITH coded AS (
  SELECT vec_id, {_QUANT_DUCK.format(c='embedding')} AS qe FROM embeddings
), q AS (
  SELECT vec_id AS query_id, qe AS qv FROM coded WHERE vec_id IN (0, 1, 2)
), scored AS (
  SELECT q.query_id, e.vec_id,
         ROUND(CAST({_QDOT_DUCK.format(a='e.qe', b='q.qv')} AS DOUBLE) /
               (sqrt(CAST({_QDOT_DUCK.format(a='e.qe', b='e.qe')} AS DOUBLE)) *
                sqrt(CAST({_QDOT_DUCK.format(a='q.qv', b='q.qv')} AS DOUBLE))), 4) AS qcos
  FROM coded e CROSS JOIN q WHERE e.vec_id <> q.query_id
)
SELECT query_id, rn, vec_id, qcos FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qcos DESC, vec_id ASC) AS rn
  FROM scored
) WHERE rn <= 3 ORDER BY query_id, rn
"""


# ---------------------------------------------------------------------------
# Scale-safe composition: LSH candidates -> exact in-bucket rescore.
# The all-pairs kernels (q54/q63/q68) are oracle baselines; these are
# the shapes that actually run at corpus scale — pair count is bounded
# by bucket collisions, never by n^2.
# ---------------------------------------------------------------------------

def q81_lsh_rescored_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash band candidates -> exact 3-gram Jaccard rescore ->
    thresholded near-dup pairs.

    The end-to-end near-dup pipeline shape for 100 TB: the only
    quadratic step is inside LSH buckets (candidate count ~ O(dups)),
    and the shingle sets are joined to the candidate list — two keyed
    joins, no cross join anywhere in the plan (pinned by
    tests/test_plan_shapes.py).

    r13, examined + measured: the guide-§3.2 shape — persist the
    candidate pairs, broadcast-semi-join their distinct doc ids onto
    the corpus scan BEFORE the shingle fan-out, broadcast the now
    candidate-grain shingle table into the rescore joins — was built
    and profiled at sf0.1: 1.52 s → 3.39 s, 11 → 19 jobs
    (plans/r13/q81_lsh_rescored_jaccard_prefilter_rejected.txt). The
    extra materialization barrier and broadcast builds cost more
    locally than the two full-corpus shingle subtrees, which pipeline
    concurrently on idle cores (the persist-paradox class). At
    throughput-bound cluster scale the calculus flips — the default
    form tokenizes every doc twice and either broadcasts a
    corpus-grain table or degrades to two corpus-grain shuffles; the
    rejected shape and its numbers are in SCALE.md (r13 section).
    """
    cands = _minhash_band_candidates(spark, sf_dir)
    # planner's choice of join strategy (broadcasts at local scale)
    sh = _with_shingle_sets(t(spark, sf_dir, "documents")).select("doc_id", "sh")
    j = cands.join(
        sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")),
        "id_a",
    ).join(
        sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")),
        "id_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        j.select("id_a", "id_b", F.round(inter / union, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
        .orderBy("id_a", "id_b")
    )


O81 = f"""
WITH sigs AS (
  SELECT doc_id, {_duck_mh(0)} AS mh0, {_duck_mh(1)} AS mh1,
         {_duck_mh(2)} AS mh2, {_duck_mh(3)} AS mh3
  FROM documents
), long AS (
  SELECT doc_id, mh0 AS sig FROM sigs UNION ALL SELECT doc_id, mh1 FROM sigs
  UNION ALL SELECT doc_id, mh2 FROM sigs UNION ALL SELECT doc_id, mh3 FROM sigs
), cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM long a JOIN long b ON a.sig = b.sig AND a.doc_id < b.doc_id
), sh AS (
  SELECT doc_id, list_distinct({_DUCK_SHINGLES}) AS sh FROM documents
)
SELECT id_a, id_b,
       ROUND(len(list_intersect(sa.sh, sb.sh)) /
             CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE), 4) AS jaccard
FROM cands JOIN sh sa ON cands.id_a = sa.doc_id
           JOIN sh sb ON cands.id_b = sb.doc_id
WHERE ROUND(len(list_intersect(sa.sh, sb.sh)) /
            CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE), 4) >= 0.5
ORDER BY id_a, id_b
"""


def _bucketed_cosine_sides(spark: SparkSession, sf_dir: str, n_planes: int = 8):
    """ONE source of truth for the hyperplane-bucketed cosine-pair
    scaffolding shared by q82 (pair report) and q204 (SemDeDup
    clustering): the coded+normed table is persisted AND materialized
    before the self-join (the q53 signature-table lesson — the sign
    code is ~64·n_planes fused multiply-adds per row, and both join
    branches would otherwise race the cold cache), then split into the
    two renamed join sides. Returns (side_a, side_b, cosine_expr).

    ``n_planes`` is the PRODUCTION scaling knob (SemDeDup's cell
    count): more planes → exponentially more cells → lower per-cell
    occupancy, at the price of splitting some true near-dup pairs
    across cells. The oracle-checked queries pin n_planes=8; the
    scale harness measures the log-scaled production rule
    (see :func:`semantic_dedup_clusters`)."""
    code = _CODE_SPARK if n_planes == 8 else _code_spark_expr(n_planes)
    e = t(spark, sf_dir, "embeddings").withColumn("code", F.expr(code))
    n = e.select(
        "vec_id",
        "code",
        "embedding",
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("norm"),
    ).persist()
    n.count()  # materialize before both join branches reference it
    a = n.select(
        F.col("code"), F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"), F.col("norm").alias("na"),
    )
    b = n.select(
        F.col("code"), F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"), F.col("norm").alias("nb"),
    )
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return a, b, cos


def q82_bucket_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs restricted to hyperplane-LSH buckets:
    the scale-safe q63. Vectors sharing an 8-plane sign code are
    exact-rescored (cosine >= 0.45); cross-bucket pairs are never
    materialized. At 100 TB the corpus is written partitioned by
    ``code`` and this is a per-partition self-join.

    The coded+normed table is persisted BEFORE the self-join (the q53
    signature-table lesson): the 8-plane sign code is ~512 fused
    multiply-adds per row, and without the persist both join branches
    race the cold cache and compute it twice."""
    a, b, cos = _bucketed_cosine_sides(spark, sf_dir)
    return (
        a.join(b, "code")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 4).alias("cosine"))
        .filter(F.col("cosine") >= 0.45)
        .orderBy("id_a", "id_b")
    )


O82 = f"""
WITH coded AS (
  SELECT vec_id, embedding, {_CODE_DUCK} AS code,
         sqrt({_DDOT.format(a='embedding', b='embedding')}) AS norm
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND({_DDOT.format(a='a.embedding', b='b.embedding')} / (a.norm * b.norm), 4) AS cosine
FROM coded a JOIN coded b ON a.code = b.code AND a.vec_id < b.vec_id
WHERE ROUND({_DDOT.format(a='a.embedding', b='b.embedding')} / (a.norm * b.norm), 4) >= 0.45
ORDER BY id_a, id_b
"""


def q83_lsh_edit_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash band candidates -> Levenshtein rescore on 120-char
    prefixes -> pairs within 30% relative edit distance. The q68
    kernel in its production position: the O(n*m) DP runs only on
    bucket-collision pairs."""
    cands = _minhash_band_candidates(spark, sf_dir)
    p = t(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 120).alias("prefix")
    )
    j = cands.join(
        p.select(F.col("doc_id").alias("id_a"), F.col("prefix").alias("pa")), "id_a"
    ).join(p.select(F.col("doc_id").alias("id_b"), F.col("prefix").alias("pb")), "id_b")
    rel = F.levenshtein("pa", "pb") / F.greatest(F.length("pa"), F.length("pb"))
    return (
        j.select(
            "id_a", "id_b",
            F.levenshtein("pa", "pb").alias("edit_dist"),
            F.round(rel, 4).alias("rel_edit"),
        )
        .filter(F.col("rel_edit") <= 0.3)
        .orderBy("id_a", "id_b")
    )


O83 = f"""
WITH sigs AS (
  SELECT doc_id, {_duck_mh(0)} AS mh0, {_duck_mh(1)} AS mh1,
         {_duck_mh(2)} AS mh2, {_duck_mh(3)} AS mh3
  FROM documents
), long AS (
  SELECT doc_id, mh0 AS sig FROM sigs UNION ALL SELECT doc_id, mh1 FROM sigs
  UNION ALL SELECT doc_id, mh2 FROM sigs UNION ALL SELECT doc_id, mh3 FROM sigs
), cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM long a JOIN long b ON a.sig = b.sig AND a.doc_id < b.doc_id
), p AS (
  SELECT doc_id, substr(text, 1, 120) AS prefix FROM documents
)
SELECT id_a, id_b,
       levenshtein(pa.prefix, pb.prefix) AS edit_dist,
       ROUND(levenshtein(pa.prefix, pb.prefix) /
             CAST(greatest(length(pa.prefix), length(pb.prefix)) AS DOUBLE), 4) AS rel_edit
FROM cands JOIN p pa ON cands.id_a = pa.doc_id
           JOIN p pb ON cands.id_b = pb.doc_id
WHERE ROUND(levenshtein(pa.prefix, pb.prefix) /
            CAST(greatest(length(pa.prefix), length(pb.prefix)) AS DOUBLE), 4) <= 0.3
ORDER BY id_a, id_b
"""


def q84_training_set_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-set selection — the LLM-data pipeline's
    stages composed in ONE plan: exact-dedup survivorship (sha256
    window), length gate (>= 5 whitespace tokens), and an
    English-quality gate (per-doc stopword ratio >= 0.02 when
    lang = 'en'). Per source: kept/dup-dropped/quality-dropped counts
    and kept token volume.

    Plan shape at 100 TB: one scan, one hash shuffle on the uniform
    sha key for the survivor window, one partial-aggregated shuffle on
    source for the report — no joins, no Python.
    """
    d = t(spark, sf_dir, "documents").withColumn("_toks", _toks())
    n_toks = F.size("_toks")
    stop_n = F.size(F.filter("_toks", lambda x: x.isin(*_EN_STOP)))
    w = Window.partitionBy(F.sha2("text", 256))
    scored = d.select(
        "source",
        "lang",
        n_toks.alias("n_toks"),
        F.round(stop_n.cast("decimal(18,4)") / n_toks, 4).cast("double").alias("stop_ratio"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_survivor"),
    )
    quality_ok = (F.col("n_toks") >= 5) & (
        (F.col("lang") != "en") | (F.col("stop_ratio") >= 0.02)
    )
    sel = F.col("is_survivor") & quality_ok
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(sel, 1).otherwise(0)).alias("n_selected"),
            F.sum(F.when(~F.col("is_survivor"), 1).otherwise(0)).alias("n_dup_dropped"),
            F.sum(
                F.when(F.col("is_survivor") & ~quality_ok, 1).otherwise(0)
            ).alias("n_quality_dropped"),
            F.sum(F.when(sel, F.col("n_toks")).otherwise(0)).alias("kept_tokens"),
        )
        .orderBy("source")
    )


O84 = f"""
WITH scored AS (
  SELECT source, lang, len({TOKS}) AS n_toks,
         CAST(ROUND(CAST(len(list_filter({TOKS}, x -> x IN {_DUCK_STOP})) AS DECIMAL(18,4))
              / len({TOKS}), 4) AS DOUBLE) AS stop_ratio,
         doc_id = MIN(doc_id) OVER (PARTITION BY sha256(text)) AS is_survivor
  FROM documents
), flagged AS (
  SELECT *, (n_toks >= 5 AND (lang <> 'en' OR stop_ratio >= 0.02)) AS quality_ok
  FROM scored
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN is_survivor AND quality_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
       CAST(SUM(CASE WHEN NOT is_survivor THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_dropped,
       CAST(SUM(CASE WHEN is_survivor AND NOT quality_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_dropped,
       CAST(SUM(CASE WHEN is_survivor AND quality_ok THEN n_toks ELSE 0 END) AS BIGINT) AS kept_tokens
FROM flagged GROUP BY source ORDER BY source
"""


def q86_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for corpus curation: per-source
    keep-rates via a HASH gate, not ``rand()`` — the same row set on
    every engine, retry, and cluster size (reproducibility is a data
    contract in training pipelines). The gate compares a fixed-width
    md5 hex prefix lexicographically (== numerically on lowercase hex):
    '1a'/256 ~ 10.2% for even-numbered sources (stand-in for a
    low-quality stratum), '4d'/256 ~ 30.1% otherwise. Per source:
    population, sample size, and achieved rate."""
    d = t(spark, sf_dir, "documents")
    gate = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    threshold = F.when(
        F.substring("source", 4, 10).cast("int") % 2 == 0, F.lit("1a")
    ).otherwise(F.lit("4d"))
    return (
        d.select("source", (gate < threshold).alias("keep"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_sampled"),
            F.round(
                F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("decimal(18,4)")
                / F.count("*"),
                4,
            ).cast("double").alias("rate"),
        )
        .orderBy("source")
    )


O86 = """
WITH gated AS (
  SELECT source,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
           (CASE WHEN CAST(substr(source, 4) AS INTEGER) % 2 = 0
                 THEN '1a' ELSE '4d' END) AS keep
  FROM documents
)
SELECT source, COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       CAST(ROUND(CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DECIMAL(18,4))
            / COUNT(*), 4) AS DOUBLE) AS rate
FROM gated GROUP BY source ORDER BY source
"""


_BM25_TERMS = ("spark", "window", "hash")
_BM25_K1, _BM25_B = 1.2, 0.75


def q87_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword search, inverted-index shape: top-20 documents for
    a fixed 3-term query (Okapi BM25, k1=1.2, b=0.75).

    Plan: one scan computes per-doc length and explodes ONLY the
    query-term postings (the isin filter runs inside the array before
    the explode, so the shuffle carries query-hit rows, not the whole
    corpus — at 100 TB that is the difference between shuffling a few
    GB of postings and shuffling the text). Document frequencies are
    a <=3-row broadcast; corpus scalars (N, avgdl) a 1-row broadcast;
    top-k is TakeOrdered, never a global sort.

    Determinism: each term's contribution is floor-quantized to
    micro-units (BIGINT) before the per-doc sum, so accumulation
    order cannot move the result; ties broken by doc_id.
    """
    d = t(spark, sf_dir, "documents").withColumn("_toks", _toks())
    stats = d.select("doc_id", F.size("_toks").cast("long").alias("dl"), "_toks")
    scal = stats.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    tf = (
        stats.select(
            "doc_id",
            "dl",
            F.explode(F.filter("_toks", lambda x: x.isin(*_BM25_TERMS))).alias("term"),
        )
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tfreq"))
        # NOT persisted by default (r12): the postings frame feeds
        # both the df census and the scoring join, but a paired A/B at
        # 32 AND 8 cores showed the persist consistently slower here
        # (~+0.5 s — the materialization barrier costs more than the
        # duplicate tokenize saves on a query this small); q179, whose
        # bigger plan overlaps other work across the barrier, keeps
        # the persist with the same postings-sized cache argument.
        # At throughput-bound scale the duplicate is a full corpus
        # tokenize pass and the calculus may flip (SCALE.md, r13)
    )
    df_t = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    tf_norm = (F.col("tfreq") * (_BM25_K1 + 1)) / (
        F.col("tfreq")
        + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    )
    return (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(scal))
        .withColumn("contrib", F.floor(idf * tf_norm * 1e6))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_terms_hit"),
            F.sum("contrib").alias("score_micro"),
        )
        .orderBy(F.desc("score_micro"), "doc_id")
        .limit(20)
    )


O87 = f"""
WITH stats AS (
  SELECT doc_id, CAST(len({TOKS}) AS BIGINT) AS dl, {TOKS} AS tk FROM documents
), scal AS (
  SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM stats
), tf AS (
  SELECT doc_id, dl, term, COUNT(*) AS tfreq
  FROM (SELECT doc_id, dl,
               unnest(list_filter(tk, x -> x IN ('spark', 'window', 'hash'))) AS term
        FROM stats)
  GROUP BY doc_id, dl, term
), dft AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term
)
SELECT doc_id, COUNT(*) AS n_terms_hit, CAST(SUM(contrib) AS BIGINT) AS score_micro
FROM (
  SELECT tf.doc_id,
         CAST(floor(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
              * (tf.tfreq * 2.2)
              / (tf.tfreq + 1.2 * (1 - 0.75 + 0.75 * tf.dl / s.avgdl))
              * 1e6) AS BIGINT) AS contrib
  FROM tf JOIN dft d USING (term) CROSS JOIN scal s
)
GROUP BY doc_id ORDER BY score_micro DESC, doc_id LIMIT 20
"""


def q88_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition (boilerplate) signal: the fraction
    of duplicate 3-token shingles per document — the Gopher-style
    rep-ngram quality gate.

    Plan shape at 100 TB: ZERO shuffles before the output sort — the
    shingle set, its distinct count, and the ratio are all computed
    inside the row (array ops in whole-stage codegen), so the query
    is an embarrassingly parallel scan.
    """
    d = t(spark, sf_dir, "documents")
    s = (
        d.withColumn("_toks", _toks())
        .withColumn("_shingles", F.expr(_shingles_expr()))
        .select(
            "doc_id",
            "source",
            F.size("_shingles").cast("long").alias("n_shingles"),
            F.size(F.array_distinct("_shingles")).cast("long").alias("n_distinct"),
        )
    )
    dup_ratio = (
        F.round(
            (F.col("n_shingles") - F.col("n_distinct")).cast("decimal(18,4)")
            / F.col("n_shingles"),
            4,
        ).cast("double")
    )
    return s.select(
        "doc_id", "source", "n_shingles", "n_distinct", dup_ratio.alias("dup_ratio")
    ).orderBy("doc_id")


O88 = f"""
WITH s AS (
  SELECT doc_id, source, {_DUCK_SHINGLES} AS sh FROM documents
)
SELECT doc_id, source,
       CAST(len(sh) AS BIGINT) AS n_shingles,
       CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct,
       CAST(ROUND(CAST(len(sh) - len(list_distinct(sh)) AS DECIMAL(18,4))
            / len(sh), 4) AS DOUBLE) AS dup_ratio
FROM s ORDER BY doc_id
"""


_CHUNK, _STRIDE = 50, 40


def q89_token_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split each document into 50-token
    windows with a 40-token stride (10-token overlap) — the
    tokenize→chunk step every LLM pretraining pipeline runs before
    packing sequences.

    Plan shape at 100 TB: per-row expansion only (sequence → slice →
    explode inside codegen), ZERO shuffles before the output sort;
    the md5 chunk id makes downstream chunk-level dedup a plain
    shuffle-on-key. No Python anywhere.
    """
    d = t(spark, sf_dir, "documents")
    toks = _toks()
    n = F.size(toks)
    starts = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(_STRIDE))
    return (
        d.select("doc_id", toks.alias("_toks"), starts.alias("_starts"))
        .select("doc_id", F.explode("_starts").alias("start"), "_toks")
        .select(
            "doc_id",
            (F.col("start") / _STRIDE).cast("long").alias("chunk_idx"),
            F.col("start").cast("long").alias("token_start"),
            F.slice("_toks", F.col("start") + 1, _CHUNK).alias("_chunk"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            "token_start",
            F.size("_chunk").cast("long").alias("n_tokens"),
            F.md5(F.concat_ws(" ", "_chunk")).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


O89 = f"""
WITH toks AS (
  SELECT doc_id, {TOKS} AS tk FROM documents
), chunks AS (
  SELECT doc_id, s AS token_start, list_slice(tk, s + 1, s + {_CHUNK}) AS chunk
  FROM toks, LATERAL unnest(generate_series(0, greatest(len(tk) - 1, 0), {_STRIDE})) AS u(s)
)
SELECT doc_id,
       CAST(token_start / {_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(token_start AS BIGINT) AS token_start,
       CAST(len(chunk) AS BIGINT) AS n_tokens,
       md5(array_to_string(chunk, ' ')) AS chunk_md5
FROM chunks ORDER BY doc_id, chunk_idx
"""


def q90_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: pointwise mutual information for the 30
    most frequent adjacent-token bigrams —
    ``PMI = ln(c_xy * T^2 / (B * c_x * c_y))`` with T total tokens and
    B total bigrams.

    Plan shape at 100 TB: two partial-aggregated shuffles (bigram
    counts, unigram counts); the unigram table joins the bigram table
    twice — broadcast while the vocabulary fits (it does by orders of
    magnitude here; a web-scale vocabulary flips those to shuffle
    joins on the word key, which AQE decides from the actual size).
    Corpus totals ride a 1-row broadcast; top-30 is TakeOrdered.

    r12: ``totals`` is computed from one NARROW size() pass instead
    of re-aggregating the two censuses — t_tokens = Σ size(toks) and
    b_bigrams = Σ max(size−1, 0) are exact identities of the explode
    sums, so the corpus pays two explodes (uni for c_x, uni for c_y
    riding the same broadcast build, big for the spine) plus one
    cheap length-only scan, instead of five explodes. Persisting the
    censuses was tried and REJECTED by a paired A/B at 32 and 8
    cores: the materialization barrier cost more than the duplicate
    explodes at this scale (the duplicates pipeline concurrently),
    while the narrow-totals form is a strict subtraction of work.

    Determinism: PMI is floor-quantized to micro-units per row (no
    accumulation), so the only float op is one ln over exact integer
    ratios — identical in both engines.
    """
    d = t(spark, sf_dir, "documents").withColumn("_toks", _toks())
    n = F.size("_toks")
    bigrams_expr = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.concat_ws(" ", F.element_at("_toks", i + 1), F.element_at("_toks", i + 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    toks_long = d.select(F.explode("_toks").alias("w"))
    # uni feeds both broadcast builds below and is NOT persisted: the
    # persist lost the local A/B (see docstring; numbers in SCALE.md)
    uni = toks_long.groupBy("w").agg(F.count("*").alias("c_w"))
    big = (
        d.select(F.explode(bigrams_expr).alias("bg"))
        .groupBy("bg")
        .agg(F.count("*").alias("c_xy"))
    )
    totals = d.agg(
        F.sum(n.cast("long")).alias("t_tokens"),
        F.sum(F.greatest(n - 1, F.lit(0)).cast("long")).alias("b_bigrams"),
    )
    x = F.split(F.col("bg"), " ").getItem(0)
    y = F.split(F.col("bg"), " ").getItem(1)
    pmi = F.log(
        F.col("c_xy")
        * F.col("t_tokens")
        * F.col("t_tokens")
        / (F.col("b_bigrams") * F.col("c_x") * F.col("c_y"))
    )
    return (
        big.withColumn("x", x)
        .withColumn("y", y)
        .join(F.broadcast(uni.select(F.col("w").alias("x"), F.col("c_w").alias("c_x"))), "x")
        .join(F.broadcast(uni.select(F.col("w").alias("y"), F.col("c_w").alias("c_y"))), "y")
        .crossJoin(F.broadcast(totals))
        .select(
            "bg",
            "c_xy",
            "c_x",
            "c_y",
            F.floor(pmi * 1e6).alias("pmi_micro"),
        )
        .orderBy(F.desc("c_xy"), "bg")
        .limit(30)
    )


O90 = f"""
WITH toks AS (
  SELECT {TOKS} AS tk FROM documents
), uni AS (
  SELECT w, COUNT(*) AS c_w FROM (SELECT unnest(tk) AS w FROM toks) GROUP BY w
), big AS (
  SELECT bg, COUNT(*) AS c_xy
  FROM (SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
                                     i -> concat_ws(' ', tk[i], tk[i+1]))) AS bg
        FROM toks)
  GROUP BY bg
), totals AS (
  SELECT (SELECT CAST(SUM(c_w) AS BIGINT) FROM uni) AS t_tokens,
         (SELECT CAST(SUM(c_xy) AS BIGINT) FROM big) AS b_bigrams
)
SELECT bg, c_xy, ux.c_w AS c_x, uy.c_w AS c_y,
       CAST(floor(ln(CAST(c_xy AS DOUBLE) * t_tokens * t_tokens
            / (CAST(b_bigrams AS DOUBLE) * ux.c_w * uy.c_w)) * 1e6) AS BIGINT) AS pmi_micro
FROM big
JOIN uni ux ON ux.w = split_part(bg, ' ', 1)
JOIN uni uy ON uy.w = split_part(bg, ' ', 2)
CROSS JOIN totals
ORDER BY c_xy DESC, bg LIMIT 30
"""


def q91_cluster_representative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup survivorship by QUALITY, not arrival order: for each
    near-dup bucket (MinHash band-0 signature — the q53 candidate
    key) keep the member with the most characters, tie-broken by
    doc_id — the policy real curation pipelines use (keep the richest
    copy, drop the shells).

    Plan shape at 100 TB: the signature pass is per-row; then ONE
    shuffle on the uniform band key for the ranking window. Buckets
    are hash-keyed, so no skew.
    """
    d = with_minhash(_spread(spark, t(spark, sf_dir, "documents")))
    w = Window.partitionBy("mh0").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        d.select("doc_id", "n_chars", "mh0")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("cluster_size", F.count("*").over(Window.partitionBy("mh0")))
        .filter((F.col("rn") == 1) & (F.col("cluster_size") > 1))
        .select(
            F.col("mh0").alias("bucket"),
            F.col("doc_id").alias("rep_doc"),
            "n_chars",
            "cluster_size",
        )
        .orderBy("bucket")
    )


O91 = f"""
WITH sigs AS (
  SELECT doc_id, n_chars, {_duck_mh(0)} AS mh0 FROM documents
), ranked AS (
  SELECT mh0, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY mh0 ORDER BY n_chars DESC, doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY mh0) AS cluster_size
  FROM sigs
)
SELECT mh0 AS bucket, doc_id AS rep_doc, n_chars, cluster_size
FROM ranked WHERE rn = 1 AND cluster_size > 1 ORDER BY bucket
"""


_KMEANS_K = 8


def q93_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means assignment step over the embedding corpus — the
    kernel of semantic clustering (topic balancing, cluster-based
    dedup, diversity sampling) in LLM-data pipelines. Centroids are
    deterministic (the int8-quantized vectors of vec_id 0..7); every
    vector is assigned to the centroid with the highest quantized
    cosine, ties to the lowest centroid id; output is the per-centroid
    census with an exact integer score checksum.

    Plan shape at 100 TB: centroids are a k-row broadcast; the corpus
    streams once through a broadcast nested loop (k * N integer dot
    products, no shuffle of the vectors); the assignment window
    partitions by vec_id (uniform key); the census is one
    partial-aggregated shuffle of k rows.

    Determinism: distances are exact integer arithmetic (int8 dot
    products) divided once per pair; per-vector floor-quantization to
    1e4 units before the census sum keeps accumulation order out of
    the result.
    """
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", _quant(F.col("embedding")).alias("qe")
    )
    c = e.filter(F.col("vec_id") < _KMEANS_K).select(
        F.col("vec_id").alias("centroid_id"), F.col("qe").alias("cv")
    )
    qcos = _qdot(F.col("qe"), F.col("cv")).cast("double") / (
        F.sqrt(_qdot(F.col("qe"), F.col("qe")).cast("double"))
        * F.sqrt(_qdot(F.col("cv"), F.col("cv")).cast("double"))
    )
    scored = e.crossJoin(F.broadcast(c)).select(
        "vec_id", "centroid_id", F.floor(qcos * 1e4).alias("qcos_e4")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("qcos_e4"), F.asc("centroid_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("centroid_id")
        .agg(
            F.count("*").alias("n_assigned"),
            F.min("vec_id").alias("min_member"),
            F.sum("qcos_e4").alias("sum_qcos_e4"),
        )
        .orderBy("centroid_id")
    )


O93 = f"""
WITH coded AS (
  SELECT vec_id, {_QUANT_DUCK.format(c='embedding')} AS qe FROM embeddings
), cents AS (
  SELECT vec_id AS centroid_id, qe AS cv FROM coded WHERE vec_id < {_KMEANS_K}
), scored AS (
  SELECT e.vec_id, c.centroid_id,
         CAST(floor(CAST({_QDOT_DUCK.format(a='e.qe', b='c.cv')} AS DOUBLE) /
              (sqrt(CAST({_QDOT_DUCK.format(a='e.qe', b='e.qe')} AS DOUBLE)) *
               sqrt(CAST({_QDOT_DUCK.format(a='c.cv', b='c.cv')} AS DOUBLE))) * 1e4)
              AS BIGINT) AS qcos_e4
  FROM coded e CROSS JOIN cents c
), assigned AS (
  SELECT * FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
              ORDER BY qcos_e4 DESC, centroid_id ASC) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT centroid_id, COUNT(*) AS n_assigned, MIN(vec_id) AS min_member,
       CAST(SUM(qcos_e4) AS BIGINT) AS sum_qcos_e4
FROM assigned GROUP BY centroid_id ORDER BY centroid_id
"""


def q94_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation funnel in ONE plan: exact-dedup survivorship
    (sha256 window) → quality gates (length + English stopword ratio)
    → deterministic hash-gated sampling ('4d'/256 ≈ 30.1%) → chunk /
    token budget per source — the report a training-data run publishes
    before spending GPU-time.

    Chunk counts use the CLOSED FORM of the q89 chunker
    (windows of {chunk} every {stride}): n_chunks =
    floor(max(n-1,0)/{stride})+1 and chunk_tokens = Σ min({chunk},
    n-start) — computed per-row with no explode, so the whole funnel
    is one scan + ONE hash shuffle (sha survivor window) + one
    partial-aggregated report shuffle. At 100 TB nothing in the plan
    grows faster than the input.
    """
    d = t(spark, sf_dir, "documents").withColumn("_toks", _toks())
    n_toks = F.size("_toks")
    stop_n = F.size(F.filter("_toks", lambda x: x.isin(*_EN_STOP)))
    w = Window.partitionBy(F.sha2("text", 256))
    starts = F.sequence(
        F.lit(0), F.greatest(F.col("n_toks") - 1, F.lit(0)), F.lit(_STRIDE)
    )
    chunk_tokens = F.aggregate(
        starts,
        F.lit(0).cast("long"),
        lambda acc, s: acc + F.least(F.lit(_CHUNK), F.col("n_toks") - s),
    )
    scored = d.select(
        "source",
        "lang",
        "doc_id",
        n_toks.alias("n_toks"),
        F.round(stop_n.cast("decimal(18,4)") / n_toks, 4).cast("double").alias("stop_ratio"),
        (F.col("doc_id") == F.min("doc_id").over(w)).alias("is_survivor"),
        (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "4d").alias("in_sample"),
    )
    quality_ok = (F.col("n_toks") >= 5) & (
        (F.col("lang") != "en") | (F.col("stop_ratio") >= 0.02)
    )
    sel = F.col("is_survivor") & quality_ok & F.col("in_sample")
    n_chunks = F.floor(F.greatest(F.col("n_toks") - 1, F.lit(0)) / _STRIDE) + 1
    return (
        scored.withColumn("n_chunks", n_chunks)
        .withColumn("chunk_tokens", chunk_tokens)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(sel, 1).otherwise(0)).alias("n_selected"),
            F.sum(F.when(sel, F.col("n_chunks")).otherwise(0)).alias("n_chunks"),
            F.sum(F.when(sel, F.col("chunk_tokens")).otherwise(0)).alias("n_chunk_tokens"),
        )
        .orderBy("source")
    )


q94_curation_pipeline.__doc__ = q94_curation_pipeline.__doc__.format(
    chunk=_CHUNK, stride=_STRIDE
)

O94 = f"""
WITH scored AS (
  SELECT source, lang, doc_id, len({TOKS}) AS n_toks,
         CAST(ROUND(CAST(len(list_filter({TOKS}, x -> x IN {_DUCK_STOP})) AS DECIMAL(18,4))
              / len({TOKS}), 4) AS DOUBLE) AS stop_ratio,
         doc_id = MIN(doc_id) OVER (PARTITION BY sha256(text)) AS is_survivor,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '4d' AS in_sample
  FROM documents
), flagged AS (
  SELECT source,
         (is_survivor AND in_sample
          AND n_toks >= 5 AND (lang <> 'en' OR stop_ratio >= 0.02)) AS sel,
         CAST(floor(greatest(n_toks - 1, 0) / {_STRIDE}.0) AS BIGINT) + 1 AS n_chunks,
         list_reduce(list_transform(generate_series(0, greatest(n_toks - 1, 0), {_STRIDE}),
                                    s -> least({_CHUNK}, n_toks - s)),
                     (a, b) -> a + b) AS chunk_tokens
  FROM scored
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
       CAST(SUM(CASE WHEN sel THEN n_chunks ELSE 0 END) AS BIGINT) AS n_chunks,
       CAST(SUM(CASE WHEN sel THEN chunk_tokens ELSE 0 END) AS BIGINT) AS n_chunk_tokens
FROM flagged GROUP BY source ORDER BY source
"""


_SEQ_LEN = 512
_PACK_BUCKET = 128


def q95_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing, concat-and-split style: lay every chunk (the
    q89 chunker's output) end-to-end in (doc_id, chunk_idx) order and
    cut a training sequence every 512 tokens; a chunk belongs to the
    sequence its first token lands in. Report per sequence: chunks,
    tokens, distinct docs.

    The global running offset is a HIERARCHICAL prefix sum — the scale
    point of this query. A naive ``SUM() OVER (ORDER BY ...)`` with no
    partition key is a single-partition window (one task owns 100 TB
    of chunks). Instead: (1) cumsum WITHIN doc-id buckets of
    {bucket} docs — a hash-partitioned window; (2) cumsum of the
    per-bucket totals — a window over corpus/{bucket} rows, the only
    SinglePartition step (recurse another level when even that is too
    wide); (3) broadcast-join the bucket offsets back. Identical
    result to the flat window, which is exactly what the DuckDB oracle
    computes.
    """
    chunks = (
        t(spark, sf_dir, "documents")
        .withColumn("_toks", _toks())
        .select(
            "doc_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.size("_toks") - 1, F.lit(0)),
                    F.lit(_STRIDE),
                )
            ).alias("start"),
            F.size("_toks").alias("n"),
        )
        .select(
            "doc_id",
            (F.col("start") / _STRIDE).cast("long").alias("chunk_idx"),
            F.least(F.lit(_CHUNK), F.col("n") - F.col("start")).cast("long").alias("n_tokens"),
            (F.col("doc_id") / _PACK_BUCKET).cast("long").alias("bucket"),
        )
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("doc_id", "chunk_idx")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = chunks.withColumn("cum_in", F.sum("n_tokens").over(w_in))
    bucket_totals = chunks.groupBy("bucket").agg(F.sum("n_tokens").alias("btotal"))
    w_b = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = bucket_totals.withColumn(
        "boffset", F.coalesce(F.sum("btotal").over(w_b), F.lit(0))
    ).select("bucket", "boffset")
    return (
        within.join(F.broadcast(offsets), "bucket")
        .withColumn("offset", F.col("boffset") + F.col("cum_in") - F.col("n_tokens"))
        .withColumn("seq_id", F.floor(F.col("offset") / _SEQ_LEN))
        .groupBy("seq_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("n_tokens").alias("n_tokens"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy("seq_id")
    )


q95_pack_sequences.__doc__ = q95_pack_sequences.__doc__.format(bucket=_PACK_BUCKET)

O95 = f"""
WITH chunks AS (
  SELECT doc_id, s / {_STRIDE} AS chunk_idx,
         CAST(least({_CHUNK}, len({TOKS}) - s) AS BIGINT) AS n_tokens
  FROM documents,
       LATERAL unnest(generate_series(0, greatest(len({TOKS}) - 1, 0), {_STRIDE})) AS u(s)
), placed AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id, chunk_idx
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS "offset"
  FROM chunks
)
SELECT CAST(floor("offset" / {_SEQ_LEN}.0) AS BIGINT) AS seq_id,
       COUNT(*) AS n_chunks,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       COUNT(DISTINCT doc_id) AS n_docs
FROM placed GROUP BY seq_id ORDER BY seq_id
"""


_DECON_N = 4
_BENCH_IDS = 5  # doc_id < 5 plays the held-out benchmark set


def q96_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    4-token n-gram with a held-out benchmark set (docs 0..4 stand in
    for the eval suite) — the gate every serious pretraining run
    applies so test sets don't leak into training data.

    Plan shape at 100 TB: benchmark suites are tiny next to the
    corpus, so their distinct n-gram set collapses to a ONE-ROW
    broadcast (``collect_set``) and each corpus doc scores itself
    within-row via ``array_intersect`` — per-doc distinct hits with
    ZERO corpus-side shuffle before the final per-source rollup (an
    earlier explode → broadcast-join → roster-rejoin shape cost two
    extra exchanges for the same answer; at sf0.1 this form measures
    ~2x faster). If the eval suite ever outgrew a broadcast array,
    the fallback is the explode + broadcast-hash-join form — the
    corpus still never shuffles its text in either.
    """
    d = t(spark, sf_dir, "documents").withColumn("_toks", _toks())
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size("_toks") - _DECON_N, F.lit(0))),
            lambda s: F.concat_ws(" ", F.slice("_toks", s + 1, _DECON_N)),
        )
    )
    with_g = d.select("doc_id", "source", grams.alias("_grams"))
    bench = (
        with_g.filter(F.col("doc_id") < _BENCH_IDS)
        .select(F.explode("_grams").alias("g"))
        .agg(F.collect_set("g").alias("_bench"))
    )
    n_hits = F.size(F.array_intersect("_grams", "_bench"))
    return (
        with_g.filter(F.col("doc_id") >= _BENCH_IDS)
        .crossJoin(F.broadcast(bench))
        .select("source", n_hits.alias("n_hits"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("n_hits") > 0, 1).otherwise(0)).alias("n_contaminated"),
            F.sum("n_hits").alias("n_hit_ngrams"),
        )
        .orderBy("source")
    )


_DUCK_GRAMS = (
    f"list_distinct(list_transform("
    f"generate_series(0, greatest(len({TOKS}) - {_DECON_N}, 0), 1), "
    f"s -> array_to_string(list_slice({TOKS}, s + 1, s + {_DECON_N}), ' ')))"
)

O96 = f"""
WITH with_g AS (
  SELECT doc_id, source, {_DUCK_GRAMS} AS grams FROM documents
), bench AS (
  SELECT DISTINCT unnest(grams) AS g FROM with_g WHERE doc_id < {_BENCH_IDS}
), hits AS (
  SELECT c.doc_id, c.source, COUNT(*) AS n_hits
  FROM (SELECT doc_id, source, unnest(grams) AS g
        FROM with_g WHERE doc_id >= {_BENCH_IDS}) c
  JOIN bench USING (g)
  GROUP BY c.doc_id, c.source
)
SELECT w.source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN h.n_hits > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       CAST(SUM(COALESCE(h.n_hits, 0)) AS BIGINT) AS n_hit_ngrams
FROM with_g w LEFT JOIN hits h ON w.doc_id = h.doc_id
WHERE w.doc_id >= {_BENCH_IDS}
GROUP BY w.source ORDER BY w.source
"""


_HIST_SPLIT = 400  # doc_id < 400 plays the historical index


def q97_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: a new crawl batch (doc_id >= 400)
    checked against the HISTORICAL index (doc_id < 400) on three
    keys at once — exact sha256, normalized fingerprint, and MinHash
    band signature — the decision table a daily ingest publishes:
    how much of today's crawl is new vs. already-held.

    The 100 TB shape this models: the historical side is a compact
    key index (hash columns only, not text — at scale a bucketed
    state table updated per batch), so each check is a semi-join of
    the new batch against keys. New-batch rows never join each other
    and the text never moves; per check the shuffle carries one hash
    column. Verdict classes: ``exact`` ⊂ ``normalized`` ⊂
    ``near`` precedence — a doc gets its strongest match.

    r12: ``keyed`` is PERSISTED (plan-lifetime, the q217 discipline).
    It is referenced four times (three hist key tables + the new
    batch), and Spark shares no subtrees across branches, so the one
    action used to re-scan the corpus and recompute sha256 + fp-md5 +
    MinHash 4× (4 parquet scans, each under its own spread Exchange,
    in plans/r12/q97_incremental_dedup_before.txt). The cached row is
    the compact key index itself — doc_id, source, three hashes,
    ~100 B/doc, orders under the text it replaces — which is exactly
    the state table the docstring says a real ingest would keep; with
    it the corpus is scanned and hashed exactly once. Composing
    callers running many plans should ``spark.catalog.clearCache()``
    when done (the bench does between reps) — the persist is
    plan-lifetime and cannot be unpersisted here because the
    returned plan still reads it (ADVICE r12).
    """
    d = with_minhash(_spread(spark, t(spark, sf_dir, "documents")))
    keyed = d.select(
        "doc_id",
        "source",
        F.sha2("text", 256).alias("sha"),
        F.md5(F.regexp_replace(F.lower(F.col("text")), "\\s+", " ")).alias("fp"),
        "mh0",
    ).persist()
    hist = keyed.filter(F.col("doc_id") < _HIST_SPLIT)
    new = keyed.filter(F.col("doc_id") >= _HIST_SPLIT)
    sha_hit = hist.select("sha").distinct().withColumn("sha_dup", F.lit(True))
    fp_hit = hist.select("fp").distinct().withColumn("fp_dup", F.lit(True))
    mh_hit = hist.select("mh0").distinct().withColumn("mh_dup", F.lit(True))
    verdict = F.when(F.col("sha_dup"), "exact").when(F.col("fp_dup"), "normalized").when(
        F.col("mh_dup"), "near"
    ).otherwise("novel")
    return (
        new.join(sha_hit, "sha", "left")
        .join(fp_hit, "fp", "left")
        .join(mh_hit, "mh0", "left")
        .select("source", verdict.alias("verdict"))
        .groupBy("source", "verdict")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("source", "verdict")
    )


O97 = f"""
WITH keyed AS (
  SELECT doc_id, source, sha256(text) AS sha,
         md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp,
         {_duck_mh(0)} AS mh0
  FROM documents
), hist AS (
  SELECT * FROM keyed WHERE doc_id < {_HIST_SPLIT}
), new AS (
  SELECT * FROM keyed WHERE doc_id >= {_HIST_SPLIT}
)
SELECT n.source,
       CASE WHEN n.sha IN (SELECT sha FROM hist) THEN 'exact'
            WHEN n.fp IN (SELECT fp FROM hist) THEN 'normalized'
            WHEN n.mh0 IN (SELECT mh0 FROM hist) THEN 'near'
            ELSE 'novel' END AS verdict,
       COUNT(*) AS n_docs
FROM new n
GROUP BY 1, 2 ORDER BY 1, 2
"""


_FRAME_BYTES = 64


def q98_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling through the real 1→N mapInPandas kernel
    (operators/multimodal.sample_frames): one input asset row fans
    out to one row per sampled frame INSIDE the Arrow batch — the
    expansion contract a real demuxer needs (output batches larger
    than input batches). The modality filter runs before the Python
    boundary, so image/audio rows never cross it.

    The oracle recomputes the byte-slice frames in SQL (frame k =
    bytes [64k, 64k+64) of the content) including an md5 checksum of
    every frame body — proving the kernel's 1→N output is
    bit-deterministic, which is what makes it retry-safe at scale.
    """
    from ..operators.multimodal import documents_as_assets, sample_frames

    assets = documents_as_assets(_spread(spark, t(spark, sf_dir, "documents")))
    frames = sample_frames(assets, every_bytes=_FRAME_BYTES)
    fhash = F.conv(F.substring(F.md5("frame"), 1, 8), 16, 10).cast("long")
    return frames.agg(
        F.count("*").alias("n_frames"),
        F.countDistinct("asset_id").alias("n_videos"),
        F.sum("frame_idx").alias("sum_idx"),
        F.sum(F.length("frame")).alias("sum_bytes"),
        F.sum(fhash).alias("qsum_fhash"),
    )


O98 = f"""
WITH vids AS (
  SELECT doc_id, text, octet_length(encode(text)) AS blen
  FROM documents WHERE doc_id % 3 = 2
), frames AS (
  SELECT doc_id, k,
         substr(text, k * {_FRAME_BYTES} + 1, {_FRAME_BYTES}) AS frame
  FROM vids,
       LATERAL unnest(generate_series(0, CAST(ceil(greatest(blen, 1) / {_FRAME_BYTES}.0) AS BIGINT) - 1))
       AS u(k)
)
SELECT COUNT(*) AS n_frames,
       COUNT(DISTINCT doc_id) AS n_videos,
       CAST(SUM(k) AS BIGINT) AS sum_idx,
       CAST(SUM(octet_length(encode(frame))) AS BIGINT) AS sum_bytes,
       CAST(SUM(list_reduce(list_transform(generate_series(1, 8), i ->
            CAST(strpos('{_HEX}', substr(md5(frame), i, 1)) - 1 AS BIGINT)),
            (x, y) -> x * 16 + y)) AS BIGINT) AS qsum_fhash
FROM frames
"""


def q201_coverage_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy SET-COVER data selection (3 unrolled rounds) — the
    submodular facility-location recipe behind coverage-driven
    training-data subset selection: each round picks the document
    adding the most NOT-YET-COVERED distinct 3-token shingles, then
    folds its shingles into the covered set. Greedy gives the classic
    (1 − 1/e) coverage guarantee and is inherently sequential in k —
    like q199's BPE loop it unrolls as rounds, with the corpus-sized
    work bounded per round: one anti-join of the (doc, shingle) table
    against the covered set + one partial-agged gain census; the
    1-row argmax broadcasts. The covered set grows by at most the
    picked docs' shingles (production uses a bloom/KMV sketch of it —
    q183/q191's kernels — once it outgrows a broadcast).

    The element universe is DISTINCT 3-token shingles (q54/q190's
    geometry; the corpus's whitespace-token vocabulary is only ~31
    words, so token-level cover would degenerate to one doc).
    Report: (round, doc_id, gain) — the greedy trace, deterministic
    via the (gain desc, doc_id) tie-break. CONTRACT: a round whose
    candidate set is empty (coverage exhausted early) emits NO row,
    in BOTH engines — the trace is ≤3 rows, one per productive round
    (gain ≥ 1 by construction; greedy never picks a gain-0 doc here).
    """
    from ..operators.selection import coverage_selection

    d = (
        _with_shingle_sets(t(spark, sf_dir, "documents"))
    )
    tok = d.select("doc_id", F.explode("sh").alias("sh"))
    return coverage_selection(tok, 3, covered="exact")


def _O201_round(prev_tok: str, prev_cov: str | None, rnd: int,
                last: bool = False) -> str:
    src = (
        f"(SELECT doc_id, sh FROM {prev_tok} "
        f"WHERE sh NOT IN (SELECT sh FROM {prev_cov}))"
        if prev_cov
        else prev_tok
    )
    cov_prev = f"SELECT sh FROM {prev_cov} UNION " if prev_cov else ""
    t_cte = f"""t{rnd} AS (
  SELECT {rnd} AS round, doc_id, COUNT(*) AS gain FROM {src} AS k{rnd}
  GROUP BY doc_id ORDER BY gain DESC, doc_id LIMIT 1
)"""
    if last:  # the last round's covered set has no consumer
        return t_cte
    return t_cte + f""", c{rnd} AS (
  {cov_prev}SELECT DISTINCT sh FROM {prev_tok}
  WHERE doc_id IN (SELECT doc_id FROM t{rnd})
)"""


O201 = f"""
WITH d AS (
  SELECT doc_id, list_distinct({_DUCK_SHINGLES}) AS sh FROM documents
), tok AS (
  SELECT doc_id, unnest(sh) AS sh FROM d
), {_O201_round("tok", None, 1)}, {_O201_round("tok", "c1", 2)}, {_O201_round("tok", "c2", 3, last=True)}
SELECT round, doc_id, CAST(gain AS BIGINT) AS gain FROM (
  SELECT * FROM t1 UNION ALL SELECT * FROM t2 UNION ALL SELECT * FROM t3
) ORDER BY round
"""


_BPE_VOCAB = 100  # training words (census top-N); rounds below are unrolled


def q199_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-training driver loop (Sennrich et al. 2016) in
    PURE relational algebra — 3 unrolled merge rounds over the
    corpus's top-100 word census: each round computes the adjacent-
    symbol-pair census (weighted by word frequency), picks the argmax
    pair (count desc, then lexicographic — a unique tie-break), and
    rewrites every word's symbol sequence with the merged token.
    The report is the learned merge table: (round, a, b, pair_count).

    Plan shape at 100 TB: ONLY the word census touches the corpus
    (one partial-agged shuffle); the top-vocab slice — bounded by a
    constant — is collected ONCE and every merge round runs in
    Python on the driver (r13; ``_bpe_train``), so the whole query
    is one engine action — the classic tokenizer-training loop where
    corpus scale and training-loop scale are decoupled.

    Merge application = ONE left-to-right non-overlapping
    regexp_replace pass with CONSUMED delimiters — deterministic and
    verified IDENTICAL in Java regex and RE2 (' a a a ' -> ' aa a '),
    which is what makes the query oracle-exact. Disclosure: because a
    match eats both surrounding spaces, the pair starting at the very
    next token is also skipped within the pass (' e r e r ' merges
    once, not twice; exhaustive BPE would merge both) — later rounds
    pick up what a pass leaves. A documented simplification that
    keeps the rewrite relational instead of per-row sequential
    Python; the exact semantics are pinned against a Python reference
    in tests/test_r6_math_properties.py.
    """
    merges = _bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        merges, "round int, a string, b string, n long"
    ).orderBy("round")


def bpe_word_census_from(docs: DataFrame) -> DataFrame:
    """(w, cnt) census of lowercase-alpha words from a documents-shaped
    frame (q223's census)."""
    return (
        docs.select(F.explode(_toks()).alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
    )


def _bpe_word_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w, cnt) census of lowercase-alpha corpus words — the ONLY
    corpus-touching stage of the BPE family (q199 trains on its top
    slice, q210 tokenizes all of it)."""
    return bpe_word_census_from(t(spark, sf_dir, "documents"))


def _bpe_reprs(words: DataFrame, *cols) -> DataFrame:
    """Character-symbol representation ' c h a r s </w> ' per word."""
    return words.select(
        F.concat(
            F.lit(" "),
            F.concat_ws(" ", F.expr("regexp_extract_all(w, '.', 0)")),
            F.lit(" </w> "),
        ).alias("repr"),
        "cnt",
        *cols,
    )


def _bpe_apply_merge(r: DataFrame, a: str, b: str) -> DataFrame:
    """One left-to-right consumed-delimiter merge pass (q199's
    documented single-pass contract) of the trained (a, b) pair over
    a repr frame — shared by training rounds and q210's corpus
    tokenization so the two cannot drift. r12: the pair arrives as
    two LITERALS (collected by ``_bpe_train``, the q212
    round-collect discipline) instead of a broadcast 1-row frame —
    the replace is a plain projection, so the apply chain adds zero
    joins, zero persists and zero exchanges per merge (measured:
    q223 scheduled 27 jobs / 74 stages through the old
    crossJoin+persist chain, 7 / 16 after). Symbols are
    lowercase-alpha chars or ``</w>``, none of which is a regex
    metacharacter, so the literal pattern is exact."""
    others = [c for c in r.columns if c != "repr"]
    return r.select(
        F.regexp_replace(
            "repr", f" {a} {b} ", f" {a}{b} "
        ).alias("repr"),
        *others,
    )


def _bpe_train(
    spark: SparkSession, sf_dir: str, census: DataFrame | None = None
) -> list[tuple[int, str, str, int]]:
    """q199's 3 unrolled training rounds over the top-{_BPE_VOCAB}
    word census; returns the per-round argmax merges as
    (round, a, b, n) tuples. Pass an already-persisted ``census`` to
    share the corpus scan with a downstream consumer (q210).

    r12 collected each round's 1-row argmax (3 sequential actions
    whose round-trip latency the r12 verdict measured at ~2× q199's
    r11 time); r13 collects the top-{_BPE_VOCAB} (w, cnt) SLICE once
    — bounded by a constant, never data-sized — and runs the whole
    training loop in Python on the driver: ONE engine action total,
    and the only data-sized work is the word census inside it (guide
    §1.2 — O(K) training state belongs on the driver, the corpus
    pass belongs in the engine; the q207/q212 discipline). Round
    semantics are unchanged and engine-exact: integer pair counts
    summed per adjacent symbol pair (argmax by count desc then (a,
    b) — Python tuple order == the engine's binary string order on
    these lowercase-ASCII symbols), and the merge rewrite is
    ``str.replace`` whose left-to-right non-overlapping
    consumed-delimiter semantics equal the single-pass
    ``regexp_replace`` contract documented on q199 (both pinned
    against the independent reference in
    tests/test_r6_math_properties.py). When ``census`` is a caller's
    persisted frame (q210/q223), the slice collect doubles as its
    cache materialization, exactly like the old round-1 collect."""
    words = (
        (census if census is not None else _bpe_word_census(spark, sf_dir))
        .orderBy(F.desc("cnt"), "w")
        .limit(_BPE_VOCAB)
    )
    reprs = [
        (" " + " ".join(r["w"]) + " </w> ", int(r["cnt"]))
        for r in words.collect()
    ]
    merges = []
    for rnd in (1, 2, 3):
        counts: dict[tuple[str, str], int] = {}
        for rep, cnt in reprs:
            syms = rep.strip().split(" ")
            for i in range(len(syms) - 1):
                key = (syms[i], syms[i + 1])
                counts[key] = counts.get(key, 0) + cnt
        (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rnd, a, b, n))
        reprs = [
            (rep.replace(f" {a} {b} ", f" {a}{b} "), cnt)
            for rep, cnt in reprs
        ]
    return merges


def _O199_round(prev: str, rnd: int) -> str:
    return f"""p{rnd} AS (
  SELECT arr[i] AS a, arr[i + 1] AS b, CAST(SUM(cnt) AS BIGINT) AS n
  FROM (SELECT string_split(trim(repr), ' ') AS arr, cnt FROM {prev}),
       LATERAL unnest(generate_series(1, len(arr) - 1)) AS u(i)
  GROUP BY 1, 2
), t{rnd} AS (
  SELECT {rnd} AS round, a, b, n FROM p{rnd} ORDER BY n DESC, a, b LIMIT 1
), r{rnd} AS (
  SELECT regexp_replace(repr, ' ' || t{rnd}.a || ' ' || t{rnd}.b || ' ',
                        ' ' || t{rnd}.a || t{rnd}.b || ' ', 'g') AS repr, cnt
  FROM {prev}, t{rnd}
)"""


O199 = f"""
WITH words AS (
  SELECT w, COUNT(*) AS cnt FROM (
    SELECT unnest({TOKS}) AS w FROM documents
  ) WHERE regexp_matches(w, '^[a-z]+$')
  GROUP BY 1 ORDER BY cnt DESC, w LIMIT {_BPE_VOCAB}
), r0 AS (
  SELECT ' ' || array_to_string(regexp_extract_all(w, '.', 0), ' ') || ' </w> ' AS repr,
         cnt
  FROM words
), {_O199_round("r0", 1)}, {_O199_round("r1", 2)}, {_O199_round("r2", 3)}
SELECT round, a, b, n FROM (
  SELECT * FROM t1 UNION ALL SELECT * FROM t2 UNION ALL SELECT * FROM t3
) ORDER BY round
"""


_BPE_TOPK = 20


def q210_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED-tokenizer APPLICATION — the tokenizer family's q208:
    q199 trains the merge table, this query composes training INTO
    corpus tokenization: train 3 merges on the top-{_BPE_VOCAB} word
    census, then apply them IN ORDER (the same shared single-pass
    consumed-delimiter rewrite, ``_bpe_apply_merge`` — training and
    application literally share the merge operator, so the two cannot
    drift) to EVERY corpus word, and report the resulting token
    vocabulary: top-{_BPE_TOPK} tokens by corpus-weighted count,
    with the distinct-word support of each.

    Plan shape at 100 TB: the corpus is touched ONCE — the word
    census is computed once, PERSISTED, and feeds both the training
    slice and the application pass (one partial-agged shuffle);
    training rounds run on the ≤{_BPE_VOCAB}-row vocabulary;
    application rewrites the DISTINCT-WORD census (sublinear in
    corpus size — Heaps' law), weighted by counts, with each merge a
    literal projection (r12 — the trained pairs are collected, so the
    apply chain has no joins) — so tokenizing 100 TB costs one census
    plus vocabulary-sized work, never a second corpus pass.
    """
    census = _bpe_word_census(spark, sf_dir).persist()
    merges = _bpe_train(spark, sf_dir, census=census)
    r = _bpe_reprs(census, "w")
    for _, a, b, _n in merges:
        r = _bpe_apply_merge(r, a, b)
    toks = r.select(
        "w",
        "cnt",
        F.explode(F.split(F.trim("repr"), " ")).alias("token"),
    )
    return (
        toks.groupBy("token")
        .agg(
            F.sum("cnt").alias("total"),
            F.countDistinct("w").alias("n_words"),
        )
        .orderBy(F.desc("total"), "token")
        .limit(_BPE_TOPK)
    )


O210 = f"""
WITH census AS (
  SELECT w, COUNT(*) AS cnt FROM (
    SELECT unnest({TOKS}) AS w FROM documents
  ) WHERE regexp_matches(w, '^[a-z]+$')
  GROUP BY 1
), words AS (
  SELECT w, cnt FROM census ORDER BY cnt DESC, w LIMIT {_BPE_VOCAB}
), r0 AS (
  SELECT ' ' || array_to_string(regexp_extract_all(w, '.', 0), ' ') || ' </w> ' AS repr,
         cnt
  FROM words
), {_O199_round("r0", 1)}, {_O199_round("r1", 2)}, {_O199_round("r2", 3)}, a0 AS (
  SELECT ' ' || array_to_string(regexp_extract_all(w, '.', 0), ' ') || ' </w> ' AS repr,
         w, cnt
  FROM census
), a1 AS (
  SELECT regexp_replace(repr, ' ' || t1.a || ' ' || t1.b || ' ',
                        ' ' || t1.a || t1.b || ' ', 'g') AS repr, w, cnt
  FROM a0, t1
), a2 AS (
  SELECT regexp_replace(repr, ' ' || t2.a || ' ' || t2.b || ' ',
                        ' ' || t2.a || t2.b || ' ', 'g') AS repr, w, cnt
  FROM a1, t2
), a3 AS (
  SELECT regexp_replace(repr, ' ' || t3.a || ' ' || t3.b || ' ',
                        ' ' || t3.a || t3.b || ' ', 'g') AS repr, w, cnt
  FROM a2, t3
), toks AS (
  SELECT unnest(string_split(trim(repr), ' ')) AS token, w, cnt FROM a3
)
SELECT token, CAST(SUM(cnt) AS BIGINT) AS total,
       COUNT(DISTINCT w) AS n_words
FROM toks GROUP BY 1 ORDER BY total DESC, token LIMIT {_BPE_TOPK}
"""


def q223_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY census — the evaluation every tokenizer
    ships with (tokens-per-word and chars-per-token, the
    compression/fertility numbers sentencepiece and tokenizers
    report): q199's trained merges applied through the SHARED merge
    operator (exactly q210's application pass — training, application
    and now evaluation share one kernel), then the corpus-weighted
    distribution of words by token count plus the global fertility
    ratios in exact ppm.

    Report: one row per n_tok bucket — (n_tok, n_words = distinct
    census words, corpus_cnt = corpus-weighted occurrences, pct_ppm
    of corpus words) — with the two global ratios
    (tokens_per_word_ppm, chars_per_token_ppm) riding along, q221's
    n_docs convention.

    100 TB shape: q210's — ONE persisted word census feeds training
    and application; evaluation adds a census-sized projection and a
    ≤|buckets|-row report; the totals are a 1-row broadcast.
    """
    return bpe_fertility_report(
        spark, _bpe_word_census(spark, sf_dir)
    )


def bpe_fertility_report(spark: SparkSession, census: DataFrame) -> DataFrame:
    """q223's train→apply→evaluate tail over a (w, cnt) census. The
    census is persisted here; it feeds
    the training slice and the application pass. Like q210's builder
    materialization (and _aps_postings), the persist is
    plan-lifetime by design — it cannot be unpersisted inside the
    builder because the returned plan still reads it; the bench harness
    clearCache()s between reps (tests that compose plans do the
    same), and a long-lived session composing many reports should too
    (r9 ADVICE disclosure). It is census-sized (vocabulary-bounded),
    never corpus-sized."""
    census = census.persist()
    merges = _bpe_train(spark, "", census=census)
    r = _bpe_reprs(census, "w")
    for _, a, b, _n in merges:
        r = _bpe_apply_merge(r, a, b)
    wt = r.select(
        "w", "cnt",
        F.size(F.split(F.trim("repr"), " ")).cast("long").alias("n_tok"),
        F.length("w").cast("long").alias("n_chars"),
    )
    tot = wt.agg(
        F.sum("cnt").cast("long").alias("t_words"),
        F.sum(F.expr("cnt * n_tok")).cast("long").alias("t_toks"),
        F.sum(F.expr("cnt * n_chars")).cast("long").alias("t_chars"),
    )
    return (
        wt.groupBy("n_tok")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("cnt").cast("long").alias("corpus_cnt"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "n_tok", "n_words", "corpus_cnt",
            F.expr("corpus_cnt * 1000000 div t_words").alias("pct_ppm"),
            F.expr("t_toks * 1000000 div t_words")
            .alias("tokens_per_word_ppm"),
            F.expr("t_chars * 1000000 div t_toks")
            .alias("chars_per_token_ppm"),
        )
        .orderBy("n_tok")
    )


#: O210's training+application CTE chain, reused verbatim up to the
#: token explode — evaluation shares the oracle the same way the
#: Spark side shares the merge operator
_O210_PREFIX = O210.split("), toks AS (")[0]

O223 = f"""{_O210_PREFIX}), wt AS (
  SELECT w, cnt, CAST(len(string_split(trim(repr), ' ')) AS BIGINT) AS n_tok,
         CAST(length(w) AS BIGINT) AS n_chars
  FROM a3
), tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS t_words,
         CAST(SUM(cnt * n_tok) AS BIGINT) AS t_toks,
         CAST(SUM(cnt * n_chars) AS BIGINT) AS t_chars
  FROM wt
)
SELECT wt.n_tok, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(wt.cnt) AS BIGINT) AS corpus_cnt,
       CAST(SUM(wt.cnt) AS BIGINT) * 1000000 // MAX(tot.t_words) AS pct_ppm,
       MAX(tot.t_toks) * 1000000 // MAX(tot.t_words) AS tokens_per_word_ppm,
       MAX(tot.t_chars) * 1000000 // MAX(tot.t_toks) AS chars_per_token_ppm
FROM wt, tot
GROUP BY wt.n_tok
ORDER BY wt.n_tok
"""


_SEG_W, _SEG_S = 640, 320  # audio window/stride (ms) — overlap by design


def q195_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio OVERLAPPING-window segmentation through the real 1→N
    mapInPandas kernel (operators/multimodal.segment_audio) —
    completing the modality triple's distinct expansion contracts:
    image→resize (1→1), video→frames (disjoint 1→N, q98),
    audio→segments (OVERLAPPING 1→N: stride < window, so output
    bytes EXCEED input bytes — the ASR/diarization pre-processing
    shape whose batch amplification a pipeline must budget for).

    Media time maps to byte ranges via exact integer arithmetic
    b = (n·t) // dur, so the kernel's 1→N output is bit-deterministic
    (retry-safe) and the oracle recomputes every segment INCLUDING an
    md5 fold of each segment body. The oracle slices characters where
    the kernel slices bytes — equivalent ONLY on a single-byte corpus,
    so that invariant is ASSERTED IN-PLAN (octet_length == length on
    every doc feeding the kernel; a multibyte doc aborts loudly
    instead of silently hash-mismatching); the kernel itself is
    byte-correct for any input. The modality filter runs before the
    Python boundary (image/video rows never cross); the overlap
    property — per-asset sum(t1−t0) exceeds the asset's duration —
    is pinned in tests/test_multimodal.py.
    """
    from ..operators.multimodal import documents_as_assets, segment_audio

    d = t(spark, sf_dir, "documents").filter(
        F.coalesce(
            F.assert_true(
                F.octet_length("text") == F.length("text"),
                F.lit("q195: multibyte doc breaks the oracle's char==byte slicing"),
            ),
            F.lit(True),
        )
    )
    assets = documents_as_assets(_spread(spark, d))
    segs = segment_audio(assets, window_ms=_SEG_W, stride_ms=_SEG_S)
    shash = F.conv(F.substring(F.md5("segment"), 1, 8), 16, 10).cast("long")
    return segs.agg(
        F.count("*").alias("n_segments"),
        F.countDistinct("asset_id").alias("n_assets"),
        F.sum("seg_idx").alias("sum_idx"),
        F.sum(F.col("t1_ms") - F.col("t0_ms")).alias("sum_window_ms"),
        F.sum(F.length("segment")).alias("sum_bytes"),
        F.sum(shash).alias("qsum_shash"),
    )


O195 = f"""
WITH auds AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n,
         octet_length(encode(text)) * 10 AS dur
  FROM documents WHERE doc_id % 3 = 1
), segs AS (
  SELECT doc_id, k,
         CAST(k * {_SEG_S} AS BIGINT) AS t0,
         CAST(LEAST(k * {_SEG_S} + {_SEG_W}, dur) AS BIGINT) AS t1,
         substr(text,
                CAST((n * (k * {_SEG_S})) // dur AS BIGINT) + 1,
                CAST((n * LEAST(k * {_SEG_S} + {_SEG_W}, dur)) // dur
                     - (n * (k * {_SEG_S})) // dur AS BIGINT)) AS seg
  FROM auds,
       LATERAL unnest(generate_series(0, (dur + {_SEG_S} - 1) // {_SEG_S} - 1))
       AS u(k)
  WHERE dur > 0
)
SELECT COUNT(*) AS n_segments,
       COUNT(DISTINCT doc_id) AS n_assets,
       CAST(SUM(k) AS BIGINT) AS sum_idx,
       CAST(SUM(t1 - t0) AS BIGINT) AS sum_window_ms,
       CAST(SUM(octet_length(encode(seg))) AS BIGINT) AS sum_bytes,
       CAST(SUM(list_reduce(list_transform(generate_series(1, 8), i ->
            CAST(strpos('{_HEX}', substr(md5(seg), i, 1)) - 1 AS BIGINT)),
            (x, y) -> x * 16 + y)) AS BIGINT) AS qsum_shash
FROM segs
"""


def q99_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing at corpus scale: match + redact emails, phone
    numbers, and long digit runs with native ``regexp_extract_all`` /
    ``regexp_replace`` — pure JVM codegen, no Python boundary, which
    is the difference between a scrub pass that keeps up with a 100 TB
    scan and one that becomes the job.

    The synthetic corpus carries no PII, so the query first derives a
    deterministic PII-bearing variant of each row (an email for even
    doc_ids, a phone extension for all, an account-number run for
    doc_id % 5 == 0) and then proves the scrub kernel removes exactly
    what the patterns claim: per source, match counts per PII class
    and the exact character delta between raw and redacted text.

    The regex subset (character classes, bounded repeats, alternation
    — no backrefs, no lookarounds) is chosen to behave identically
    under Java regex (Spark) and RE2 (DuckDB), so the oracle re-runs
    the same patterns verbatim.
    """
    d = t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit(" user"), F.col("doc_id").cast("string"), F.lit("@mail.example")),
        ).otherwise(F.lit("")),
        F.lit(" ext 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(" acct "), F.lpad(F.col("doc_id").cast("string"), 12, "7")),
        ).otherwise(F.lit("")),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(aug, _PII_EMAIL, "<EMAIL>"), _PII_PHONE, "<PHONE>"
        ),
        _PII_DIGITS,
        "<NUM>",
    )
    n_matches = lambda pat: F.size(F.regexp_extract_all(aug, F.lit(pat), F.lit(0)))  # noqa: E731
    return (
        d.select(
            "source",
            n_matches(_PII_EMAIL).alias("_e"),
            n_matches(_PII_PHONE).alias("_p"),
            n_matches(_PII_DIGITS).alias("_n"),
            (F.length(aug) - F.length(redacted)).alias("_delta"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_e").alias("n_emails"),
            F.sum("_p").alias("n_phones"),
            F.sum("_n").alias("n_digit_runs"),
            F.sum("_delta").alias("chars_removed"),
        )
        .orderBy("source")
    )


_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_PHONE = "[0-9]{3}-[0-9]{4}"
_PII_DIGITS = "[0-9]{8,}"

O99 = f"""
WITH aug AS (
  SELECT source,
         text
         || CASE WHEN doc_id % 2 = 0
                 THEN ' user' || CAST(doc_id AS VARCHAR) || '@mail.example'
                 ELSE '' END
         || ' ext 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         || CASE WHEN doc_id % 5 = 0
                 THEN ' acct ' || lpad(CAST(doc_id AS VARCHAR), 12, '7')
                 ELSE '' END AS target
  FROM documents
), scrubbed AS (
  SELECT source, target,
         regexp_replace(regexp_replace(regexp_replace(target,
             '{_PII_EMAIL}', '<EMAIL>', 'g'),
             '{_PII_PHONE}', '<PHONE>', 'g'),
             '{_PII_DIGITS}', '<NUM>', 'g') AS redacted,
         len(regexp_extract_all(target, '{_PII_EMAIL}')) AS n_e,
         len(regexp_extract_all(target, '{_PII_PHONE}')) AS n_p,
         len(regexp_extract_all(target, '{_PII_DIGITS}')) AS n_n
  FROM aug
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_e) AS BIGINT) AS n_emails,
       CAST(SUM(n_p) AS BIGINT) AS n_phones,
       CAST(SUM(n_n) AS BIGINT) AS n_digit_runs,
       CAST(SUM(length(target) - length(redacted)) AS BIGINT) AS chars_removed
FROM scrubbed GROUP BY source ORDER BY source
"""


def q100_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training-data ordering: every
    epoch of LLM training needs the corpus in a pseudo-random order
    that is REPRODUCIBLE (resume-from-checkpoint must see the same
    sequence) and CLUSTER-INDEPENDENT (the order cannot depend on
    task scheduling). Both fall out of sorting on a seeded hash:
    shard = first md5 hex char of (doc_id, seed) -> 16 shards, and
    within-shard position = rank of the full md5 key.

    At 100 TB: one hash shuffle on the shard key, one within-partition
    sort — no global sort, no driver involvement; shards are written
    as independent files a data loader streams in shard order. The
    checksum ``sum(position * doc_id)`` pins the ENTIRE permutation:
    any engine disagreement on any position breaks it.
    """
    d = t(spark, sf_dir, "documents")
    ok = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":seed42")))
    keyed = d.select("doc_id", ok.alias("ok"), F.substring(ok, 1, 1).alias("shard"))
    w = Window.partitionBy("shard").orderBy("ok")
    return (
        keyed.withColumn("pos", F.row_number().over(w))
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.min_by("doc_id", "ok").alias("first_doc"),
            F.max_by("doc_id", "ok").alias("last_doc"),
            F.sum(F.col("pos") * F.col("doc_id")).alias("perm_checksum"),
        )
        .orderBy("shard")
    )


O100 = """
WITH keyed AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':seed42') AS ok
  FROM documents
), pos AS (
  SELECT doc_id, ok, substr(ok, 1, 1) AS shard,
         ROW_NUMBER() OVER (PARTITION BY substr(ok, 1, 1) ORDER BY ok) AS pos
  FROM keyed
)
SELECT shard, COUNT(*) AS n_docs,
       arg_min(doc_id, ok) AS first_doc,
       arg_max(doc_id, ok) AS last_doc,
       CAST(SUM(pos * doc_id) AS BIGINT) AS perm_checksum
FROM pos GROUP BY shard ORDER BY shard
"""


def q101_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multilingual temperature resampling (the mBERT/XLM-R recipe):
    sampling weight per language q_l = p_l^alpha / sum(p^alpha) with
    alpha = 0.7, where p_l is the language's corpus share — boosts
    low-resource languages without flattening the distribution.

    Plan: one partial-aggregated shuffle for per-lang counts (5 rows),
    then the alpha math rides a 1-row broadcast of the normalizer —
    nothing here grows with corpus size. The only floats are pow/
    division over exact integer ratios, rounded to 6 places on both
    engines.
    """
    d = t(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("n_docs"))
    tot = counts.agg(F.sum("n_docs").alias("n_total"))
    p = F.col("n_docs") / F.col("n_total")
    w = F.pow(p, F.lit(0.7))
    weighted = counts.crossJoin(F.broadcast(tot)).withColumn("_w", w)
    z = weighted.agg(F.sum("_w").alias("z"))
    q = F.col("_w") / F.col("z")
    return (
        weighted.crossJoin(F.broadcast(z))
        .select(
            "lang",
            "n_docs",
            F.round(p, 6).alias("p_share"),
            F.round(q, 6).alias("q_weight"),
            F.round(q / p, 4).alias("boost"),
        )
        .orderBy("lang")
    )


O101 = """
WITH counts AS (
  SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang
), tot AS (
  SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM counts
), weighted AS (
  SELECT lang, n_docs, CAST(n_docs AS DOUBLE) / n_total AS p,
         power(CAST(n_docs AS DOUBLE) / n_total, 0.7) AS w
  FROM counts CROSS JOIN tot
), z AS (
  SELECT SUM(w) AS z FROM weighted
)
SELECT lang, n_docs,
       round(p, 6) AS p_share,
       round(w / z, 6) AS q_weight,
       round((w / z) / p, 4) AS boost
FROM weighted CROSS JOIN z ORDER BY lang
"""


def q102_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level TF-IDF vocabulary ranking: top-25 terms by
    ``tf * ln((N+1)/(df+1))`` — the inverted-index statistics every
    retrieval/quality stage reuses (q87's BM25 is the per-query form;
    this is the corpus-wide build).

    Plan shape at 100 TB: explode -> ONE partial-aggregated shuffle on
    the term key producing both tf (count) and df (distinct docs via
    count(distinct doc_id), which Spark rewrites as a two-level agg on
    the same shuffle); doc total rides a 1-row broadcast; top-25 is
    TakeOrdered, no global sort. Score is floor-quantized to micro
    units: one ln over exact integer ratios, no accumulation drift.
    """
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(_toks()).alias("term"))
    stats = toks.groupBy("term").agg(
        F.count("*").alias("tf"), F.countDistinct("doc_id").alias("df")
    )
    n_docs = d.agg(F.count("*").alias("n_docs"))
    score = F.col("tf") * F.log((F.col("n_docs") + 1) / (F.col("df") + 1))
    return (
        stats.crossJoin(F.broadcast(n_docs))
        .select("term", "tf", "df", F.floor(score * 1e6).alias("tfidf_micro"))
        .orderBy(F.desc("tfidf_micro"), "term")
        .limit(25)
    )


O102 = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKS}) AS term FROM documents
), stats AS (
  SELECT term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
  FROM toks GROUP BY term
), tot AS (
  SELECT COUNT(*) AS n_docs FROM documents
)
SELECT term, tf, df,
       CAST(floor(tf * ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)) * 1e6) AS BIGINT) AS tfidf_micro
FROM stats CROSS JOIN tot
ORDER BY tfidf_micro DESC, term LIMIT 25
"""


def q104_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota capping: keep at most 15 documents per source,
    best-first (longest text wins, doc_id tie-break) — the curation
    step that stops one over-crawled domain from dominating the mix
    (the "domain cap" in public web-corpus recipes).

    Plan: one hash shuffle on source, within-partition top-15 via
    ``row_number``. Why a skewed mega-domain does NOT need a salted
    rewrite here (r5 measurement, scripts/scale_experiment.py --skew):
    because the rank filter is ``rn <= 15``, Spark's rank-limit
    pushdown inserts ``WindowGroupLimit Partial`` BEFORE the exchange
    — every map partition collapses to its local top-15 per source,
    so the shuffle carries ≤ 15 rows × map-partitions for the hot key
    regardless of domain size (measured flat at 100× Zipf data with a
    30% hot key, and FASTER than the salted two-stage variant, which
    pays an extra exchange for a rescue the engine already performs).
    The pushdown is pinned in test_plan_shapes.py; the salted
    two-stage pattern remains in scripts/scale_experiment.py for
    window shapes rank pushdown cannot rescue (running aggregates,
    percent_rank, ntile). ``n_total`` is a plain count — map-side
    partial aggregation makes that skew-immune too.
    """
    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    # the explicit rn<=15 FILTER (not a conditional agg over all
    # ranked rows) is what licenses the WindowGroupLimit rewrite —
    # an agg-over-all-rows form would shuffle the whole table
    kept = (
        d.select("source", "n_chars", "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 15)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("n_chars").alias("kept_chars"),
            F.min("n_chars").alias("cutoff_chars"),
        )
    )
    totals = d.groupBy("source").agg(F.count("*").alias("n_total"))
    # null-SAFE join key: groupBy/window treat NULL source as a group,
    # so a plain equi-join would silently drop it while the oracle's
    # single GROUP BY keeps it (r5 self-review; latent on this corpus)
    kept = kept.withColumnRenamed("source", "_ksource")
    return (
        totals.join(kept, F.col("source").eqNullSafe(F.col("_ksource")))
        .select("source", "n_total", "n_kept", "kept_chars", "cutoff_chars")
        .orderBy("source")
    )


O104 = """
WITH ranked AS (
  SELECT source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents
)
SELECT source, COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN rn <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN rn <= 15 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
       MIN(CASE WHEN rn <= 15 THEN n_chars END) AS cutoff_chars
FROM ranked GROUP BY source ORDER BY source
"""


def q120_ticket_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement for training-mix
    construction: longer documents get proportionally more lottery
    tickets (1 per 50 chars), each ticket draws a seeded md5, and the
    corpus-wide top-25 docs by best ticket form the sample. Length-
    (or quality-)weighted selection with NO transcendental math — the
    classic Efraimidis-Spirakis key ``u^(1/w)`` needs ln/pow, whose
    last-ulp results are not guaranteed identical across engines; a
    ticket lottery is pure integer + md5 arithmetic, bit-reproducible
    everywhere, and still samples (proportional to) tickets.

    Plan shape at 100 TB: tickets explode within-row (bounded:
    ceil(n_chars/50) per doc), the per-doc best ticket is a partial
    ``min`` that collapses BEFORE any movement, and the top-25 is
    TakeOrderedAndProject — no global sort, no shuffle of text.
    """
    d = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    tickets = F.sequence(F.lit(1), F.ceil(F.col("n_chars") / 50).cast("int"))
    ticket_hash = F.md5(
        F.concat(
            F.col("doc_id").cast("string"), F.lit(":t"), F.col("j").cast("string"),
            F.lit(":seed7"),
        )
    )
    return (
        d.select("doc_id", "n_chars", F.explode(tickets).alias("j"))
        .select("doc_id", "n_chars", ticket_hash.alias("th"))
        .groupBy("doc_id", "n_chars")
        .agg(F.min("th").alias("best_ticket"), F.count("*").alias("n_tickets"))
        .orderBy("best_ticket")
        .limit(25)
        .select("doc_id", "n_chars", "n_tickets", "best_ticket")
    )


O120 = """
WITH tickets AS (
  SELECT doc_id, n_chars,
         unnest(generate_series(1, CAST(ceil(n_chars / 50.0) AS INT))) AS j
  FROM documents
), hashed AS (
  SELECT doc_id, n_chars,
         md5(CAST(doc_id AS VARCHAR) || ':t' || CAST(j AS VARCHAR) || ':seed7') AS th
  FROM tickets
)
SELECT doc_id, n_chars, COUNT(*) AS n_tickets, MIN(th) AS best_ticket
FROM hashed GROUP BY doc_id, n_chars
ORDER BY best_ticket LIMIT 25
"""


def q125_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (paragraph-level) dedup — the FineWeb/DataComp step
    whole-doc dedup misses: a boilerplate paragraph repeated across
    thousands of pages survives doc-level hashing because each HOST
    document is unique. Segment every document into paragraphs
    (deterministic 10-word windows here — the synthetic corpus has no
    newlines; a real corpus splits on blank lines), hash each, keep
    only the FIRST occurrence corpus-wide (ordered by doc_id,
    para_idx), and report per-document retention.

    Plan shape at 100 TB: segmentation + hashing are within-row; the
    dedup is ONE shuffle on the uniform md5 key (the paragraph window)
    plus the doc-grain partial agg — text moves once, as paragraphs.
    """
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    paras = F.expr(
        "transform(sequence(0, int(ceil(size(split(text, ' ')) / 10.0)) - 1), "
        "j -> array_join(slice(split(text, ' '), j * 10 + 1, 10), ' '))"
    )
    exploded = d.select(
        "doc_id", F.posexplode(paras).alias("para_idx", "para")
    ).select(
        "doc_id",
        "para_idx",
        F.md5("para").alias("ph"),
        F.length("para").alias("n_chars"),
    )
    w = Window.partitionBy("ph").orderBy("doc_id", "para_idx")
    flagged = exploded.withColumn("rn", F.row_number().over(w))
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_paras"),
            F.count_if(F.col("rn") == 1).alias("n_kept"),
            F.sum(F.when(F.col("rn") == 1, F.col("n_chars")).otherwise(0)).alias(
                "kept_chars"
            ),
        )
        .orderBy("doc_id")
    )


O125 = """
WITH paras AS (
  SELECT doc_id, j AS para_idx,
         array_to_string(list_slice(string_split(text, ' '), j*10+1, j*10+10), ' ') AS para
  FROM documents,
       unnest(generate_series(0, CAST(ceil(len(string_split(text, ' ')) / 10.0) AS INT) - 1)) AS t(j)
), hashed AS (
  SELECT doc_id, para_idx, md5(para) AS ph, len(para) AS n_chars,
         ROW_NUMBER() OVER (PARTITION BY md5(para) ORDER BY doc_id, para_idx) AS rn
  FROM paras
)
SELECT doc_id, COUNT(*) AS n_paras,
       COUNT(CASE WHEN rn = 1 THEN 1 END) AS n_kept,
       CAST(SUM(CASE WHEN rn = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
FROM hashed GROUP BY doc_id ORDER BY doc_id
"""


def q127_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (the PPJoin
    family — Xiao et al., WWW 2008; prefix principle from Chaudhuri
    et al., ICDE 2006)
    — the scale path that, unlike LSH (q53/q81), has ZERO false
    negatives: if Jaccard(A,B) ≥ τ the two sets must share at least
    one element among each set's (|S| − ⌈τ|S|⌉ + 1) globally-rarest
    elements, so joining only on those prefix elements finds every
    qualifying pair.

    Elements are distinct 3-token shingles (the unigram vocabulary of
    the synthetic corpus is 31 tokens — degenerate for prefix
    filtering; shingles give a ~16k vocabulary with avg df 1.6, the
    realistic regime). τ = 0.8; prefix length uses pure integer
    arithmetic (⌈4n/5⌉ = (4n+4) div 5) so both engines cut
    identically.

    Plan shape at 100 TB: shuffle on shingle for global df, one
    window on doc_id for the rarity ranking, a keyed self-join on the
    PREFIX (≈ |S|/5 of the elements, and by construction the rarest —
    candidate count stays near-linear), then the exact q54 kernel on
    candidates only. Never all-pairs, never a cartesian.

    The candidate join applies ALL THREE of PPJoin's filters (prefix +
    length + positional), each exact for τ = 4/5 in pure integer
    arithmetic:

    - length: Jaccard ≥ τ forces τ·max(|A|,|B|) ≤ min(|A|,|B|), i.e.
      ``5·nb ≥ 4·na AND 5·na ≥ 4·nb``;
    - positional: Jaccard ≥ τ ⟺ overlap ≥ α = ⌈τ/(1+τ)·(na+nb)⌉ =
      ``(4·(na+nb)+8) div 9``. Both docs rank shingles in the SAME
      global (df, shingle) order, so every common element beyond a
      collision at prefix positions (rn_a, rn_b) sits strictly after
      both — overlap ≤ 1 + min(na−rn_a, nb−rn_b). A qualifying pair's
      FIRST common prefix element therefore passes the bound, so
      keeping pairs where ANY collision row passes loses nothing.

    The oracle is deliberately left as prefix-only: it reaches the
    same final answer through strictly more candidates, so a filter
    that wrongly dropped a qualifying pair would surface as a driver
    hash mismatch rather than hide behind a mirrored bug.
    """
    # Persisted: the shingle table feeds the df census AND both sides
    # of the candidate rescore — without the persist the tokenizer +
    # shingler (the dominant per-row cost) runs three times.
    d = (
        _with_shingle_sets(t(spark, sf_dir, "documents"))
        .select("doc_id", "sh")
    ).persist()
    # ntok is just the array size — carried from the row, NOT a second
    # count-window over the exploded shingle stream
    toks = d.select("doc_id", F.size("sh").alias("ntok"), F.explode("sh").alias("shingle"))
    df = toks.groupBy("shingle").agg(F.count("*").alias("df"))
    wdoc = Window.partitionBy("doc_id").orderBy("df", "shingle")
    ranked = toks.join(df, "shingle").withColumn("rn", F.row_number().over(wdoc))
    pref = ranked.filter(
        F.col("rn") <= F.col("ntok") - F.expr("(4 * ntok + 4) div 5") + 1
    ).select("doc_id", "shingle", "rn", "ntok")
    ca = pref.select(
        F.col("doc_id").alias("doc_a"), "shingle",
        F.col("rn").alias("rn_a"), F.col("ntok").alias("na"),
    )
    cb = pref.select(
        F.col("doc_id").alias("doc_b"), "shingle",
        F.col("rn").alias("rn_b"), F.col("ntok").alias("nb"),
    )
    cand = (
        ca.join(cb, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # length filter: τ·max ≤ min, exact for τ = 4/5
        .filter((5 * F.col("nb") >= 4 * F.col("na"))
                & (5 * F.col("na") >= 4 * F.col("nb")))
        # positional filter: overlap attainable from this collision
        # (1 + suffix mins) must reach α = ⌈4(na+nb)/9⌉
        .filter(
            1 + F.least(F.col("na") - F.col("rn_a"), F.col("nb") - F.col("rn_b"))
            >= F.expr("(4 * (na + nb) + 8) div 9")
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    da = d.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    db = d.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    inter = F.size(F.array_intersect("sha", "shb"))
    un = F.size("sha") + F.size("shb") - inter
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .filter(inter / un >= 0.8)
        .select(
            "doc_a",
            "doc_b",
            inter.cast("long").alias("inter"),
            un.cast("long").alias("un"),
            F.round(inter / un, 6).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


O127 = f"""
WITH docs AS (
  SELECT doc_id, list_distinct({_DUCK_SHINGLES}) AS sh FROM documents
), toks AS (
  SELECT doc_id, unnest(sh) AS shingle FROM docs
), df AS (
  SELECT shingle, COUNT(*) AS df FROM toks GROUP BY 1
), ranked AS (
  SELECT t.doc_id, t.shingle,
         ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY df.df, t.shingle) AS rn,
         COUNT(*) OVER (PARTITION BY t.doc_id) AS ntok
  FROM toks t JOIN df USING (shingle)
), pref AS (
  SELECT doc_id, shingle FROM ranked WHERE rn <= ntok - (4 * ntok + 4) // 5 + 1
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM pref a JOIN pref b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
), scored AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(da.sh, db.sh)) AS inter,
         len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh)) AS un
  FROM cand c
  JOIN docs da ON da.doc_id = c.doc_a
  JOIN docs db ON db.doc_id = c.doc_b
)
SELECT doc_a, doc_b, CAST(inter AS BIGINT) AS inter, CAST(un AS BIGINT) AS un,
       ROUND(CAST(inter AS DOUBLE) / un, 6) AS jaccard
FROM scored WHERE CAST(inter AS DOUBLE) / un >= 0.8
ORDER BY doc_a, doc_b
"""


def q128_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked sorted-neighborhood blocking (the classic entity-
    resolution alternative to LSH): sort records within a BLOCK
    (lang) by a cheap key (n_chars), compare each record only to its
    next w = 3 neighbors, rescore candidates with exact shingle
    Jaccard, report the top-20 most similar neighbor pairs.

    The neighbor's shingle set arrives via ``lead(sh, i)`` over the
    SAME window — the pair never joins, so rescoring is within-row.

    Plan shape at 100 TB: one exchange on the block key, one sort
    within blocks (sorted-neighborhood IS a sort-based method — the
    sort is the algorithm, not overhead), 3·n within-row comparisons,
    TakeOrdered top-20. A global un-blocked sort-neighborhood would
    need a range partition; blocking by lang keeps every partition
    independent.
    """
    d = (
        _with_shingle_sets(t(spark, sf_dir, "documents"))
        .select("doc_id", "lang", "n_chars", "sh")
    )
    neigh = _snm_neighbors(d)  # shared scaffolding (also q206's)
    inter = F.size(F.array_intersect("sha", "shb"))
    un = F.size("sha") + F.size("shb") - inter
    return (
        neigh.select(
            "doc_a",
            "doc_b",
            F.col("w_dist").cast("long").alias("w_dist"),
            inter.cast("long").alias("inter"),
            un.cast("long").alias("un"),
            F.round(inter / un, 6).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "doc_a", "doc_b")
        .limit(20)
    )


O128 = f"""
WITH docs AS (
  SELECT doc_id, lang, n_chars, list_distinct({_DUCK_SHINGLES}) AS sh
  FROM documents
), neigh AS ({_o_snm_neighbors()})
SELECT doc_a, doc_b, CAST(i AS BIGINT) AS w_dist,
       CAST(len(list_intersect(sa, sb)) AS BIGINT) AS inter,
       CAST(len(sa) + len(sb) - len(list_intersect(sa, sb)) AS BIGINT) AS un,
       ROUND(CAST(len(list_intersect(sa, sb)) AS DOUBLE)
             / (len(sa) + len(sb) - len(list_intersect(sa, sb))), 6) AS jaccard
FROM neigh WHERE doc_b IS NOT NULL
ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20
"""


def q137_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality evaluation (Davies-Bouldin style) for the
    labeled embedding corpus: per-cluster scatter (RMS distance to
    the centroid) and the DB index (worst-case
    ``(scatter_i + scatter_j) / centroid_distance_ij``) — the metric
    that grades a k-means/IVF layout without a second data pass.

    One pass + label-sized algebra: the ONLY data-sized stage is the
    per-(label, dim) integer census (quantized component sums, sum of
    squares, counts). Scatter then falls out of the identity
    ``E||x−c||² = E||x||² − ||c||²`` — no join of vectors back to
    centroids, no second scan. Centroid separations join the CENSUS
    with itself on the dimension key (labels² · dims rows — nothing
    at any corpus scale). Exact integer arithmetic (decimal sums)
    until one final double sqrt per label/pair, so both engines round
    the same integers to the same doubles.
    """
    e = t(spark, sf_dir, "embeddings")
    xq = F.floor(F.col("x").cast("double") * 1000000).cast("long")
    per = (
        e.select("label", F.posexplode("embedding").alias("pos", "x"))
        .select("label", "pos", xq.alias("xq"))
    )
    # Persisted: the census feeds the label rollup AND both sides of
    # the separation self-join — without it the data-sized explode +
    # partial agg recomputes per consumer (7 posexplodes in the plan).
    # xq² is ~1e12 per element: accumulate in decimal(38,0) so the
    # per-(label,pos) and per-label sums cannot overflow long at any
    # corpus scale (oracle mirrors with HUGEINT)
    g = per.groupBy("label", "pos").agg(
        F.sum("xq").alias("S"),
        F.sum((F.col("xq") * F.col("xq")).cast("decimal(38,0)")).alias("Qd"),
        F.count("*").alias("n"),
    ).persist()
    lab = g.groupBy("label").agg(
        F.max("n").alias("n"),
        F.sum("Qd").alias("Q"),
        F.sum(F.col("S").cast("decimal(38,0)") * F.col("S")).alias("SS"),
    )
    num = (F.col("Q") * F.col("n") - F.col("SS")).cast("double")
    scatter = F.sqrt(num / (F.col("n").cast("double") * F.col("n") * F.lit(1e12)))
    sc = lab.select("label", "n", scatter.alias("s"))

    gi = g.select(
        F.col("label").alias("li"), "pos",
        F.col("S").alias("Si"), F.col("n").alias("ni"),
    )
    gj = g.select(
        F.col("label").alias("lj"), F.col("pos").alias("posj"),
        F.col("S").alias("Sj"), F.col("n").alias("nj"),
    )
    term = (F.col("Si") * F.col("nj") - F.col("Sj") * F.col("ni")).cast("decimal(38,0)")
    pr = (
        gi.join(gj, (F.col("pos") == F.col("posj")) & (F.col("li") < F.col("lj")))
        .groupBy("li", "lj")
        .agg(
            F.max("ni").alias("ni"), F.max("nj").alias("nj"),
            F.sum(term * term).alias("num"),
        )
    )
    d = F.sqrt(
        F.col("num").cast("double")
        / (F.col("ni").cast("double") * F.col("ni") * F.col("nj") * F.col("nj") * F.lit(1e12))
    )
    pairs = pr.select("li", "lj", d.alias("d"))
    sym = pairs.union(pairs.select(F.col("lj").alias("li"), F.col("li").alias("lj"), "d"))
    s1 = sc.select(F.col("label").alias("li"), F.col("s").alias("si"))
    s2 = sc.select(F.col("label").alias("lj"), F.col("s").alias("sj"))
    db = (
        sym.join(s1, "li").join(s2, "lj")
        .groupBy(F.col("li").alias("label"))
        .agg(F.max((F.col("si") + F.col("sj")) / F.col("d")).alias("db"))
    )
    return (
        sc.join(db, "label")
        .select(
            "label", "n",
            F.round("s", 6).alias("scatter"),
            F.round("db", 6).alias("db_index"),
        )
        .orderBy("label")
    )


O137 = """
WITH per AS (
  SELECT label, i - 1 AS pos,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS xq
  FROM embeddings CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) s
), g AS (
  SELECT label, pos, SUM(xq) AS S, SUM(CAST(xq * xq AS HUGEINT)) AS Qd, COUNT(*) AS n
  FROM per GROUP BY 1, 2
), lab AS (
  SELECT label, MAX(n) AS n, SUM(Qd) AS Q, SUM(S * S) AS SS FROM g GROUP BY 1
), sc AS (
  SELECT label, n,
         sqrt(CAST(Q * n - SS AS DOUBLE) / (CAST(n AS DOUBLE) * n * 1e12)) AS s
  FROM lab
), pr AS (
  SELECT a.label AS li, b.label AS lj, MAX(a.n) AS ni, MAX(b.n) AS nj,
         SUM(CAST(a.S * b.n - b.S * a.n AS HUGEINT)
             * CAST(a.S * b.n - b.S * a.n AS HUGEINT)) AS num
  FROM g a JOIN g b ON a.pos = b.pos AND a.label < b.label
  GROUP BY 1, 2
), pairs AS (
  SELECT li, lj,
         sqrt(CAST(num AS DOUBLE)
              / (CAST(ni AS DOUBLE) * ni * nj * nj * 1e12)) AS d
  FROM pr
), sym AS (
  SELECT li, lj, d FROM pairs
  UNION ALL SELECT lj AS li, li AS lj, d FROM pairs
), db AS (
  SELECT sym.li AS label, MAX((s1.s + s2.s) / sym.d) AS db
  FROM sym JOIN sc s1 ON sym.li = s1.label JOIN sc s2 ON sym.lj = s2.label
  GROUP BY 1
)
SELECT sc.label, sc.n, ROUND(sc.s, 6) AS scatter, ROUND(db.db, 6) AS db_index
FROM sc JOIN db USING (label) ORDER BY label
"""


def q155_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps-law points): distinct terms seen
    after the first N documents, for a grid of N — the
    tokenizer-vocabulary sizing curve every BPE training run starts
    from.

    The naive form runs one COUNT(DISTINCT) per prefix (re-scanning
    the corpus per grid point). The scale form needs ONE pass: each
    term's FIRST-SEEN doc id is a mergeable ``min`` aggregate off a
    single explode; the growth curve is then a threshold census over
    the vocabulary-sized first-seen table — count of terms with
    ``first_seen < N`` per grid point, via a within-row grid explode
    on the (tiny) vocabulary table. Corpus scans once regardless of
    grid size.
    """
    # unigrams saturate instantly on the synthetic 31-token vocabulary;
    # 3-token shingles (~16k types) give the real growth regime
    d = (
        _with_shingle_sets(t(spark, sf_dir, "documents"))
    )
    first_seen = (
        d.select("doc_id", F.explode("sh").alias("term"))
        .groupBy("term")
        .agg(F.min("doc_id").alias("first_seen"))
    )
    grid = [100, 200, 300, 400, 500]
    counted = first_seen.select(
        F.explode(
            F.array(*[F.lit(n) for n in grid])
        ).alias("n_docs"),
        "first_seen",
    ).filter(F.col("first_seen") < F.col("n_docs"))
    return (
        counted.groupBy("n_docs")
        .agg(F.count("*").alias("vocab_size"))
        .orderBy("n_docs")
    )


O155 = f"""
WITH fs AS (
  SELECT term, MIN(doc_id) AS first_seen
  FROM (SELECT doc_id, unnest(list_distinct({_DUCK_SHINGLES})) AS term
        FROM documents)
  GROUP BY 1
)
SELECT g.n_docs, COUNT(*) AS vocab_size
FROM fs CROSS JOIN (SELECT unnest([100, 200, 300, 400, 500]) AS n_docs) g
WHERE fs.first_seen < g.n_docs
GROUP BY 1 ORDER BY 1
"""


def q136_trigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram language-model conditionals ``P(w3 | w1 w2)`` — the
    n-gram census + conditional-probability kernel behind classic LM
    pretraining-data statistics (perplexity filters, contamination
    scoring, KenLM-style model builds).

    Scale shape: trigrams are extracted WITHIN-ROW from the token
    array and explode once; the trigram census is one partial-agged
    shuffle on the trigram key (corpus-sized input, vocabulary^3-
    bounded output). The bigram denominator then comes from a window
    over the CENSUS — sum of c3 grouped by (w1, w2) — so the second
    exchange moves census rows, never corpus rows. One float
    division at the end; everything else integer.
    """
    d = (
        t(spark, sf_dir, "documents")
        .withColumn("_toks", _toks())
        .filter(F.size("_toks") >= 3)
    )
    tri = d.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(_toks) - 3), "
                "i -> struct(_toks[i] AS w1, _toks[i+1] AS w2, _toks[i+2] AS w3))"
            )
        ).alias("g")
    ).select("g.*")
    c3 = tri.groupBy("w1", "w2", "w3").agg(F.count("*").alias("c3"))
    w = Window.partitionBy("w1", "w2")
    return (
        c3.withColumn("c2", F.sum("c3").over(w))
        .withColumn("p", F.round(F.col("c3") / F.col("c2"), 6))
        .orderBy(F.desc("c3"), "w1", "w2", "w3")
        .limit(25)
    )


O136 = f"""
WITH toks AS (
  SELECT {TOKS} AS tk FROM documents WHERE len({TOKS}) >= 3
), tri AS (
  SELECT tk[g.i] AS w1, tk[g.i + 1] AS w2, tk[g.i + 2] AS w3
  FROM toks, LATERAL unnest(generate_series(1, len(tk) - 2)) AS g(i)
), c AS (
  SELECT w1, w2, w3, COUNT(*) AS c3 FROM tri GROUP BY 1, 2, 3
)
SELECT w1, w2, w3, c3,
       CAST(SUM(c3) OVER (PARTITION BY w1, w2) AS BIGINT) AS c2,
       ROUND(CAST(c3 AS DOUBLE) / SUM(c3) OVER (PARTITION BY w1, w2), 6) AS p
FROM c ORDER BY c3 DESC, w1, w2, w3 LIMIT 25
"""


def q175_token_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters: tokens exceeding 0.5% support — the
    stopword/boilerplate census every tokenizer-training and
    quality-filter pass starts from.

    This is the EXACT form: one token explode + partial-agged count
    shuffle, with the global total as a 1-row broadcast threshold —
    correct whenever distinct-token cardinality fits a shuffle. The
    100 TB twin for adversarial cardinality (URLs, user agents, raw
    n-grams) is ``operators/sketch.py heavy_hitters_sketch``: per-
    partition Misra-Gries summaries merged via the PODS'12 mergeable-
    summaries recipe — shuffle bounded at partitions × k rows with a
    proven no-false-negative guarantee at support > n/(k+1)
    (tests/test_sketch.py pins sketch ⊇ exact at the guarantee
    threshold on this same corpus).
    """
    tok = (
        t(spark, sf_dir, "documents")
        .withColumn("_toks", _toks())
        .select(F.explode("_toks").alias("term"))
    )
    # persisted: the census feeds BOTH the global total and the
    # threshold probe — without it the corpus explode runs twice
    counts = tok.groupBy("term").agg(F.count("*").alias("n_occ")).persist()
    total = counts.agg(
        (F.sum("n_occ") * F.lit(0.005)).alias("_th")
    )
    return (
        counts.join(F.broadcast(total), F.col("n_occ") > F.col("_th"))
        .select("term", "n_occ")
        .orderBy(F.desc("n_occ"), "term")
    )


O175 = """
WITH tok AS (
  SELECT unnest(string_split_regex(text, '\\s+')) AS term FROM documents
), tot AS (SELECT COUNT(*) AS n FROM tok)
SELECT term, COUNT(*) AS n_occ
FROM tok GROUP BY 1
HAVING COUNT(*) > (SELECT n * 0.005 FROM tot)
ORDER BY n_occ DESC, term
"""


#: term -> integer weight for the lexicon-scoring shape (q180). The
#: weights are demonstration values over this corpus's vocabulary;
#: the SHAPE — broadcast lexicon, postings-only explode, exact
#: integer per-doc sum — is what a real AFINN/VADER-style lexicon
#: classifier runs at scale (Spark sentiment pipelines, EDBT'16).
_LEXICON = {"fast": 2, "merge": 1, "big": 1, "slow": -2, "small": -1, "dup": -2}


def q180_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-scored document classification — the broadcast-lexicon
    join shape of lexicon sentiment/quality classifiers (EDBT'16
    Spark sentiment pipeline, AFINN-style): per-document score =
    Σ weight(term) × tf(term), label by sign, report = per-label
    census with exact integer score stats.

    100 TB shape: the isin(lexicon) filter runs INSIDE the token
    array before the explode (q87's postings discipline — the shuffle
    carries lexicon hits, not the corpus), the lexicon itself is a
    broadcast dim, docs with zero hits re-enter as score 0 via a
    left join from the doc-id spine, and all arithmetic is integer
    until the final report.
    """
    lex = spark.createDataFrame(
        sorted(_LEXICON.items()), "term string, weight int"
    )
    d = t(spark, sf_dir, "documents").withColumn("_toks", _toks())
    hits = (
        d.select(
            "doc_id",
            F.explode(
                F.filter("_toks", lambda x: x.isin(*_LEXICON))
            ).alias("term"),
        )
        .join(F.broadcast(lex), "term")
        .groupBy("doc_id")
        .agg(F.sum("weight").alias("score"))
    )
    scored = (
        d.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id", F.coalesce("score", F.lit(0)).cast("long").alias("score")
        )
        .withColumn(
            "label",
            F.when(F.col("score") > 0, "positive")
            .when(F.col("score") < 0, "negative")
            .otherwise("neutral"),
        )
    )
    return (
        scored.groupBy("label")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("score").alias("sum_score"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
        )
        .orderBy("label")
    )


# oracle fragments generated from _LEXICON so plan and oracle cannot
# drift apart on an edit (r5 self-review)
_LEX_VALUES = ", ".join(f"('{t_}', {w})" for t_, w in sorted(_LEXICON.items()))
_LEX_IN = ", ".join(f"'{t_}'" for t_ in sorted(_LEXICON))

O180 = f"""
WITH lex AS (
  SELECT * FROM (VALUES {_LEX_VALUES})
  AS v(term, weight)
), hits AS (
  SELECT doc_id, SUM(weight) AS score
  FROM (SELECT doc_id,
               unnest(list_filter({TOKS},
                      x -> x IN ({_LEX_IN}))) AS term
        FROM documents) tk
  JOIN lex USING (term)
  GROUP BY doc_id
), scored AS (
  SELECT d.doc_id, CAST(COALESCE(h.score, 0) AS BIGINT) AS score,
         CASE WHEN COALESCE(h.score, 0) > 0 THEN 'positive'
              WHEN COALESCE(h.score, 0) < 0 THEN 'negative'
              ELSE 'neutral' END AS label
  FROM documents d LEFT JOIN hits h USING (doc_id)
)
SELECT label, COUNT(*) AS n_docs, CAST(SUM(score) AS BIGINT) AS sum_score,
       CAST(MIN(score) AS BIGINT) AS min_score,
       CAST(MAX(score) AS BIGINT) AS max_score
FROM scored GROUP BY label ORDER BY label
"""


#: (query_id, terms) for the lexical arm of hybrid retrieval —
#: paired with embedding vec_id = query_id for the semantic arm.
_RRF_QUERIES = {0: ("spark", "window"), 1: ("hash", "join"), 2: ("shuffle", "row")}
_RRF_K = 60  # the standard RRF damping constant (Cormack et al., SIGIR'09)


def q179_hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 keyword arm (q87's kernel) + exact
    cosine arm (q58's kernel) fused with Reciprocal Rank Fusion —
    the standard recipe for combining lexical and semantic search
    (RRF: score = Σ 1/(k + rank), Cormack/Clarke/Büttcher SIGIR'09;
    the default hybrid mode of open-source search engines).

    Per query q ∈ {0,1,2}: the lexical arm ranks documents by BM25
    over q's fixed 2-term query; the semantic arm ranks by cosine
    against embedding vec_id = q (doc_id and vec_id are aligned
    1:1 in this corpus). Each arm keeps its top-20; a FULL OUTER join
    on (query_id, doc_id) fuses them with integer micro-unit
    contributions ``div(1e6, k + rank)`` (floor-div in BOTH engines —
    no float accumulation), absent-arm docs contributing only their
    present arm. Top-10 fused per query.

    100 TB shape: the lexical arm shuffles only query-term postings
    (the isin filter runs inside the token array before the explode);
    the semantic arm broadcasts the 3-query side over one corpus scan
    (q58's plan; swap in the IVF probe of operators/ann.py when the
    corpus outgrows brute force); the fusion joins two ≤ 20-row-per-
    query tables — report-sized.

    r12: ``tf`` is PERSISTED (plan-lifetime, the q217 discipline). It
    feeds both the df census and the scoring join, so the one action
    used to run the corpus tokenize+filter+explode twice (plus scal's
    own length-only pass — three corpus tokenizes total). The cached
    frame is the query-term POSTINGS list — rows only for docs
    containing one of the ≤6 query terms, orders below the corpus at
    any scale (exactly the postings a search engine materializes as
    its index); with it the corpus pays one tokenize+explode pass
    plus scal's narrow size() pass. Composing callers running many
    plans should ``spark.catalog.clearCache()`` when done (the bench
    does between reps) — the persist is plan-lifetime and cannot be
    unpersisted here because the returned plan still reads it.

    r13 re-adjudication (VERDICT r12 #4): 6 paired stash-in/out
    cycles at 32 cores (persist median 2.80 s vs 2.33 s without) and
    3 at 8 cores (2.83 vs 2.94) — FLAT, no reproducible local
    difference in either direction; r12's claimed 5/6-cycle win was
    contention. The persist is kept on the SCALE argument alone: the
    duplicated subtree is a full corpus tokenize pass (the
    q97/q188/q217 corpus-heavy class, where one throughput-bound
    scan replaces two), not for local speed.
    """
    d = t(spark, sf_dir, "documents").withColumn("_toks", _toks())
    all_terms = sorted({t_ for ts in _RRF_QUERIES.values() for t_ in ts})
    qterms = spark.createDataFrame(
        [(q, t_) for q, ts in _RRF_QUERIES.items() for t_ in ts],
        "query_id int, term string",
    )
    stats = d.select("doc_id", F.size("_toks").cast("long").alias("dl"), "_toks")
    scal = stats.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    tf = (
        stats.select(
            "doc_id",
            "dl",
            F.explode(F.filter("_toks", lambda x: x.isin(*all_terms))).alias("term"),
        )
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tfreq"))
        .persist()
    )
    df_t = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    tf_norm = (F.col("tfreq") * (_BM25_K1 + 1)) / (
        F.col("tfreq")
        + _BM25_K1 * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    )
    lex_scores = (
        tf.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(scal))
        .withColumn("contrib", F.floor(idf * tf_norm * 1e6))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("score_micro"))
    )
    w_lex = Window.partitionBy("query_id").orderBy(
        F.desc("score_micro"), "doc_id"
    )
    lex = (
        lex_scores.withColumn("r_lex", F.row_number().over(w_lex))
        .filter(F.col("r_lex") <= 20)
        .select("query_id", "doc_id", "r_lex")
    )
    e = t(spark, sf_dir, "embeddings")
    qv = e.filter(F.col("vec_id").isin(*_RRF_QUERIES)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    cos = _dot(F.col("embedding"), F.col("qv")) / (
        F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
        * F.sqrt(_dot(F.col("qv"), F.col("qv")))
    )
    scored = (
        e.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            F.round(cos, 4).alias("cosine"),
        )
    )
    w_sem = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "doc_id")
    sem = (
        scored.withColumn("r_sem", F.row_number().over(w_sem))
        .filter(F.col("r_sem") <= 20)
        .select("query_id", "doc_id", "r_sem")
    )
    fused = (
        lex.join(sem, ["query_id", "doc_id"], "full_outer")
        .withColumn(
            "rrf_micro",
            F.coalesce(F.expr(f"div(1000000, {_RRF_K} + r_lex)"), F.lit(0))
            + F.coalesce(F.expr(f"div(1000000, {_RRF_K} + r_sem)"), F.lit(0)),
        )
    )
    w_f = Window.partitionBy("query_id").orderBy(F.desc("rrf_micro"), "doc_id")
    return (
        fused.withColumn("rn", F.row_number().over(w_f))
        .filter(F.col("rn") <= 10)
        .select("query_id", "rn", "doc_id", "rrf_micro", "r_lex", "r_sem")
        .orderBy("query_id", "rn")
    )


# oracle fragments generated from _RRF_QUERIES — one source for the
# Spark query-term table and the SQL VALUES/IN lists
_RRF_QT_VALUES = ", ".join(
    f"({q}, '{t_}')" for q, ts in sorted(_RRF_QUERIES.items()) for t_ in ts
)
_RRF_TERMS_IN = ", ".join(
    f"'{t_}'" for t_ in sorted({t_ for ts in _RRF_QUERIES.values() for t_ in ts})
)

O179 = f"""
WITH qt AS (
  SELECT * FROM (VALUES {_RRF_QT_VALUES})
  AS v(query_id, term)
), stats AS (
  SELECT doc_id, CAST(len({{TOKS}}) AS BIGINT) AS dl, {{TOKS}} AS tk FROM documents
), scal AS (
  SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM stats
), tf AS (
  SELECT doc_id, dl, term, COUNT(*) AS tfreq
  FROM (SELECT doc_id, dl,
               unnest(list_filter(tk, x -> x IN ({_RRF_TERMS_IN}))) AS term
        FROM stats)
  GROUP BY doc_id, dl, term
), dft AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term
), lex_scores AS (
  SELECT qt.query_id, tf.doc_id, SUM(contrib) AS score_micro
  FROM (
    SELECT tf.doc_id, tf.term,
           CAST(floor(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                * (tf.tfreq * 2.2)
                / (tf.tfreq + 1.2 * (1 - 0.75 + 0.75 * tf.dl / s.avgdl))
                * 1e6) AS BIGINT) AS contrib
    FROM tf JOIN dft d USING (term) CROSS JOIN scal s
  ) tf JOIN qt USING (term)
  GROUP BY 1, 2
), lex AS (
  SELECT query_id, doc_id, r_lex FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY score_micro DESC, doc_id) AS r_lex
    FROM lex_scores
  ) WHERE r_lex <= 20
), qv AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id IN (0, 1, 2)
), sem_scored AS (
  SELECT q.query_id, e.vec_id AS doc_id,
         ROUND({{DDOT_EQ}} /
               (sqrt({{DDOT_EE}}) * sqrt({{DDOT_QQ}})), 4) AS cosine
  FROM embeddings e CROSS JOIN qv q WHERE e.vec_id <> q.query_id
), sem AS (
  SELECT query_id, doc_id, r_sem FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, doc_id) AS r_sem
    FROM sem_scored
  ) WHERE r_sem <= 20
), fused AS (
  SELECT COALESCE(lex.query_id, sem.query_id) AS query_id,
         COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
         r_lex, r_sem,
         COALESCE(1000000 // ({_RRF_K} + r_lex), 0)
         + COALESCE(1000000 // ({_RRF_K} + r_sem), 0) AS rrf_micro
  FROM lex FULL OUTER JOIN sem USING (query_id, doc_id)
)
SELECT query_id, rn, doc_id, rrf_micro, r_lex, r_sem FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY rrf_micro DESC, doc_id) AS rn
  FROM fused
) WHERE rn <= 10 ORDER BY query_id, rn
"""

O179 = O179.format(
    TOKS=TOKS,
    DDOT_EQ=_DDOT.format(a="e.embedding", b="q.qv"),
    DDOT_EE=_DDOT.format(a="e.embedding", b="e.embedding"),
    DDOT_QQ=_DDOT.format(a="q.qv", b="q.qv"),
)


def q177_heavy_hitters_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries sketch path of the token heavy-hitter census,
    SELF-VERIFYING against the exact census in-plan (rows-only
    registry entry — round-4 verdict task #4: the driver sweep now
    exercises ``operators/sketch.py`` end-to-end, not just pytest).

    The sketch's estimates are partitioning-dependent (any MG summary
    is), so a value-hash oracle is impossible BY CONSTRUCTION — the
    declared rows-only contract. What IS deterministic is the
    guarantee: every token with true count > n/(k+1) must appear in
    the sketch with ``true - n/(k+1) <= est <= true``. The plan
    returns one row per GUARANTEED heavy hitter (exact count above
    threshold — a deterministic set; 30 rows on this corpus) with its
    sketch estimate and a ``verified`` flag, UNIONed with any bound
    violations from the rest of the sketch (empty when correct) — so
    a sketch regression changes the row count / flips flags, and the
    driver's rows-only row catches it.

    100 TB shape: the sketch pass shuffles partitions × k candidate
    rows regardless of token cardinality (the exact census q175 is
    the small-cardinality twin); the verification census here is the
    TEST harness, not the production path.
    """
    from ..operators.sketch import heavy_hitters_sketch

    k = 64
    tok = (
        t(spark, sf_dir, "documents")
        .withColumn("_toks", _toks())
        .select(F.explode("_toks").alias("term"))
    )
    # persisted: the token stream feeds the sketch pass AND the
    # verification census — one explode, two consumers
    tok = tok.persist()
    # the sketch runs on the scan's NATURAL partitioning — no
    # data-sized exchange (that's the whole point; the guarantee holds
    # for any partitioning, only the estimates shift within bounds)
    sketch = heavy_hitters_sketch(tok, "term", k)
    exact = tok.groupBy("term").agg(F.count("*").alias("exact_n"))
    thresh = exact.agg((F.sum("exact_n") / F.lit(k + 1)).alias("_th"))
    heavy = exact.join(F.broadcast(thresh), F.col("exact_n") > F.col("_th"))
    guaranteed = (
        heavy.join(sketch.withColumnRenamed("key", "term"), "term", "left")
        .select(
            "term",
            "exact_n",
            "est",
            (
                F.col("est").isNotNull()
                & (F.col("est") <= F.col("exact_n"))
                & (F.col("est") >= F.col("exact_n") - F.col("_th"))
            ).alias("verified"),
        )
    )
    # bound violations OUTSIDE the guaranteed set (overcounts or
    # under-counts past n/(k+1)) — empty when the sketch is correct.
    # The anti-join excludes guaranteed terms so a violating heavy
    # hitter surfaces exactly ONCE (as verified=false in the
    # guaranteed arm), never as a duplicate row here
    violations = (
        sketch.withColumnRenamed("key", "term")
        .join(heavy.select("term"), "term", "left_anti")
        .join(exact, "term", "left")
        .crossJoin(F.broadcast(thresh))
        .filter(
            F.col("exact_n").isNull()
            | (F.col("est") > F.col("exact_n"))
            | (F.col("est") < F.col("exact_n") - F.col("_th"))
        )
        .select("term", "exact_n", "est", F.lit(False).alias("verified"))
    )
    out = guaranteed.unionByName(violations)
    # a violation must fail LOUDLY: the rows-only driver gate records
    # only the row count, and a flipped `verified` flag leaves the
    # count unchanged (r5 second-pass review) — so the plan asserts
    # zero violations in-flight. assert_true returns NULL on success;
    # the coalesce keeps it alive through the filter so the optimizer
    # cannot prune the unreferenced check away.
    n_bad = out.filter(~F.col("verified")).agg(
        F.count("*").alias("_nbad")
    )
    return (
        out.crossJoin(F.broadcast(n_bad))
        .filter(
            F.coalesce(
                F.assert_true(
                    F.col("_nbad") == 0,
                    F.lit("q177: MG sketch guarantee violated"),
                ),
                F.lit(True),
            )
        )
        .drop("_nbad")
        .orderBy(F.desc("exact_n"), "term")
    )



def q182_lm_likelihood_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM-likelihood quality filter (Wenzek et al.,
    LREC 2020 recipe): fit a trigram LM on a REFERENCE slice of the
    corpus (here docs with ``doc_id % 10 == 0`` — the held-out
    "wikipedia" role), score every other document by its average
    conditional trigram likelihood, and surface the 20 LEAST-likely
    documents — the filter-out candidates a curation pipeline drops
    or down-samples.

    All arithmetic is integer until the report: conditionals are
    floor-quantized to parts-per-million (``(1e6 * c3) div c2`` —
    ``div`` for DuckDB ``//`` parity), per-doc scores are integer
    sums and floor averages, unseen trigrams contribute 0 (the
    hit-rate column keeps smoothing visible instead of hiding it in
    a fudge constant). Ties break on doc_id. q213 is the SMOOTHED
    production form of this filter — same skeleton, with the unseen
    mass redistributed by interpolated absolute discounting instead
    of reported as a hit rate.

    Plan shape at 100 TB: trigram extraction is within-row (q136's
    kernel); the LM census is one partial-agged shuffle bounded by
    vocab³; scoring joins the corpus trigram stream to the census on
    the trigram key (both sides explode once); the report is one
    doc-grain agg + TakeOrdered(20). Nothing quadratic, no Python.
    """
    d = (
        t(spark, sf_dir, "documents")
        .withColumn("_toks", _toks())
        .filter(F.size("_toks") >= 3)
    )

    def tri(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(_toks) - 3), i -> "
                    "struct(_toks[i] AS w1, _toks[i+1] AS w2, _toks[i+2] AS w3))"
                )
            ).alias("g"),
        ).select("doc_id", "g.*")

    lm = (
        tri(d.filter(F.col("doc_id") % 10 == 0))
        .groupBy("w1", "w2", "w3")
        .agg(F.count("*").alias("c3"))
        .withColumn("c2", F.sum("c3").over(Window.partitionBy("w1", "w2")))
        .select("w1", "w2", "w3", F.expr("(1000000 * c3) div c2").alias("q"))
    )
    scored = tri(d.filter(F.col("doc_id") % 10 != 0)).join(
        lm, ["w1", "w2", "w3"], "left"
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tri"),
            F.count("q").alias("n_hits"),
            F.sum(F.coalesce("q", F.lit(0))).cast("long").alias("sum_q"),
        )
        .withColumn("avg_q", F.expr("sum_q div n_tri"))
        .orderBy("avg_q", "doc_id")
        .limit(20)
    )


O182 = f"""
WITH toks AS (
  SELECT doc_id, {TOKS} AS tk FROM documents WHERE len({TOKS}) >= 3
), tri AS (
  SELECT doc_id, tk[g.i] AS w1, tk[g.i + 1] AS w2, tk[g.i + 2] AS w3
  FROM toks, LATERAL unnest(generate_series(1, len(tk) - 2)) AS g(i)
), lm0 AS (
  SELECT w1, w2, w3, COUNT(*) AS c3 FROM tri WHERE doc_id % 10 = 0
  GROUP BY 1, 2, 3
), lm AS (
  SELECT w1, w2, w3,
         (1000000 * c3) // SUM(c3) OVER (PARTITION BY w1, w2) AS q
  FROM lm0
), sc AS (
  SELECT t.doc_id, lm.q
  FROM tri t LEFT JOIN lm USING (w1, w2, w3)
  WHERE t.doc_id % 10 <> 0
)
SELECT doc_id, COUNT(*) AS n_tri, COUNT(q) AS n_hits,
       CAST(SUM(COALESCE(q, 0)) AS BIGINT) AS sum_q,
       CAST(SUM(COALESCE(q, 0)) // COUNT(*) AS BIGINT) AS avg_q
FROM sc GROUP BY doc_id ORDER BY avg_q, doc_id LIMIT 20
"""


# single source of truth for the filter geometry: functions/bloom.py
# (the oracle f-string below bakes the same constant in, so a geometry
# change desyncs the oracle loudly via the driver hash gate)
from ..functions.bloom import BLOOM_BITS as _BLOOM_BITS  # noqa: E402


def q183_bloom_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter incremental crawl dedup — the memory-bounded twin
    of q97's key-index semi-join, for when even the hash-only history
    index is too large to shuffle against every ingest batch. History
    = docs with ``doc_id % 5 != 0``; the new batch is the rest.

    The filter is built in PURE relational algebra so it is
    bit-identical across engines (Catalyst's ``bloom_filter_agg`` is
    optimizer-internal, not SQL-callable, and its hash geometry is
    impl-defined — this portable form keeps the query oracle-
    checkable): each history content-hash sets ``k = 3`` positions
    derived from seeded md5 (``conv(substr(md5(hh:bi), 1, 8), 16,
    10) % 65536`` — the q120 portable-hash idiom), positions fold
    into 32-bit-per-word masks, and ONE ``bit_or`` aggregation yields
    the ≤2048-row word table. Membership for the new batch is a
    broadcast join of that tiny table + ``bool_and`` over the k
    probes — the history is never shuffled against the batch, and at
    100 TB the word table stays a few KB per billion keys sized up.

    One-sided error is structural: ``maybe_dup = false`` PROVES the
    doc is new (every set bit survives ``bit_or``), while ``true``
    may be a false positive — the plan verifies the guarantee against
    the exact census in the same job (``assert_true`` aborts on a
    false negative, which only an implementation regression could
    produce) and reports the measured FP rate in ppm. The maybe-dup
    remainder is what q97's exact path re-checks downstream — the
    classic two-tier design.

    Position/word/probe kernels come from ``functions/bloom.py``
    (``bit_or`` is idempotent-merge-closed, so any partitioning builds
    the same word table).
    """
    from ..functions.bloom import bloom_probe, bloom_word_table

    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("hh")
    )
    hist = d.filter(F.col("doc_id") % 5 != 0)
    new = d.filter(F.col("doc_id") % 5 == 0)
    words = bloom_word_table(hist.select("hh"))
    flags = bloom_probe(new, words)
    truth = (
        flags.join(
            hist.select(F.col("hh").alias("h2")).distinct(),
            flags["hh"] == F.col("h2"),
            "left",
        )
        .withColumn("is_dup", F.col("h2").isNotNull())
        .drop("h2")
    )
    rep = truth.agg(
        F.count("*").alias("n_new_batch"),
        F.count_if(F.col("is_dup")).alias("n_true_dup"),
        F.count_if(~F.col("maybe_dup")).alias("n_claimed_new"),
        F.count_if(F.col("maybe_dup") & ~F.col("is_dup")).alias("n_false_pos"),
        F.count_if(~F.col("maybe_dup") & F.col("is_dup")).alias("n_false_neg"),
    )
    return (
        rep.filter(
            F.coalesce(
                F.assert_true(
                    F.col("n_false_neg") == 0,
                    F.lit("q183: bloom filter produced a FALSE NEGATIVE"),
                ),
                F.lit(True),
            )
        )
        .withColumn(
            "fp_rate_ppm",
            F.expr(
                "(1000000 * n_false_pos) div greatest(n_new_batch - n_true_dup, 1)"
            ),
        )
    )


O183 = f"""
WITH d AS (
  SELECT doc_id, md5(text) AS hh FROM documents
), hist AS (
  SELECT * FROM d WHERE doc_id % 5 <> 0
), newb AS (
  SELECT * FROM d WHERE doc_id % 5 = 0
), hp AS (
  SELECT CAST(from_hex(substr(md5(hh || ':b' || CAST(t.i AS VARCHAR)), 1, 8)) AS BIT)::BIGINT
         % {_BLOOM_BITS} AS p
  FROM hist, unnest([1, 2, 3]) AS t(i)
), words AS (
  SELECT p // 32 AS w, bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS word
  FROM hp GROUP BY 1
), np AS (
  SELECT n.doc_id, n.hh,
         CAST(from_hex(substr(md5(n.hh || ':b' || CAST(t.i AS VARCHAR)), 1, 8)) AS BIT)::BIGINT
         % {_BLOOM_BITS} AS p
  FROM newb n, unnest([1, 2, 3]) AS t(i)
), probe AS (
  SELECT np.doc_id, np.hh,
         COALESCE((words.word & (1::BIGINT << CAST(np.p % 32 AS INT))) <> 0, FALSE) AS hit
  FROM np LEFT JOIN words ON words.w = np.p // 32
), flags AS (
  SELECT doc_id, hh, bool_and(hit) AS maybe_dup FROM probe GROUP BY 1, 2
), truth AS (
  SELECT f.doc_id, f.maybe_dup, (h.hh IS NOT NULL) AS is_dup
  FROM flags f LEFT JOIN (SELECT DISTINCT hh FROM hist) h ON f.hh = h.hh
)
SELECT COUNT(*) AS n_new_batch,
       COUNT(CASE WHEN is_dup THEN 1 END) AS n_true_dup,
       COUNT(CASE WHEN NOT maybe_dup THEN 1 END) AS n_claimed_new,
       COUNT(CASE WHEN maybe_dup AND NOT is_dup THEN 1 END) AS n_false_pos,
       COUNT(CASE WHEN NOT maybe_dup AND is_dup THEN 1 END) AS n_false_neg,
       (1000000 * COUNT(CASE WHEN maybe_dup AND NOT is_dup THEN 1 END))
         // GREATEST(COUNT(*) - COUNT(CASE WHEN is_dup THEN 1 END), 1) AS fp_rate_ppm
FROM truth
"""


def q184_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE recursive CTE (Spark 4's ``WITH RECURSIVE``,
    SPARK-24497): walk the synthetic part hierarchy (parent =
    ``p_partkey div 10``, roots are keys < 10 — every key reaches a
    root via repeated integer division, so coverage is total and
    acyclic by construction) and report the per-depth census with
    exact integer cents and the distinct-root count.

    q143 expresses recursive-CTE SEMANTICS through within-row
    ancestor enumeration (valid only for path-enumerable parents);
    this query exercises the engine's genuine fixpoint iteration —
    the oracle is DuckDB's own ``WITH RECURSIVE``, so both engines
    run real recursion. Depth here is ≤ 3 (keys < 10,000), far under
    Spark's 100-step recursion guard.

    Plan shape at 100 TB: each recursion step is one keyed
    child-to-frontier join (the frontier is the previous step's
    output, never the whole accumulated result) — Σ work is one pass
    over the edge set per LEVEL, with level count = hierarchy depth,
    exactly the bound a BOM/org walk needs.
    """
    t(spark, sf_dir, "part").createOrReplaceTempView("part_q184")
    return spark.sql(
        """
        WITH RECURSIVE walk(pk, root, depth) AS (
          SELECT p_partkey, p_partkey, 0 FROM part_q184 WHERE p_partkey < 10
          UNION ALL
          SELECT c.p_partkey, w.root, w.depth + 1
          FROM part_q184 c JOIN walk w ON c.p_partkey div 10 = w.pk
          WHERE c.p_partkey >= 10
        )
        SELECT w.depth,
               COUNT(*) AS n_parts,
               CAST(SUM(CAST(floor(p.p_retailprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents,
               COUNT(DISTINCT w.root) AS n_roots
        FROM walk w JOIN part_q184 p ON p.p_partkey = w.pk
        GROUP BY w.depth ORDER BY w.depth
        """
    )


O184 = """
WITH RECURSIVE walk(pk, root, depth) AS (
  SELECT p_partkey, p_partkey, 0 FROM part WHERE p_partkey < 10
  UNION ALL
  SELECT c.p_partkey, w.root, w.depth + 1
  FROM part c JOIN walk w ON c.p_partkey // 10 = w.pk
  WHERE c.p_partkey >= 10
)
SELECT w.depth,
       COUNT(*) AS n_parts,
       CAST(SUM(CAST(floor(p.p_retailprice * 100) AS BIGINT)) AS BIGINT) AS cents,
       COUNT(DISTINCT w.root) AS n_roots
FROM walk w JOIN part p ON p.p_partkey = w.pk
GROUP BY w.depth ORDER BY w.depth
"""


def q185_variant_shredding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path for semi-structured JSON (the successor
    to string-churning ``get_json_object``): ``try_parse_json`` turns
    ``events.props`` into a binary variant ONCE, then typed
    ``try_variant_get`` extractions read it without re-parsing — at
    100 TB the parse happens once per row regardless of how many
    fields downstream expressions pull, and malformed rows become
    NULLs (errors-as-data), never task failures. q30 is the legacy
    string-function twin.

    The report buckets the extracted integer and aggregates per
    (event_type, bucket) with exact integer sums — deterministic and
    oracle-checkable against DuckDB's JSON extraction (the oracle
    uses ``json_valid`` + ``TRY_CAST`` so BOTH engines NULL malformed
    rows rather than the oracle hard-erroring where Spark nulls; the
    corpus itself is clean JSON, so the malformed path is pinned by
    tests/test_kernel_units.py over an in-memory frame instead).
    """
    e = t(spark, sf_dir, "events").select(
        "event_type", F.expr("try_parse_json(props)").alias("v")
    )
    k = F.expr("try_variant_get(v, '$.k', 'int')")
    return (
        e.withColumn("k", k)
        .withColumn("k_bucket", F.col("k") % 10)
        .groupBy("event_type", "k_bucket")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type", "k_bucket")
    )


O185 = """
WITH x AS (
  SELECT event_type,
         CASE WHEN json_valid(props)
                   AND json_type(props, '$.k') IN ('UBIGINT', 'BIGINT')
              THEN TRY_CAST(props->>'k' AS INT) END AS k
  FROM events
)
SELECT event_type, k % 10 AS k_bucket, COUNT(*) AS n,
       CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k, MAX(k) AS max_k
FROM x GROUP BY 1, 2 ORDER BY 1, 2
"""


def q186_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution repetitiveness gate via the Simpson
    index — the distributional complement to q88's duplicate-shingle
    rule: a doc whose characters concentrate on few symbols (keyboard
    mash, padding, ASCII art) scores high on Σp², low on diversity
    1 − Σp². Shannon entropy is the textbook form but needs ``log``,
    whose last-ulp behavior is not guaranteed identical across
    engines; Simpson is a RATIONAL statistic — Σc²/n² in exact
    integers until one final division — so both engines agree
    bit-for-bit (the same reasoning that picked histogram-rank over
    percentile elsewhere).

    Plan shape at 100 TB: explode chars within-row, then ONE groupBy
    (doc_id, ch) census + a doc-grain sum — two partial-agged
    shuffles whose keys are uniform. Report = 15 least-diverse docs,
    deterministically tie-broken. Census + report live in
    ``functions/diversity.py``.
    """
    from ..functions.diversity import char_census, simpson_report

    return simpson_report(
        char_census(t(spark, sf_dir, "documents").select("doc_id", "text"))
    )


O186 = """
WITH chars AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '(?s).')) AS ch FROM documents
), census AS (
  SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY 1, 2
), per_doc AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_chars,
         CAST(SUM(c * c) AS BIGINT) AS sum_c2
  FROM census GROUP BY 1
)
SELECT doc_id, n_chars, sum_c2,
       CAST(1000000 - (1000000 * CAST(sum_c2 AS HUGEINT))
            // (CAST(n_chars AS HUGEINT) * n_chars) AS BIGINT) AS diversity_ppm
FROM per_doc ORDER BY diversity_ppm, doc_id LIMIT 15
"""


def q187_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-proportion train/val/test assignment, stratified by
    language: rank docs within each stratum by seeded md5 (the q120
    portable-hash idiom — reproducible, content-addressed, no
    ``rand()``), then cut at ⌊0.8n⌋ / ⌊0.9n⌋ so every stratum's split
    sizes are exactly the floor proportions — q86's hash-GATED
    sampling gets proportions only in expectation; evaluation splits
    need them exact. Report: per (lang, split) counts + char mass.

    Plan shape at 100 TB: one exchange on the stratum key for the
    rank window, then the report agg rides the same partitioning.
    The md5 rank makes assignment stable under RERUNS over the same
    corpus; under APPENDS only the rank ORDER is stable — the floor
    cuts move with n, so docs at a cut boundary can migrate between
    splits (an inherent property of exact-proportion cuts, not of
    this plan). Freezing an eval split across ingests therefore
    still requires snapshotting the assignment, as is standard.
    """
    d = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars",
        F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))).alias("rk"),
    )
    w = Window.partitionBy("lang").orderBy("rk", "doc_id")
    ranked = (
        d.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count("*").over(Window.partitionBy("lang")))
    )
    split = (
        F.when(F.col("rn") <= F.expr("(8 * n) div 10"), F.lit("train"))
        .when(F.col("rn") <= F.expr("(9 * n) div 10"), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        ranked.withColumn("split", split)
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("lang", "split")
    )


O187 = """
WITH ranked AS (
  SELECT doc_id, lang, n_chars,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY md5('split:' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT lang,
       CASE WHEN rn <= (8 * n) // 10 THEN 'train'
            WHEN rn <= (9 * n) // 10 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM ranked GROUP BY 1, 2 ORDER BY 1, 2
"""


def q188_countmin_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch token-frequency estimation, verified against
    the exact census — the fixed-memory twin of q175's exact heavy
    hitters, the same relationship q177's MG sketch has to it but
    with a crucial difference: CM counters are SUMS of seeded-md5
    coordinate hits, so the sketch is deterministic under ANY input
    order or partitioning and therefore oracle-EXACT (MG/KLL
    estimates are partitioning-dependent → rows-only; CM is not).

    Build: each token occurrence fans into ``CM_D = 4`` (row, pos)
    cells (seeded md5 % ``CM_W = 2048`` — the q120/q183 portable-hash
    idiom) and ONE fixed-keyspace count aggregation yields the ≤8192-
    row sketch. Map-side combine collapses every input partition to
    ≤8192 rows before the exchange, so the shuffle is O(partitions ×
    cells) at ANY corpus size and token cardinality — the 100 TB
    estimation shape where q175's census shuffle grows with distinct-
    token count (URLs, UUIDs, raw n-grams). Probe: broadcast the tiny
    sketch, min over the 4 rows.

    The report point-queries the 20 most frequent tokens: true count,
    estimate, and the collision overcount. ``est ≥ true`` is
    STRUCTURAL (a counter only ever gains collision mass) and the
    plan asserts it per probe via ``F.assert_true`` — an estimate
    below truth is an implementation regression, never sketch noise.
    The exact census here exists only to verify/report; production
    builds the sketch alone. Kernels in ``functions/cmsketch.py``
    (counters are merge-closed sums).

    r12: this verify/report query pays the exact census ANYWAY, so
    the census is persisted (vocab-bounded — the BPE word-census
    class) and the sketch derives from it via
    ``cm_sketch_from_census`` (sums of per-term counts ≡ counts of
    occurrences, pinned in tests/test_cmsketch_census.py). Before,
    the one action tokenized the corpus 3× — census for the probe
    broadcast, census again under the probe positions, and the
    sketch's own occurrence fan-out (3 parquet scans + 3 Generate
    explodes in plans/r12/q188_countmin_frequency_before.txt); now
    the corpus is tokenized exactly once and everything downstream
    is vocab-grain cache reads. The production sketch-only path
    (``cm_sketch``) is untouched — its
    cardinality-independent shuffle story is the kernel's, not this
    report's. Composing callers running many plans should
    ``spark.catalog.clearCache()`` when done (the bench does between
    reps) — the persist is plan-lifetime and cannot be unpersisted
    here because the returned plan still reads it (ADVICE r12).
    """
    from ..functions.cmsketch import cm_estimate, cm_sketch_from_census

    tok = t(spark, sf_dir, "documents").select(
        F.explode(_toks()).alias("term")
    )
    census = (
        tok.groupBy("term").agg(F.count("*").alias("n_true")).persist()
    )
    probes = census.orderBy(F.desc("n_true"), "term").limit(20)
    est = cm_estimate(probes.select("term"), cm_sketch_from_census(census))
    return (
        probes.join(est, "term")
        .filter(
            F.coalesce(
                F.assert_true(
                    F.col("est") >= F.col("n_true"),
                    F.lit("q188: CM estimate BELOW true count"),
                ),
                F.lit(True),
            )
        )
        .withColumn("overcount", F.col("est") - F.col("n_true"))
        .select("term", "n_true", "est", "overcount")
        .orderBy(F.desc("n_true"), "term")
    )


from ..functions.cmsketch import CM_D as _CM_D, CM_W as _CM_W  # noqa: E402

O188 = f"""
WITH tok AS (
  SELECT unnest({TOKS}) AS term FROM documents
), census AS (
  SELECT term, COUNT(*) AS n_true FROM tok GROUP BY 1
), probes AS (
  SELECT term, n_true FROM census ORDER BY n_true DESC, term LIMIT 20
), pos AS (
  SELECT term, t.i AS r,
         CAST(from_hex(substr(md5(term || ':cm' || CAST(t.i AS VARCHAR)), 1, 8)) AS BIT)::BIGINT
         % {_CM_W} AS pos
  FROM tok, unnest([{", ".join(str(i) for i in range(1, _CM_D + 1))}]) AS t(i)
), sketch AS (
  SELECT r, pos, COUNT(*) AS counter FROM pos GROUP BY 1, 2
), ppos AS (
  SELECT p.term, t.i AS r,
         CAST(from_hex(substr(md5(p.term || ':cm' || CAST(t.i AS VARCHAR)), 1, 8)) AS BIT)::BIGINT
         % {_CM_W} AS pos
  FROM probes p, unnest([{", ".join(str(i) for i in range(1, _CM_D + 1))}]) AS t(i)
), est AS (
  SELECT ppos.term, MIN(COALESCE(s.counter, 0)) AS est
  FROM ppos LEFT JOIN sketch s ON s.r = ppos.r AND s.pos = ppos.pos
  GROUP BY 1
)
SELECT p.term, p.n_true, e.est, e.est - p.n_true AS overcount
FROM probes p JOIN est e ON e.term = p.term
ORDER BY p.n_true DESC, p.term
"""


def q189_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-SPAN detection — the substring-granular dedup
    of Lee et al.'s "Deduplicating Training Data Makes Language
    Models Better" (ExactSubstr), re-expressed for a cluster: their
    single-node suffix array becomes a corpus-wide k-token-gram
    census. A span is duplicated if its gram occurs ≥2 times ANYWHERE
    in the corpus (cross-doc boilerplate or within-doc repetition);
    per doc, the covered token mass is the UNION of the [pos, pos+k)
    intervals of its duplicated gram starts — q153's sweep idiom
    specialised to equal-length intervals (sorted starts: each start
    contributes min(k, next_start − start), the last contributes k).

    This catches what doc-level MinHash (q52/q53) structurally cannot:
    two long documents sharing one boilerplate paragraph have low
    doc-level Jaccard but a high duplicated-span fraction — the
    statistic used to CUT spans, not drop docs.

    Plan shape at 100 TB: grams build WITHIN-ROW (transform over
    sequence + slice — no join, no shuffle); the gram census is one
    partial-agged shuffle on the uniform md5 key; duplicated-gram
    occurrences come back via one semi-shaped join on the same key;
    the coverage sweep is one doc-keyed window. Every exchange key is
    uniform; nothing is pairwise. Report: the 20 most-duplicated docs
    by ppm coverage (exact integer floor-div — engine-identical).

    Kernels live in ``functions/spans.py`` (the census is a
    merge-closed count over whole-doc partitions).
    """
    from ..functions.spans import gram_census, gram_stream, span_report, token_spine

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    return span_report(gram_census(d), gram_stream(d), token_spine(d))


O189 = f"""
WITH d AS (
  SELECT doc_id, {TOKS} AS toks FROM documents
), docs AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_toks FROM d
), grams AS (
  SELECT doc_id, CAST(t.i AS BIGINT) AS pos,
         md5(array_to_string(toks[t.i : t.i + 7], ' ')) AS g
  FROM d, unnest(range(1, len(toks) - 6)) AS t(i)
  WHERE len(toks) >= 8
), dup AS (
  SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2
), occ AS (
  SELECT doc_id, pos FROM grams JOIN dup USING (g)
), swept AS (
  SELECT doc_id, pos,
         LEAD(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
  FROM occ
), cov AS (
  SELECT doc_id, SUM(LEAST(8, COALESCE(nxt - pos, 8))) AS dup_tokens
  FROM swept GROUP BY doc_id
)
SELECT d.doc_id, d.n_toks,
       CAST(COALESCE(c.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       (1000000 * CAST(COALESCE(c.dup_tokens, 0) AS BIGINT))
         // GREATEST(d.n_toks, 1) AS dup_ppm
FROM docs d LEFT JOIN cov c USING (doc_id)
ORDER BY dup_ppm DESC, doc_id LIMIT 20
"""


def q190_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-CONTAINMENT join: ordered pairs (A, B) where
    C(A,B) = |A∩B| / |A| ≥ 4/5 over distinct 3-token shingles —
    Broder's asymmetric near-dup relation. This catches SUBSUMPTION
    that symmetric Jaccard (q127) structurally cannot: an article
    republished inside a longer page has C(article, page) ≈ 1 but
    Jaccard ≈ |A|/|B|, far below any sane τ — exactly the
    quote/aggregator/boilerplate-wrapper case an LLM dedup pass must
    catch without dropping genuinely new long docs.

    Candidates by the asymmetric prefix principle: overlap ≥ t =
    ⌈τ·|A|⌉ forces A's (|A| − t + 1) globally-rarest shingles to hit
    B's FULL set (pigeonhole on A's rarity order alone — B's side
    cannot be prefix-truncated because t depends on |A|, the honest
    asymmetry of containment joins). Two exact filters prune the
    collision stream in pure integer arithmetic: |B| ≥ t (overlap
    can't exceed |B|), and the q127 positional bound — both sides
    rank in the SAME global (df, shingle) order, so a collision at
    (rn_a, rn_b) caps overlap at 1 + min(na − rn_a, nb − rn_b), and a
    qualifying pair's first common prefix element always passes.
    Rescore = exact intersection, integer filter 5·|A∩B| ≥ 4·|A|.

    Plan shape at 100 TB: df census shuffle + rank window + prefix-
    probe-to-full-index keyed join + exact rescore on candidates only
    — never all-pairs. The oracle is deliberately prefix-only (no
    length/positional filters): same answer through strictly more
    candidates, so a filter bug surfaces as a driver hash mismatch
    (q127's discipline).
    """
    d = (
        _with_shingle_sets(t(spark, sf_dir, "documents"))
        .select("doc_id", "sh")
    ).persist()
    toks = d.select(
        "doc_id", F.size("sh").alias("ntok"), F.explode("sh").alias("shingle")
    )
    dfreq = toks.groupBy("shingle").agg(F.count("*").alias("df"))
    wdoc = Window.partitionBy("doc_id").orderBy("df", "shingle")
    # Persisted: ranked feeds BOTH the probe prefix and the full
    # index side; without it the census join + rank window run twice.
    # Ranks are assigned over ALL shingles, but the JOIN inputs then
    # drop df = 1 shingles — a shingle in exactly one doc cannot
    # produce a cross-doc collision, and at avg df ≈ 1.6 the
    # majority of the full-index stream is df = 1.
    ranked = (
        toks.join(dfreq, "shingle")
        .withColumn("rn", F.row_number().over(wdoc))
        .persist()
    )
    # A-side probe prefix: rn ≤ na − t + 1, t = ⌈4·na/5⌉
    pref_a = ranked.filter(
        (F.col("df") >= 2)
        & (F.col("rn") <= F.col("ntok") - F.expr("(4 * ntok + 4) div 5") + 1)
    )
    ca = pref_a.select(
        F.col("doc_id").alias("doc_a"), "shingle",
        F.col("rn").alias("rn_a"), F.col("ntok").alias("na"),
    )
    cb = ranked.filter(F.col("df") >= 2).select(
        F.col("doc_id").alias("doc_b"), "shingle",
        F.col("rn").alias("rn_b"), F.col("ntok").alias("nb"),
    )
    cand = (
        ca.join(cb, "shingle")
        .filter(F.col("doc_a") != F.col("doc_b"))
        # container size filter: overlap ≤ nb, so nb ≥ t
        .filter(F.col("nb") >= F.expr("(4 * na + 4) div 5"))
        # positional filter: attainable overlap from this collision
        .filter(
            1 + F.least(F.col("na") - F.col("rn_a"), F.col("nb") - F.col("rn_b"))
            >= F.expr("(4 * na + 4) div 5")
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    da = d.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    db = d.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    inter = F.size(F.array_intersect("sha", "shb"))
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .filter(5 * inter >= 4 * F.size("sha"))
        .select(
            "doc_a",
            "doc_b",
            F.size("sha").cast("long").alias("na"),
            F.size("shb").cast("long").alias("nb"),
            inter.cast("long").alias("inter"),
            F.expr("(1000000 * cast(size(array_intersect(sha, shb)) as bigint))"
                   " div size(sha)").alias("cont_ppm"),
        )
        .orderBy("doc_a", "doc_b")
    )


O190 = f"""
WITH docs AS (
  SELECT doc_id, list_distinct({_DUCK_SHINGLES}) AS sh FROM documents
), toks AS (
  SELECT doc_id, unnest(sh) AS shingle FROM docs
), dfq AS (
  SELECT shingle, COUNT(*) AS df FROM toks GROUP BY 1
), ranked AS (
  SELECT t.doc_id, t.shingle,
         ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY dfq.df, t.shingle) AS rn,
         COUNT(*) OVER (PARTITION BY t.doc_id) AS ntok
  FROM toks t JOIN dfq USING (shingle)
), pref AS (
  SELECT doc_id, shingle FROM ranked WHERE rn <= ntok - (4 * ntok + 4) // 5 + 1
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, r.doc_id AS doc_b
  FROM pref a JOIN ranked r ON a.shingle = r.shingle AND a.doc_id <> r.doc_id
), scored AS (
  SELECT c.doc_a, c.doc_b,
         CAST(len(da.sh) AS BIGINT) AS na,
         CAST(len(db.sh) AS BIGINT) AS nb,
         CAST(len(list_intersect(da.sh, db.sh)) AS BIGINT) AS inter
  FROM cand c
  JOIN docs da ON da.doc_id = c.doc_a
  JOIN docs db ON db.doc_id = c.doc_b
)
SELECT doc_a, doc_b, na, nb, inter, (1000000 * inter) // na AS cont_ppm
FROM scored WHERE 5 * inter >= 4 * na
ORDER BY doc_a, doc_b
"""


def q191_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / theta-sketch distinct-token estimation per language plus
    the corpus-wide UNION sketch, verified against the exact census —
    the distinct-count member of the deterministic-sketch family
    (q183 bloom membership, q188 count-min frequency): keep the K
    smallest seeded-md5 hash values per scope and estimate
    n ≈ (K-1)·2^56 / h_k. Where q38's HLL is rows-only (register
    values are implementation-defined), KMV's state is just hash
    VALUES — portable md5, so DuckDB recomputes the sketch
    bit-for-bit and the driver hash-checks the estimates themselves.

    Plan shape at 100 TB: one distinct on (scope, h) — whose first
    exchange is still per-distinct-value, the honest cost model in
    functions/kmv.py — then a rank window whose EXPLICIT ``rn <= K``
    filter gets WindowGroupLimit pushdown: every exchange AFTER the
    distinct is bounded at K rows per scope per task, and the global
    state is K longs per scope where the census's second stage stays
    distinct-sized. The 'ALL' row costs NO second data pass: min-k is
    merge-closed, so the union sketch ranks the ≤K×5 already-kept
    minima (theta-sketch set algebra); 'ALL' is a RESERVED scope
    label, asserted in-plan against the (label-sized) per-scope
    minima so a real lang named 'ALL' aborts loudly instead of
    silently folding into the union row. The exact census
    here exists only to report the signed error; production builds
    the sketch alone. Kernels in ``functions/kmv.py`` (per-key
    minima lists merge losslessly).

    est = n_kept (exact) when a scope has < K distinct hashes;
    accuracy otherwise is the statistical RSE ≈ 1/√(K-2) ≈ 6.3% —
    not a structural bound, hence reported (delta) rather than
    asserted in-plan (contrast q188's structural est ≥ true).
    """
    from ..functions.kmv import (
        kmv_estimate,
        kmv_guard_reserved,
        kmv_minima,
        kmv_union,
    )

    tok = t(spark, sf_dir, "documents").select(
        F.col("lang").alias("scope"), F.explode(_toks()).alias("term")
    )
    # persist the REUSED frames (per feeds both union arms; census
    # feeds both true-count arms) — without it the scan+tokenize+md5
    # pipeline executes 4x in one action (second review-pass finding)
    per = kmv_minima(tok).persist()
    minima = kmv_guard_reserved(per).unionByName(kmv_union(per))
    census = tok.distinct().persist()
    true = census.groupBy("scope").agg(
        F.count("*").alias("n_true")
    ).unionByName(
        census.select("term").distinct().agg(
            F.count("*").alias("n_true")
        ).select(F.lit("ALL").alias("scope"), "n_true")
    )
    return (
        kmv_estimate(minima)
        .join(true, "scope")
        .select(
            "scope", "n_true", "n_kept", "est",
            (F.col("est") - F.col("n_true")).alias("delta"),
        )
        .orderBy("scope")
    )


from ..functions.kmv import KMV_K as _KMV_K  # noqa: E402
from ..functions.kmv import _KMV_NUMER as _KMV_NUM  # noqa: E402

O191 = f"""
WITH tok AS (
  SELECT lang AS scope, unnest({TOKS}) AS term FROM documents
), h AS (
  SELECT DISTINCT scope,
         CAST(from_hex(substr(md5(term || ':kmv'), 1, 14)) AS BIT)::BIGINT AS h
  FROM tok
), u AS (
  SELECT scope, h FROM h
  UNION ALL SELECT DISTINCT 'ALL' AS scope, h FROM h
), mink AS (
  SELECT scope, h FROM (
    SELECT scope, h, ROW_NUMBER() OVER (PARTITION BY scope ORDER BY h) AS rn
    FROM u
  ) WHERE rn <= {_KMV_K}
), est AS (
  SELECT scope, COUNT(*) AS n_kept, MAX(h) AS h_k FROM mink GROUP BY 1
), tru AS (
  SELECT scope, COUNT(DISTINCT term) AS n_true FROM tok GROUP BY 1
  UNION ALL
  SELECT 'ALL', COUNT(DISTINCT term) FROM tok
)
SELECT e.scope, t.n_true, e.n_kept,
       CAST(CASE WHEN e.n_kept < {_KMV_K} THEN e.n_kept
            ELSE CAST('{_KMV_NUM}' AS HUGEINT) // e.h_k END AS BIGINT) AS est,
       CAST(CASE WHEN e.n_kept < {_KMV_K} THEN e.n_kept
            ELSE CAST('{_KMV_NUM}' AS HUGEINT) // e.h_k END AS BIGINT)
       - t.n_true AS delta
FROM est e JOIN tru t USING (scope)
ORDER BY e.scope
"""


def q192_arrow_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-native int8 kNN through ``mapInArrow`` — q77's exact
    semantics on the engine's THIRD Python transport (row-Python UDF
    < Arrow-batched pandas UDF < raw ``mapInArrow``): the kernel
    receives pyarrow RecordBatches with no pandas materialization and
    answers each batch with one zero-copy numpy view + one int64 GEMM
    over the whole batch, emitting only per-batch top-k candidates
    (the shard-and-k-merge shape — the exchange feeding the global
    window carries batches × queries × k rows, independent of corpus
    size). Exactness survives the kernel because every lossy step is
    pinned: the same floor(x·127) int8 clamp as q77, exact integer
    dot products, and a float64 dot/(√·√) whose IEEE-754 ops are
    correctly rounded — numpy, the JVM and DuckDB agree bit-for-bit
    on the SAME integers. Ranking (and the oracle's) uses the
    UNROUNDED cosine + vec_id so in-kernel truncation and the global
    window share one total order; q77 ranks on the rounded value,
    hence this query's own oracle. Operator:
    ``operators/ann.arrow_knn``; kernel-vs-declarative equality and
    the candidate-stream bound are pinned in tests/test_ivf_layout.py.
    """
    from ..operators.ann import arrow_knn

    return arrow_knn(t(spark, sf_dir, "embeddings"))


O192 = f"""
WITH coded AS (
  SELECT vec_id, {_QUANT_DUCK.format(c='embedding')} AS qe FROM embeddings
), q AS (
  SELECT vec_id AS query_id, qe AS qv FROM coded WHERE vec_id IN (0, 1, 2)
), scored AS (
  SELECT q.query_id, e.vec_id,
         CAST({_QDOT_DUCK.format(a='e.qe', b='q.qv')} AS DOUBLE) /
         (sqrt(CAST({_QDOT_DUCK.format(a='e.qe', b='e.qe')} AS DOUBLE)) *
          sqrt(CAST({_QDOT_DUCK.format(a='q.qv', b='q.qv')} AS DOUBLE))) AS cos
  FROM coded e CROSS JOIN q WHERE e.vec_id <> q.query_id
)
SELECT query_id, rn, vec_id, ROUND(cos, 4) AS qcos FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rn
  FROM scored
) WHERE rn <= 3 ORDER BY query_id, rn
"""




def q203_kmv_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch SET ALGEBRA over the per-lang distinct-shingle
    sets — the DataSketches capability q191's distinct counts stop
    short of: estimate |A ∩ B| and |A \\ B| for every lang pair from
    the ≤K-row sketches ALONE (Dasgupta et al., "Theta-Sketch
    Framework", and the classic KMV intersection rule).

    The rule: with theta_X = M when X's sketch is exact (kept < K)
    else X's K-th smallest hash, every hash BELOW
    theta = min(theta_A, theta_B) is retained by BOTH sketches iff
    its element is in the respective set — membership below theta is
    EXACT. So count the sub-theta hashes the sketches share (n_ab)
    and the sub-theta hashes only A holds (n_a − n_ab), then scale
    each by M/theta. Identical terms hash identically across scopes
    (content-addressed seeded md5, functions/kmv.py), which is what
    makes cross-sketch hash equality mean set membership.

    100 TB shape: after ``kmv_minima``'s WindowGroupLimit-bounded
    rank, EVERYTHING is label-sized — the theta table is one row per
    lang, the pair table ``5 choose 2`` rows, and the sketch joins
    touch ≤ K x 5 rows total. The exact INTERSECT/EXCEPT census
    exists only to report the signed error (production ships the
    estimates); deterministic hashing makes even the estimates
    oracle-EXACT, so this is hash-checked, not rows-only.
    """
    from ..functions.kmv import kmv_minima, kmv_set_algebra

    d = _with_shingle_sets(t(spark, sf_dir, "documents"))
    sh = (
        d.select(F.col("lang").alias("scope"), F.explode("sh").alias("term"))
        .distinct()
        .persist()
    )
    minima = kmv_minima(sh).persist()
    est = kmv_set_algebra(minima)
    # exact truth for the signed-error report
    x, y = sh.alias("x"), sh.alias("y")
    tru = (
        x.join(y, (F.col("x.term") == F.col("y.term"))
               & (F.col("x.scope") < F.col("y.scope")))
        .groupBy(
            F.col("x.scope").alias("lang_a"), F.col("y.scope").alias("lang_b")
        )
        .agg(F.count("*").alias("true_common"))
    )
    ntrue = sh.groupBy("scope").agg(F.count("*").alias("n_true"))
    rep = (
        est.join(tru, ["lang_a", "lang_b"], "left")
        .join(
            ntrue.select(F.col("scope").alias("lang_a"),
                         F.col("n_true").alias("n_true_a")),
            "lang_a",
        )
        .na.fill(0, ["true_common"])
    )
    return rep.select(
        "lang_a",
        "lang_b",
        "true_common",
        "est_common",
        (F.col("est_common") - F.col("true_common")).alias("delta_common"),
        (F.col("n_true_a") - F.col("true_common")).alias("true_only_a"),
        "est_only_a",
        (F.col("est_only_a") - (F.col("n_true_a") - F.col("true_common"))
         ).alias("delta_only_a"),
    ).orderBy("lang_a", "lang_b")


O203 = f"""
WITH d AS (
  SELECT lang, list_distinct({_DUCK_SHINGLES}) AS sh FROM documents
), tok AS (
  SELECT DISTINCT lang AS scope, unnest(sh) AS term FROM d
), h AS (
  SELECT DISTINCT scope,
         CAST(from_hex(substr(md5(term || ':kmv'), 1, 14)) AS BIT)::BIGINT AS h
  FROM tok
), mink AS (
  SELECT scope, h FROM (
    SELECT scope, h, ROW_NUMBER() OVER (PARTITION BY scope ORDER BY h) AS rn
    FROM h
  ) WHERE rn <= 256
), th AS (
  SELECT scope,
         CASE WHEN COUNT(*) < 256 THEN CAST('72057594037927936' AS BIGINT)
              ELSE MAX(h) END AS theta
  FROM mink GROUP BY 1
), pairs AS (
  SELECT a.scope AS lang_a, b.scope AS lang_b,
         least(a.theta, b.theta) AS theta
  FROM th a, th b WHERE a.scope < b.scope
), ma AS (
  SELECT lang_a, lang_b, h FROM mink JOIN pairs ON scope = lang_a
  WHERE h < theta
), mb AS (
  SELECT lang_a, lang_b, h FROM mink JOIN pairs ON scope = lang_b
  WHERE h < theta
), nab AS (
  SELECT lang_a, lang_b, COUNT(*) AS n_ab
  FROM ma JOIN mb USING (lang_a, lang_b, h) GROUP BY 1, 2
), na AS (
  SELECT lang_a, lang_b, COUNT(*) AS n_a FROM ma GROUP BY 1, 2
), tru AS (
  SELECT x.scope AS lang_a, y.scope AS lang_b, COUNT(*) AS true_common
  FROM tok x JOIN tok y ON x.term = y.term AND x.scope < y.scope
  GROUP BY 1, 2
), ntrue AS (
  SELECT scope, COUNT(*) AS n_true FROM tok GROUP BY 1
)
SELECT p.lang_a, p.lang_b,
       CAST(COALESCE(t.true_common, 0) AS BIGINT) AS true_common,
       CAST(CAST(COALESCE(nab.n_ab, 0) AS HUGEINT)
            * CAST('72057594037927936' AS HUGEINT) // p.theta AS BIGINT) AS est_common,
       CAST(CAST(COALESCE(nab.n_ab, 0) AS HUGEINT)
            * CAST('72057594037927936' AS HUGEINT) // p.theta AS BIGINT)
         - CAST(COALESCE(t.true_common, 0) AS BIGINT) AS delta_common,
       CAST(nt.n_true - COALESCE(t.true_common, 0) AS BIGINT) AS true_only_a,
       CAST(CAST(COALESCE(na.n_a, 0) - COALESCE(nab.n_ab, 0) AS HUGEINT)
            * CAST('72057594037927936' AS HUGEINT) // p.theta AS BIGINT) AS est_only_a,
       CAST(CAST(COALESCE(na.n_a, 0) - COALESCE(nab.n_ab, 0) AS HUGEINT)
            * CAST('72057594037927936' AS HUGEINT) // p.theta AS BIGINT)
         - CAST(nt.n_true - COALESCE(t.true_common, 0) AS BIGINT)
         AS delta_only_a
FROM pairs p
LEFT JOIN nab USING (lang_a, lang_b)
LEFT JOIN na USING (lang_a, lang_b)
LEFT JOIN tru t USING (lang_a, lang_b)
JOIN ntrue nt ON nt.scope = p.lang_a
ORDER BY p.lang_a, p.lang_b
"""




def q204_semantic_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style EMBEDDING near-duplicate clustering (Abbas et
    al. 2023): the missing step between q82's near-dup PAIRS and an
    actionable dedup decision — group mutually-similar vectors into
    CLUSTERS and report what a keep-one-per-cluster pass would drop.

    Pipeline: q82's hyperplane-LSH-bucketed cosine edges (identical
    exprs — same 8-plane sign code, same persisted coded+normed
    table, same rounded-cosine gate at 0.40 — q82's exprs, a slightly
    wider net so the cluster census is non-trivial at test scale) feed
    ``operators/graph.connected_components``; the report is the
    non-singleton cluster census (cluster = component-min vec_id,
    size, n_dropped = size − 1). Clustering within LSH cells is the
    SemDeDup scale discipline itself — candidate pairs exist only
    inside a cell, so at 100 TB this is a per-partition self-join +
    a component pass over the (sparse) near-dup graph, never an
    all-pairs anything. The rounded-cosine gate makes the edge set —
    hence the components — identical across engines; the oracle
    replays the same edges through a recursive-CTE reachability walk
    (O67's pattern).
    """
    return semantic_dedup_clusters(spark, sf_dir, n_planes=8)


def semantic_dedup_clusters(
    spark: SparkSession, sf_dir: str, n_planes: int = 8
) -> DataFrame:
    """q204's pipeline with the plane count as the PRODUCTION scaling
    knob. SemDeDup's cost driver is per-cell occupancy (in-cell pair
    work is ~quadratic in it), so a fixed plane count saturates as the
    corpus grows — SCALE.md's r8 caveat on q204's 20.6× at 100×. The
    production rule, measured by ``scripts/scale_semdedup.py``:

        n_planes(f) = 8 + round(log2 f)      (f = corpus scale factor)

    Cells grow ~linearly with the corpus (2^round(log2 f) ≈ f), so
    per-cell occupancy — hence per-cell pair work — holds ~constant
    and total work returns to the data-linear floor. The trade is
    recall at the margin (a finer code splits some true near-dup
    pairs across cells); edges that DO form are still exact
    rounded-cosine-gated, so every reported cluster is real — the
    oracle story is unchanged, and q204 pins the n_planes=8 config
    hash-exactly."""
    from ..operators.graph import connected_components

    a, b, cos = _bucketed_cosine_sides(spark, sf_dir, n_planes)
    edges = (
        a.join(b, "code")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 4).alias("cosine"))
        .filter(F.col("cosine") >= 0.40)
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    comps = connected_components(nodes, edges)
    return (
        comps.groupBy(F.col("label").alias("cluster"))
        .agg(F.count("*").alias("size"))
        .select(
            "cluster", "size", (F.col("size") - F.lit(1)).alias("n_dropped")
        )
        .orderBy("cluster")
    )


O204 = f"""
WITH RECURSIVE coded AS (
  SELECT vec_id, embedding, {_CODE_DUCK} AS code,
         sqrt({_DDOT.format(a='embedding', b='embedding')}) AS norm
  FROM embeddings
), edges AS MATERIALIZED (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM coded a JOIN coded b ON a.code = b.code AND a.vec_id < b.vec_id
  WHERE ROUND({_DDOT.format(a='a.embedding', b='b.embedding')}
              / (a.norm * b.norm), 4) >= 0.40
), dedges AS MATERIALIZED (
  SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges
), nodes AS (
  SELECT DISTINCT src AS node FROM dedges
), reach(a, b) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT r.a, e.dst FROM reach r JOIN dedges e ON r.b = e.src
), comp AS (
  SELECT a AS node, MIN(b) AS cluster FROM reach GROUP BY a
)
SELECT cluster, COUNT(*) AS size, COUNT(*) - 1 AS n_dropped
FROM comp GROUP BY cluster ORDER BY cluster
"""



_AHASH_HAM = 16  # near-dup gate: <= 16 of 64 grid bits differ


def _image_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared perceptual-hash input frame (q205/q209): image-
    modality documents (doc_id % 3 == 0 — documents_as_assets' rule
    and the oracles' sample), zero-byte assets excluded in both
    engines, and the char==byte abort SCOPED to exactly these rows
    (ADVICE r7: a multibyte audio doc must not abort an image query
    whose oracle never reads it)."""
    return (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 0)
        .filter(F.octet_length("text") > 0)
        .filter(
            F.coalesce(
                F.assert_true(
                    F.octet_length("text") == F.length("text"),
                    F.lit("perceptual hash: multibyte doc breaks the "
                          "oracle's byte sampling"),
                ),
                F.lit(True),
            )
        )
    )


def _band_near_dup(h: DataFrame, max_ham: int) -> DataFrame:
    """Shared band-LSH near-dup scaffolding over a PERSISTED
    (asset_id, b0..b3) hash table (q205 aHash ≡ q209 pHash — the
    _snm_neighbors discipline): explode to (asset_id, band-k, value)
    rows, candidates ONLY where a band collides, exact Hamming
    rescore Σ bit_count(xor(band)) ≤ ``max_ham`` JVM-side. Everything
    here runs on 16 bytes/asset — the content bytes never reach this
    function."""
    long = h.select(
        "asset_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("k"), F.col(f"b{i}").alias("v"))
                    for i in range(4)
                ]
            )
        ).alias("s"),
    ).select("asset_id", "s.k", "s.v")
    la = long.select(
        F.col("asset_id").alias("id_a"), F.col("k"), F.col("v")
    )
    lb = long.select(
        F.col("asset_id").alias("id_b"), F.col("k").alias("k2"),
        F.col("v").alias("v2"),
    )
    cand = (
        la.join(lb, (F.col("k") == F.col("k2")) & (F.col("v") == F.col("v2"))
                & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b")
        .distinct()
    )
    ha = h.select(F.col("asset_id").alias("id_a"),
                  *[F.col(f"b{i}").alias(f"a{i}") for i in range(4)])
    hb = h.select(F.col("asset_id").alias("id_b"),
                  *[F.col(f"b{i}").alias(f"c{i}") for i in range(4)])
    ham = sum(
        F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"c{i}")))
        for i in range(4)
    )
    # NO output ordering here: q205 sorts its pair report, q209
    # aggregates — a sort before an aggregation is wasted work (r8
    # review finding: it cost q209 two global sorts)
    return (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_ham)
    )


def q205_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash NEAR-DUPLICATE IMAGE detection — the multimodal
    member of the dedup family (q62's SimHash discipline applied to
    binary media): aHash each image asset through the Arrow kernel
    (operators/multimodal.ahash_bands — 8×8 grid sample of the
    content bytes, integer mean threshold, 4×16-bit bands), candidate
    pairs ONLY where a band collides (0.5% of all pairs here), exact
    Hamming rescore ``Σ bit_count(xor(band))`` ≤ {_AHASH_HAM} JVM-side.

    100 TB shape: content crosses into Python once (Arrow-batched,
    no Exchange ever carries it); everything after the kernel is a
    16-byte-per-asset table — band join, distinct, rescore all run on
    hashes. Candidate recall is the banding trade (guaranteed only at
    Hamming ≤ 3 by pigeonhole; LSH-approximate above), and the ORACLE
    replays the identical banding, so recall choices are
    hash-checked, not hidden. The in-plan char==byte assert (q195's
    pattern) guards the oracle's ascii-codepoint pixel recompute.
    """
    from ..operators.multimodal import ahash_bands, documents_as_assets

    h = ahash_bands(documents_as_assets(_image_docs(spark, sf_dir))).persist()
    h.count()  # materialize before the 4-way fan-out (q204's guard):
    # band-join sides + both rescore sides otherwise race the cold
    # cache and run the Python decode kernel up to 4x
    return _band_near_dup(h, _AHASH_HAM).orderBy("id_a", "id_b")


#: shared oracle prologue (q205/q209): image sample + grid pixels
_O_PX = """img AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n
  FROM documents WHERE doc_id % 3 = 0 AND octet_length(encode(text)) > 0
), px AS (
  SELECT doc_id, i,
         ascii(substr(text, CAST((i * n) // 64 AS BIGINT) + 1, 1)) AS p
  FROM img, LATERAL unnest(generate_series(0, 63)) AS u(i)
)"""

#: shared oracle tail (q205/q209): a ``bits`` CTE (doc_id, i, bit) →
#: 4×16-bit bands → band-collision candidates → exact Hamming ≤ {ham}
_O_BAND_TAIL = """, bands AS (
  SELECT doc_id, i // 16 AS k,
         CAST(SUM(bit << (15 - (i % 16))) AS INTEGER) AS v
  FROM bits GROUP BY 1, 2
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.k = b.k AND a.v = b.v AND a.doc_id < b.doc_id
), ham AS (
  SELECT c.id_a, c.id_b,
         CAST(SUM(CASE WHEN xa.bit <> xb.bit THEN 1 ELSE 0 END) AS INTEGER)
           AS hamming
  FROM cand c
  JOIN bits xa ON xa.doc_id = c.id_a
  JOIN bits xb ON xb.doc_id = c.id_b AND xb.i = xa.i
  GROUP BY 1, 2
)
SELECT id_a, id_b, hamming FROM ham
WHERE hamming <= {ham}
ORDER BY id_a, id_b
"""

O205 = f"""
WITH {_O_PX}, stats AS (
  SELECT doc_id, SUM(p) AS s FROM px GROUP BY 1
), bits AS (
  SELECT px.doc_id, i, CASE WHEN 64 * p >= s THEN 1 ELSE 0 END AS bit
  FROM px JOIN stats USING (doc_id)
){_O_BAND_TAIL.format(ham=_AHASH_HAM)}"""


_PHASH_HAM = 16  # pHash near-dup gate (same banding trade as q205)


def q209_dct_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DCT-based pHash image fingerprinting — q205 with the
    production-grade perceptual hash (the r7 verdict's ask #4): the
    Arrow kernel computes an 8×8 integer 2-D DCT of the grid pixels
    with the committed fixed-point cosine table
    (operators/multimodal.PHASH_T) and thresholds each coefficient
    against the exact MEDIAN of the 63 AC coefficients; the banding,
    candidate join, and Hamming rescore are the SAME shared
    scaffolding as q205 (``_band_near_dup``), and the oracle replays
    the identical integer DCT from the same table.

    Report = the per-asset HASH TABLE (all 4 bands — certifying every
    DCT bit against the oracle, the strongest check of the kernel)
    plus each asset's band-collision candidate count and
    near-dup-within-{_PHASH_HAM} count. The pair LIST is q205's
    already-certified report shape; here the corpus truth is that
    pHash — correctly — decorrelates the fake byte content q205's
    mean-threshold aHash still banded together (2 candidate pairs,
    none within the gate, vs q205's 35): reporting per-asset keeps
    the certified surface rich (one row per image) instead of
    hash-matching an empty set.

    100 TB shape: identical to q205 — content crosses Python once,
    everything after the kernel is 16 bytes/asset; the extra DCT cost
    is a per-asset 8×8×8 int multiply inside the already-amortized
    Arrow batch, invisible next to the decode."""
    from ..operators.multimodal import documents_as_assets, phash_bands

    h = phash_bands(documents_as_assets(_image_docs(spark, sf_dir))).persist()
    h.count()  # q205's materialization guard before the 4-way fan-out
    pairs = _band_near_dup(h, 64)  # all band-colliding candidates
    # ONE pass over the pair pipeline: explode each pair to both
    # endpoints instead of a self-union that would execute the whole
    # band join + rescore twice (r8 review finding)
    sym = pairs.select(
        F.explode(F.array("id_a", "id_b")).alias("asset_id"), "hamming"
    )
    stats = sym.groupBy("asset_id").agg(
        F.count("*").alias("n_cand"),
        F.sum(
            F.when(F.col("hamming") <= _PHASH_HAM, 1).otherwise(0)
        ).alias("n_near"),
    )
    return (
        h.join(stats, "asset_id", "left")
        .select(
            "asset_id", "b0", "b1", "b2", "b3",
            F.coalesce("n_cand", F.lit(0)).cast("long").alias("n_cand"),
            F.coalesce("n_near", F.lit(0)).cast("long").alias("n_near"),
        )
        .orderBy("asset_id")
    )


def _o_phash_tbl() -> str:
    from ..operators.multimodal import PHASH_T

    return ", ".join(
        f"({u}, {x}, {PHASH_T[u][x]})" for u in range(8) for x in range(8)
    )


O209 = f"""
WITH {_O_PX}, tbl AS (
  SELECT * FROM (VALUES {_o_phash_tbl()}) AS t(u, x, tv)
), co AS (
  SELECT px.doc_id, tu.u AS cu, tv2.u AS cv,
         CAST(SUM(CAST(p AS BIGINT) * tu.tv * tv2.tv) AS BIGINT) AS coef
  FROM px
  JOIN tbl tu ON tu.x = px.i // 8
  JOIN tbl tv2 ON tv2.x = px.i % 8
  GROUP BY 1, 2, 3
), med AS (
  SELECT doc_id, coef AS med FROM (
    SELECT doc_id, coef,
           ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY coef) AS rn
    FROM co WHERE NOT (cu = 0 AND cv = 0)
  ) WHERE rn = 32
), bits AS (
  SELECT co.doc_id, cu * 8 + cv AS i,
         CASE WHEN coef > med THEN 1 ELSE 0 END AS bit
  FROM co JOIN med USING (doc_id)
), bands AS (
  SELECT doc_id, i // 16 AS k,
         CAST(SUM(bit << (15 - (i % 16))) AS INTEGER) AS v
  FROM bits GROUP BY 1, 2
), bvec AS (
  SELECT doc_id,
         MAX(CASE WHEN k = 0 THEN v END) AS b0,
         MAX(CASE WHEN k = 1 THEN v END) AS b1,
         MAX(CASE WHEN k = 2 THEN v END) AS b2,
         MAX(CASE WHEN k = 3 THEN v END) AS b3
  FROM bands GROUP BY 1
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.k = b.k AND a.v = b.v AND a.doc_id < b.doc_id
), hamp AS (
  SELECT c.id_a, c.id_b,
         CAST(SUM(CASE WHEN xa.bit <> xb.bit THEN 1 ELSE 0 END) AS INTEGER)
           AS hamming
  FROM cand c
  JOIN bits xa ON xa.doc_id = c.id_a
  JOIN bits xb ON xb.doc_id = c.id_b AND xb.i = xa.i
  GROUP BY 1, 2
), sym AS (
  SELECT id_a AS doc_id, hamming FROM hamp
  UNION ALL SELECT id_b, hamming FROM hamp
), stats AS (
  SELECT doc_id, COUNT(*) AS n_cand,
         SUM(CASE WHEN hamming <= {_PHASH_HAM} THEN 1 ELSE 0 END) AS n_near
  FROM sym GROUP BY 1
)
SELECT b.doc_id AS asset_id, b0, b1, b2, b3,
       CAST(COALESCE(n_cand, 0) AS BIGINT) AS n_cand,
       CAST(COALESCE(n_near, 0) AS BIGINT) AS n_near
FROM bvec b LEFT JOIN stats USING (doc_id)
ORDER BY asset_id
"""



def _fs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared record-linkage input frame: documents + shingle set
    (jac field) + title-prefix bigram set (bg field) — one definition
    for q206/q207/q208 (set geometry lives in functions/linkage.py)."""
    return LK.with_bigram_set(
        _with_shingle_sets(t(spark, sf_dir, "documents"))
    ).select("doc_id", "lang", "source", "n_chars", "sh", "bg")


def _fs_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q128's sorted-neighborhood blocking over :func:`_fs_docs` with
    the FS comparator fields threaded through (one call site, so
    q206/q207/q208 cannot desynchronize on the field list)."""
    return _snm_neighbors(
        _fs_docs(spark, sf_dir), ("source", "n_chars", "bg")
    )


#: oracle-side docs CTE body for the FS family
_O_FS_DOCS = (
    f"SELECT doc_id, lang, source, n_chars, "
    f"list_distinct({{shingles}}) AS sh,\n"
    f"         {LK.BG_DUCK_EXPR} AS bg\n  FROM documents"
)
#: oracle-side neigh + flags prologue shared by O206/O207/O208
_O_FS_PROLOGUE = (
    "WITH docs AS (\n  {docs}\n), neigh AS ({neigh}), flags AS (\n"
    "  SELECT doc_a, doc_b, CAST(i AS BIGINT) AS w_dist,\n"
    "         {flag_select}\n"
    "  FROM neigh WHERE doc_b IS NOT NULL\n)"
)


def q206_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter PROBABILISTIC RECORD LINKAGE scoring — the
    decision layer classical entity resolution puts on top of q128's
    blocking: each sorted-neighborhood candidate pair is scored by a
    sum of per-field log-likelihood-ratio weights (agreement adds
    log2(m/u), disagreement adds log2((1-m)/(1-u)), in millibits) and
    classified link / possible / non_link against fixed thresholds —
    the 1969 JASA model that Splink/JedAI-style toolkits still run.

    The FOUR field comparisons (functions/linkage.py — r8 adds the
    title-prefix bigram-overlap comparator, the integer-exact
    Jaro-Winkler-class string test) stay INTEGER so both engines hash
    identically. The (m, u) behind the millibit weights here are
    documented constants — q207 TRAINS them and q208 classifies with
    the trained values; this query is the fixed-weight scoring
    algebra.

    Plan shape at 100 TB: inherits q128's — one exchange on the block
    key, one in-block sort, 3·n within-row comparisons (the neighbor's
    fields arrive via lead(), the pair never joins), and the scoring
    itself is per-row integer arithmetic inside codegen.
    """
    neigh = _fs_neighbors(spark, sf_dir)
    score_col = None
    for cond, f in zip(LK.fs_agreements(), LK.FS_FIELDS):
        agree, disagree = LK.FS_W[f]
        term = F.when(cond, F.lit(agree)).otherwise(F.lit(disagree))
        score_col = term if score_col is None else score_col + term
    verdict = (
        F.when(F.col("score") >= LK.FS_LINK, "link")
        .when(F.col("score") >= LK.FS_POSSIBLE, "possible")
        .otherwise("non_link")
    )
    return (
        neigh.select(
            "doc_a",
            "doc_b",
            F.col("w_dist").cast("long").alias("w_dist"),
            score_col.cast("long").alias("score"),
        )
        .withColumn("verdict", verdict)
        .orderBy("doc_a", "doc_b", "w_dist")
    )


_O_FS_SCORE = "\n         + ".join(
    f"(CASE WHEN {LK.FS_SQL_AGREE[f]}\n"
    f"                 THEN {LK.FS_W[f][0]} ELSE {LK.FS_W[f][1]} END)"
    for f in LK.FS_FIELDS
)

O206 = f"""
WITH docs AS (
  {_O_FS_DOCS.format(shingles=_DUCK_SHINGLES)}
), neigh AS ({_o_snm_neighbors(("source", "n_chars", "bg"))}), scored AS (
  SELECT doc_a, doc_b, CAST(i AS BIGINT) AS w_dist,
         CAST(
           {_O_FS_SCORE}
         AS BIGINT) AS score
  FROM neigh WHERE doc_b IS NOT NULL
)
SELECT doc_a, doc_b, w_dist, score,
       CASE WHEN score >= {LK.FS_LINK} THEN 'link'
            WHEN score >= {LK.FS_POSSIBLE} THEN 'possible'
            ELSE 'non_link' END AS verdict
FROM scored ORDER BY doc_a, doc_b, w_dist
"""



_FS_PARAM_COLS = LK.fs_param_cols()
_FS_G_COLS = LK.fs_census_flag_cols()


def _fs_census(neigh: DataFrame) -> DataFrame:
    """Agreement-pattern census of the SNM candidate pairs: ≤2^4
    (g1..g4, c) rows — the ONLY data-sized reduction the whole EM
    family performs (flags are explicit 0/1 via CASE, so NULL
    comparisons fold into the 0 pattern exactly like the oracle —
    ADVICE r7)."""
    return (
        neigh.select(*LK.fs_flag_cols())
        .groupBy(*_FS_G_COLS)
        .agg(F.count("*").alias("c"))
    )


def q207_fs_em_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EM TRAINING of the Fellegi-Sunter (m, u) parameters — the loop
    q206's docstring declares out of its scope, unrolled to 2 rounds
    the way q199 unrolls BPE merges: the engine's recipe for iterative
    ML-ish algorithms whose per-round state is tiny.

    Winkler's unsupervised EM for record linkage: over the agreement
    PATTERNS of the q206 candidate pairs (4 binary field tests ⇒ at
    most 16 distinct patterns), E-step computes each pattern's match
    responsibility w = p·Πm / (p·Πm + (1−p)·Πu), M-step re-estimates
    p, m_k, u_k as responsibility-weighted agreement rates. ALL
    arithmetic is exact-integer ppm (10^6-scaled) with floor `div` —
    a prior times four ppm terms stays under DECIMAL(38,0) / HUGEINT
    (1e30, ×1e6 = 1e36) and divides identically in both engines — so
    the trained parameters are oracle-EXACT, not approximately equal.
    Algebra + oracle generators live in functions/linkage.py (shared
    with q208).

    100 TB shape: the data-sized work is ONE candidate census down to
    ≤16 (pattern, count) rows (inheriting q206/q128's single-exchange
    blocking via the shared ``_snm_neighbors``); both EM rounds run
    entirely on that table cross-joined with a broadcast 1-row
    parameter frame — iteration cost is independent of corpus size.
    Report: (round, p_ppm, m/u per field) for init + 2 rounds.
    """
    # one data-sized pass total: fs_em_report materializes this ≤16-row
    # census driver-side (r12), so no persist and no re-scan — the EM
    # recursion and report union run over LocalRelations
    census = _fs_census(_fs_neighbors(spark, sf_dir))
    return LK.fs_em_report(spark, census, rounds=2)


_O_FS_COMMON = _O_FS_PROLOGUE.format(
    docs=_O_FS_DOCS.format(shingles=_DUCK_SHINGLES),
    neigh=_o_snm_neighbors(("source", "n_chars", "bg")),
    flag_select=LK.fs_sql_flag_select(),
) + f""", census AS (
  SELECT g1, g2, g3, g4, COUNT(*) AS c FROM flags GROUP BY 1, 2, 3, 4
), {LK.o_fs_em_ctes(rounds=2)}"""

_O_FS_PCOLS = ", ".join(_FS_PARAM_COLS)

O207 = f"""{_O_FS_COMMON}
SELECT * FROM (
  SELECT 0 AS round, {", ".join(f"CAST({c} AS BIGINT) AS {c}" for c in _FS_PARAM_COLS)} FROM p0
  UNION ALL SELECT 1, {_O_FS_PCOLS} FROM p1
  UNION ALL SELECT 2, {_O_FS_PCOLS} FROM p2
) ORDER BY round
"""


def q208_fs_trained_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end TRAINED record linkage — Splink's actual loop as
    one query: block (shared ``_snm_neighbors``) → train (q207's two
    exact-ppm EM rounds) → classify every candidate pair by its
    agreement pattern's POSTERIOR match probability against ppm
    thresholds (link ≥ 0.9, possible ≥ 0.1). This closes the r7
    verdict's gap: q206 scores with documented constants, q207 trains
    — q208 composes training INTO classification.

    Log-free by design: the posterior w = p·Πm·10^6 div (p·Πm +
    (1−p)·Πu) is the SAME exact-integer E-step algebra as training
    (functions/linkage.fs_posterior_ppm_py), so the whole composition
    stays oracle-EXACT — millibit log-weights would need log2, which
    is not bit-portable across engines (the q186 lesson).

    100 TB shape: one exchange for the blocking, one ≤16-row census,
    EM on census × broadcast params (corpus-independent), then the
    classification is a BROADCAST join of the ≤16-row posterior table
    back onto the pair stream — per-pair work is a hash probe, no
    second data-sized shuffle. The pair stream itself is persisted
    inside ``fs_classify`` (r12): the census collect materializes the
    narrow flags frame once and the classification re-reads the cache
    instead of re-running the scan → shingle → SNM pipeline.
    """
    return _fs_trained_classified(spark, sf_dir, ordered=True)


def _fs_trained_classified(
    spark: SparkSession, sf_dir: str, *, ordered: bool
) -> DataFrame:
    """q208's classified pair table, with or without its report ORDER
    BY — the er tier (q214/q215) consumes it unordered because its
    filter → components → aggregate tail never reads the order, while
    the sort is a global pairs-grain range exchange replayed once per
    plan reference (r13, guide §2.4 'an orderBy used only to make
    output deterministic')."""
    neigh = _fs_neighbors(spark, sf_dir)
    flags = neigh.select(
        "doc_a",
        "doc_b",
        F.col("w_dist").cast("long").alias("w_dist"),
        *LK.fs_flag_cols(),
    )
    # census -> EM -> posterior -> broadcast classification lives in
    # functions/linkage.fs_classify (census materialized driver-side,
    # ≤16 rows: nothing data-sized is ever persisted — ADVICE r8)
    return LK.fs_classify(spark, flags, ordered=ordered)


O208 = f"""{_O_FS_COMMON}, wf AS (
  SELECT g1, g2, g3, g4, CAST({LK.o_fs_posterior("p2")} AS BIGINT) AS w_ppm
  FROM census CROSS JOIN p2
)
SELECT f.doc_a, f.doc_b, f.w_dist, w.w_ppm,
       CASE WHEN w.w_ppm >= {LK.LINK_PPM} THEN 'link'
            WHEN w.w_ppm >= {LK.POSSIBLE_PPM} THEN 'possible'
            ELSE 'non_link' END AS verdict
FROM flags f JOIN wf w USING (g1, g2, g3, g4)
ORDER BY f.doc_a, f.doc_b, f.w_dist
"""


_JW_TITLE = 16  # chars of text the name-field comparator reads


def q211_jaro_winkler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaro-Winkler NAME-FIELD similarity over the q128 sorted-
    neighborhood candidate pairs — the classic sequential string
    comparator (greedy windowed matching + transposition count +
    prefix boost) expressed FULLY DECLARATIVELY: a within-row
    ``aggregate()`` fold with a bitmask of used positions
    (functions/strsim.py), no UDF, no Python, no extra shuffle — the
    comparator evaluates JVM-side (interpreted HOF mode; see the
    strsim module notes) on the same single-exchange SNM stream as
    q206/q208. The DuckDB oracle replays the identical greedy
    recurrence as a recursive CTE, and every score is an exact ppm
    integer (one floor division over the common denominator), so the
    report is hash-exact. Also pinned against an independent Python
    Jaro-Winkler on crafted + corpus pairs (tests/test_strsim.py).

    Report: (doc_a, doc_b, w_dist, jaro_ppm, jw_ppm) per candidate
    pair, titles = the {_JW_TITLE}-char text prefix (the "name
    field"), NULL-text docs excluded identically in both engines.
    """
    from ..functions.strsim import with_jaro_winkler

    d = (
        t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .withColumn("title", F.expr(f"substring(text, 1, {_JW_TITLE})"))
        # no shingle sets: pair generation orders by (lang, n_chars,
        # doc_id) only, and this query scores titles — building and
        # leading the shingle arrays through the exchange was pure
        # dead weight (r8 review finding)
        .select("doc_id", "lang", "n_chars", "title")
    )
    neigh = _snm_neighbors(d, ("title",), include_sh=False)
    # the fold is CPU-bound and would otherwise run on the window
    # exchange's LANG partitions (5 tasks on a 32-core box — measured
    # 2x the wall-clock at 20x): rebalance the tiny pair rows across
    # every core before scoring. The _spread lesson applied to an
    # operator stage instead of a scan.
    neigh = neigh.repartition(
        spark.sparkContext.defaultParallelism, "doc_a", "doc_b", "w_dist"
    )
    return (
        with_jaro_winkler(neigh, "title_a", "title_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("w_dist").cast("long").alias("w_dist"),
            "jw_jaro_ppm",
            "jw_ppm",
        )
        .withColumnRenamed("jw_jaro_ppm", "jaro_ppm")
        .orderBy("doc_a", "doc_b", "w_dist")
    )


def _o211() -> str:
    from ..functions.strsim import o_jaro_winkler_ctes  # noqa: PLC0415

    return f"""
WITH RECURSIVE docs AS (
  SELECT doc_id, lang, n_chars,
         substr(text, 1, {_JW_TITLE}) AS title
  FROM documents WHERE text IS NOT NULL
), neigh AS ({_o_snm_neighbors(("title",), include_sh=False)}), pairs AS (
  SELECT doc_a, doc_b, CAST(i AS BIGINT) AS w_dist,
         title_a AS ta, title_b AS tb
  FROM neigh WHERE doc_b IS NOT NULL
), {o_jaro_winkler_ctes("pairs")}
SELECT doc_a, doc_b, w_dist, jaro_ppm, jw_ppm
FROM jwscore ORDER BY doc_a, doc_b, w_dist
"""


O211 = _o211()


_LLOYD_K = 8
_LLOYD_DIM = 64
_LLOYD_ROUNDS = 2

#: deterministic md5 stratification for seed picking: first hex char
#: of md5(vec_id) -> 0..15 -> mod K. String-only (no hex->int cast),
#: so the expression is literally portable to the DuckDB oracle.
_LLOYD_STRATUM = (
    "(instr('0123456789abcdef', "
    "substring(md5(cast(vec_id as string)), 1, 1)) - 1) % {k}"
)
_O_LLOYD_STRATUM = (
    "(strpos('0123456789abcdef', "
    "substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)) - 1) % {k}"
)


def _lloyd_coded(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "embeddings").select(
        "vec_id", _quant(F.col("embedding")).alias("qe")
    )


def _lloyd_assign(coded: DataFrame, cents: list[tuple[int, list[int]]]) -> DataFrame:
    """Assignment against LITERAL centroids, fully unrolled: for each
    centroid the exact-integer score 2·⟨x,c⟩ − ⟨c,c⟩ (the Euclidean
    argmin with the ‖x‖² term dropped — constant per vector, so the
    argmax is identical) as its own column, then an explicit
    first-match CASE so ties go to the LOWEST centroid id. K scores
    per row, zero joins, zero windows — at 100 TB the assignment is
    ONE narrow scan; nothing shuffles until the k×64-row update agg.
    ⟨c,c⟩ is folded to a Python constant (centroids are literals)."""
    s_cols = {}
    for cid, dims in cents:
        cc = sum(v * v for v in dims)
        dot = F.aggregate(
            F.zip_with(F.col("qe"), F.lit(dims), lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        s_cols[f"_s{cid}"] = (F.lit(2).cast("long") * dot - F.lit(cc)).cast("long")
    out = coded.withColumns(s_cols)
    best = F.greatest(*[F.col(c) for c in s_cols])
    expr = None
    for cid, _ in sorted(cents):
        cond = F.col(f"_s{cid}") == best
        expr = F.when(cond, cid) if expr is None else expr.when(cond, cid)
    return out.withColumn("cid", expr.cast("int")).select("vec_id", "qe", "cid")


def _lloyd_update_plan(assigned: DataFrame) -> DataFrame:
    """Per-(centroid, dim) integer sums + member counts — the ONLY
    exchange of a Lloyd round, partial-aggregated map-side down to
    K·64 rows."""
    return (
        assigned.select("cid", F.posexplode("qe").alias("pos", "v"))
        .groupBy("cid", "pos")
        .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
    )


def _lloyd_update_arrow(
    coded: DataFrame, cents: list[tuple[int, list[int]]]
) -> DataFrame:
    """The whole Lloyd round (assignment + update census) as ONE
    Arrow kernel — the r12 definition behind q212
    (``_lloyd_assign`` → ``_lloyd_update_plan`` stays as the
    expression-level reference the kernel is pinned against in
    tests/test_lloyd.py).

    Why (guide §1.2/§4.2, measured r12): the unrolled JVM assignment
    builds K zip_with+aggregate lambda trees over 64-element arrays —
    at sf0.1 (2,000 vectors!) each Lloyd action spent ~2-3 s in
    Catalyst + codegen of that expression forest and re-compiled it
    per round (the literals change every round), then posexploded
    64× before the partial agg. Per-batch NumPy does the same exact
    integer math as one (N×64)·(64×K) product and emits the
    per-task (cid, pos, s, n) PARTIALS directly — K·64 rows per
    task, no 64× explode, a trivial plan to compile. At 100 TB the
    kernel is the textbook layout: one narrow scan, GEMM per batch,
    only K·64·tasks partial rows ever shuffle.

    Exactness: scores are int64 (|2·⟨x,c⟩ − ⟨c,c⟩| ≤ 2·64·127² ≈
    2.1e6 — no overflow, no floats); ``np.argmax`` returns the FIRST
    maximal index and the centroid matrix rows are sorted by cid, so
    ties break to the LOWEST centroid id exactly like the unrolled
    first-match CASE; per-task sums are int64 partials reduced by
    the same commutative sum agg (empty clusters emit no partial,
    matching the explode→groupBy shape). The downstream reducer is
    unchanged."""
    import numpy as np

    ordered = sorted(cents)
    cmat = np.array([d for _, d in ordered], dtype=np.int64)
    cid_arr = np.array([cid for cid, _ in ordered], dtype=np.int64)
    cc = (cmat * cmat).sum(axis=1)
    k, dim = cmat.shape

    def upd(batches):
        import numpy as np
        import pyarrow as pa

        sums = np.zeros((k, dim), dtype=np.int64)
        counts = np.zeros(k, dtype=np.int64)
        for b in batches:
            col = b.column(0)
            n = len(col)
            if not n:
                continue
            x = (
                col.flatten()
                .to_numpy(zero_copy_only=False)
                .reshape(n, dim)
                .astype(np.int64, copy=False)
            )
            scores = 2 * (x @ cmat.T) - cc
            assign = scores.argmax(axis=1)
            counts += np.bincount(assign, minlength=k)
            for j in range(k):
                m = assign == j
                if m.any():
                    sums[j] += x[m].sum(axis=0)
        nz = counts > 0
        if nz.any():
            kept = int(nz.sum())
            yield pa.record_batch(
                [
                    pa.array(
                        np.repeat(cid_arr[nz], dim).astype(np.int32),
                        type=pa.int32(),
                    ),
                    pa.array(
                        np.tile(np.arange(dim, dtype=np.int32), kept),
                        type=pa.int32(),
                    ),
                    pa.array(sums[nz].reshape(-1), type=pa.int64()),
                    pa.array(np.repeat(counts[nz], dim), type=pa.int64()),
                ],
                names=["cid", "pos", "s", "n"],
            )

    return (
        coded.select("qe")
        .mapInArrow(upd, "cid int, pos int, s long, n long")
        .groupBy("cid", "pos")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
    )


def _lloyd_new_dims(
    upd_rows, prev: list[tuple[int, list[int]]]
) -> tuple[list[tuple[int, list[int]]], dict[int, int]]:
    """Floor-mean centroid update from collected exact sums. The mean
    is ((s + 127·n) div n) − 127: shifting by the code floor makes the
    numerator non-negative, where floor-division and truncating
    division coincide — so Spark ``div``, DuckDB ``//`` (both
    truncate) and Python ``//`` (floors) all produce the same value
    without a per-engine convention note. Empty cluster keeps its
    previous centroid (the standard Lloyd convention), n_members 0."""
    by: dict[tuple[int, int], tuple[int, int]] = {
        (r["cid"], r["pos"]): (r["s"], r["n"]) for r in upd_rows
    }
    new, members = [], {}
    for cid, dims in sorted(prev):
        if (cid, 0) in by:
            n = by[(cid, 0)][1]
            nd = [(by[(cid, p)][0] + 127 * n) // n - 127 for p in range(_LLOYD_DIM)]
        else:
            n, nd = 0, list(dims)
        new.append((cid, nd))
        members[cid] = n
    return new, members


_LLOYD_STATS_SCHEMA = (
    "round long, centroid_id long, n_members long, c_sum long, "
    "c_sq long, l1_move long"
)


def _lloyd_stats_row(rnd, cid, n, dims, prev_dims):
    return (
        rnd,
        cid,
        n,
        sum(dims),
        sum(v * v for v in dims),
        sum(abs(a - b) for a, b in zip(dims, prev_dims)),
    )


def q212_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means TRAINING — 2 unrolled Lloyd rounds over
    the int8-quantized embeddings in EXACT integer arithmetic, so the
    whole training loop (not just one assignment step — that is q93)
    is oracle-checkable. This brings the last trained component under
    the oracle: operators/ann.py's ``fit_centroids`` (reference
    parity: cortega26/polla has no vector ops; this family is the
    LLM-data extension) is pinned only by recall, while q212's rounds
    are replayed value-exactly by DuckDB AND by an independent Python
    Lloyd (tests/test_lloyd.py) — the q199/q207 unrolled-loop recipe.

    Determinism, documented in both engines:

    - seeds: vector of the MIN vec_id in each of K=8 md5
      strata (first hex char of md5(vec_id) mod K) — spread-out,
      data-independent, no RNG;
    - assignment: argmax of 2·⟨x,c⟩ − ⟨c,c⟩ (exact-integer Euclidean
      argmin), ties to the lowest centroid id;
    - update: per-dim floor mean via the non-negative shift
      ((s + 127·n) div n) − 127 (identical in Spark/DuckDB/Python —
      see :func:`_lloyd_new_dims`); empty clusters keep their
      previous centroid.

    Unrolling mechanics: each round's centroids are COLLECTED (K·64
    longs, the q208 driver-side-materialization discipline — nothing
    data-sized is ever persisted) and embedded as literals into the
    next round's assignment, so round r+1's plan is again a single
    narrow scan. Rounds 0..1 stats are emitted as literal rows
    (their sums were engine-computed by the collect jobs); the FINAL
    round stays a fully lazy plan — scan → unrolled assignment →
    k×64 partial agg → join vs the literal previous dims — so the
    driver's materialization performs a real Lloyd round.

    100 TB shape per round: one corpus scan (int8 codes, 25 TB), the
    assignment + update census fused into one Arrow/NumPy GEMM kernel
    (``_lloyd_update_arrow``, r12 — exact int64, ties to lowest cid),
    ONE exchange of K·64·tasks partial rows. Iteration count is
    unrolled and fixed;
    centroid state is O(K·D) on the driver — the textbook scalable
    k-means layout.

    Report: (round, centroid_id, n_members, c_sum, c_sq, l1_move) for
    round 0 (seeds; n_members/l1_move 0) through the final round.
    """
    coded = _lloyd_coded(spark, sf_dir)
    strat = coded.withColumn(
        "stratum", F.expr(_LLOYD_STRATUM.format(k=_LLOYD_K))
    )
    seed_rows = (
        strat.groupBy("stratum")
        .agg(F.min_by("qe", "vec_id").alias("qe"))
        .collect()
    )
    cents = sorted((r["stratum"], list(r["qe"])) for r in seed_rows)
    stats = [_lloyd_stats_row(0, cid, 0, d, d) for cid, d in cents]
    for rnd in range(1, _LLOYD_ROUNDS):  # all but the last round
        upd_rows = _lloyd_update_arrow(coded, cents).collect()
        new, members = _lloyd_new_dims(upd_rows, cents)
        stats.extend(
            _lloyd_stats_row(rnd, cid, members[cid], nd, pd)
            for (cid, nd), (_, pd) in zip(new, cents)
        )
        cents = new
    lit_stats = spark.createDataFrame(stats, _LLOYD_STATS_SCHEMA)
    # final round: fully lazy (real work at driver materialization)
    prev = spark.createDataFrame(
        [(cid, pos, d[pos]) for cid, d in cents for pos in range(_LLOYD_DIM)],
        "cid int, pos int, pv long",
    )
    upd = _lloyd_update_arrow(coded, cents)
    newdim = F.when(F.col("n").isNull(), F.col("pv")).otherwise(
        F.expr("(s + 127 * n) div n - 127")
    )
    last = (
        # broadcast the K·64-row agg output (the RIGHT side — the
        # preserved side of a left join cannot be broadcast)
        prev.join(F.broadcast(upd), ["cid", "pos"], "left")
        .select("cid", "pv", F.coalesce("n", F.lit(0)).alias("n"), newdim.alias("nd"))
        .groupBy("cid")
        .agg(
            F.max("n").alias("n_members"),
            F.sum("nd").alias("c_sum"),
            F.sum(F.col("nd") * F.col("nd")).alias("c_sq"),
            F.sum(F.abs(F.col("nd") - F.col("pv"))).alias("l1_move"),
        )
        .select(
            F.lit(_LLOYD_ROUNDS).cast("long").alias("round"),
            F.col("cid").cast("long").alias("centroid_id"),
            F.col("n_members").cast("long"),
            F.col("c_sum").cast("long"),
            F.col("c_sq").cast("long"),
            F.col("l1_move").cast("long"),
        )
    )
    return lit_stats.unionByName(last).orderBy("round", "centroid_id")


def _o_lloyd_round(r: int, prev_cents: str, prev_dims: str) -> str:
    """One oracle Lloyd round: assignment (cross join + window argmax
    — same math as the Spark side's unrolled CASE), k×64 update sums,
    floor-mean dims with the empty-cluster keep rule."""
    qd_vc = _QDOT_DUCK.format(a="v.qe", b="c.qe")
    qd_cc = _QDOT_DUCK.format(a="c.qe", b="c.qe")
    return f"""a{r} AS (
  SELECT v.vec_id, v.qe, c.cid,
         2 * {qd_vc} - {qd_cc} AS score
  FROM coded v CROSS JOIN {prev_cents} c
), b{r} AS (
  SELECT vec_id, qe, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
              ORDER BY score DESC, cid ASC) AS rn FROM a{r}
  ) WHERE rn = 1
), u{r} AS (
  SELECT b.cid, g.i AS pos, SUM(b.qe[g.i]) AS s, COUNT(*) AS n
  FROM b{r} b CROSS JOIN generate_series(1, {_LLOYD_DIM}) g(i)
  GROUP BY 1, 2
), d{r} AS (
  SELECT p.cid, p.pos,
         CASE WHEN u.n IS NULL THEN p.pv
              ELSE (u.s + 127 * u.n) // u.n - 127 END AS pv,
         COALESCE(u.n, 0) AS n, p.pv AS prev
  FROM {prev_dims} p LEFT JOIN u{r} u ON p.cid = u.cid AND p.pos = u.pos
), c{r} AS (
  SELECT cid, list(pv ORDER BY pos) AS qe FROM d{r} GROUP BY cid
), s{r} AS (
  SELECT CAST({r} AS BIGINT) AS round, CAST(cid AS BIGINT) AS centroid_id,
         CAST(MAX(n) AS BIGINT) AS n_members, CAST(SUM(pv) AS BIGINT) AS c_sum,
         CAST(SUM(pv * pv) AS BIGINT) AS c_sq,
         CAST(SUM(ABS(pv - prev)) AS BIGINT) AS l1_move
  FROM d{r} GROUP BY cid
)"""


def _o212() -> str:
    rounds = ", ".join(
        _o_lloyd_round(r, f"c{r - 1}" if r > 1 else "seeds",
                       f"d{r - 1}" if r > 1 else "sd")
        for r in range(1, _LLOYD_ROUNDS + 1)
    )
    unions = "\n  UNION ALL ".join(
        f"SELECT * FROM s{r}" for r in range(1, _LLOYD_ROUNDS + 1)
    )
    return f"""
WITH coded AS (
  SELECT vec_id, {_QUANT_DUCK.format(c='embedding')} AS qe FROM embeddings
), strat AS (
  SELECT vec_id, qe, {_O_LLOYD_STRATUM.format(k=_LLOYD_K)} AS cid FROM coded
), seeds AS (
  SELECT s.cid, c.qe
  FROM (SELECT cid, MIN(vec_id) AS mv FROM strat GROUP BY cid) s
  JOIN strat c ON c.vec_id = s.mv
), sd AS (
  SELECT cid, g.i AS pos, qe[g.i] AS pv
  FROM seeds CROSS JOIN generate_series(1, {_LLOYD_DIM}) g(i)
), {rounds}
SELECT CAST(0 AS BIGINT) AS round, CAST(cid AS BIGINT) AS centroid_id,
       CAST(0 AS BIGINT) AS n_members, CAST(SUM(pv) AS BIGINT) AS c_sum,
       CAST(SUM(pv * pv) AS BIGINT) AS c_sq, CAST(0 AS BIGINT) AS l1_move
FROM sd GROUP BY cid
UNION ALL {unions}
ORDER BY round, centroid_id
"""


O212 = _o212()


#: absolute-discount constant D = 0.75 (the classic Ney/Essen/Kneser
#: value) as a ppm integer — the ONLY model constant in q213
_AD_DPPM = 750_000


def q213_smoothed_lm_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMOOTHED-LM quality filter — q182's CCNet recipe upgraded from
    unsmoothed ML to **interpolated absolute discounting** (the
    Ney-Essen-Kneser family KenLM implements), entirely in exact ppm
    rational arithmetic so both engines and the independent Python
    scorer (tests/test_smoothed_lm.py) agree bit-for-bit. q182 keeps
    unseen-trigram mass visible as a hit-rate column; q213 REDISTRIBUTES
    it the production way: every observed count is discounted by
    D = 0.75 and the freed mass interpolates the next-lower order.

    Model (reference slice = docs with doc_id % 10 == 0, ≥3 tokens):

    - p1(w)        = (10^6·c1(w)) div N                (ML unigram, ppm)
    - p2(a,b)      = (max(10^6·c23 − D, 0)
                      + (D·N1+(a·)·p1(b)) div 10^6) div c12(a)
    - p3(a,b,c)    = (max(10^6·c123 − D, 0)
                      + (D·N1+(ab·)·p2(b,c)) div 10^6) div c12t(a,b)
    - back-off when the CONTEXT is unseen: p3 → p2 → p1 (the unseen-
      context row has no discounted mass to interpolate).

    where c23/c123 are bigram/trigram stream counts, c12/c12t the
    context totals, and N1+(·) the DISTINCT-continuation censuses —
    the "continuation counts" are plain integer group-by-countDistinct
    tables, which is what makes the smoothing oracle-expressible.
    D enters only as the integer {_AD_DPPM}; each level floor-divides
    ONCE, so the quantization order is part of the spec (documented
    here, replayed identically in SQL and Python). All intermediates
    fit BIGINT up to vocab ~10^6 distinct continuations (D·N1+·p ≤
    7.5e5·10^6·10^6); a web-scale vocabulary would move the two
    products to DECIMAL(38,0).

    Plan shape at 100 TB: the five LM censuses are built from the
    ~10% reference slice (vocab-bounded after partial agg) and
    BROADCAST onto the corpus trigram stream — the corpus explodes
    once and never shuffles; the report is one doc-grain agg +
    TakeOrdered(20). Same skeleton as q182, one extra census tier.
    """
    d = (
        t(spark, sf_dir, "documents")
        .withColumn("_toks", _toks())
        .filter(F.size("_toks") >= 3)
    )
    ref = d.filter(F.col("doc_id") % 10 == 0)

    def tri(df: DataFrame) -> DataFrame:
        return df.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(_toks) - 3), i -> "
                    "struct(_toks[i] AS w1, _toks[i+1] AS w2, _toks[i+2] AS w3))"
                )
            ).alias("g"),
        ).select("doc_id", "g.*")

    big = ref.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(_toks) - 2), i -> "
                "struct(_toks[i] AS a, _toks[i+1] AS b))"
            )
        ).alias("g")
    ).select("g.*")
    uni = ref.select(F.explode("_toks").alias("w"))

    # r12: N is Σ size(_toks) over the slice — a NARROW length-only
    # pass (the q90 totals identity), not a second unigram explode
    n_total = ref.agg(F.sum(F.size("_toks").cast("long")).alias("n"))
    t1 = (
        uni.groupBy("w")
        .agg(F.count("*").alias("c1"))
        .crossJoin(F.broadcast(n_total))
        .select(F.col("w").alias("u_w"), F.expr("(1000000 * c1) div n").alias("p1"))
    )
    # the context censuses are exact derivatives of the n-gram
    # censuses (c12 = Σc23, n1p2 = COUNT over t2 grouped by a; same
    # for c12t/n1p3 from t3) — aggregate the vocab-bounded census,
    # never re-explode the reference slice (r9 review finding).
    # t2/t3 are each referenced twice (context derivative + broadcast
    # into the scored stream) and NOT persisted by default: a paired
    # r12 A/B measured the persist form consistently ~0.5-1.0 s slower
    # at sf0.1 (the materialization barrier beats the duplicate
    # ref-slice explode, which pipelines concurrently — the q87
    # finding); the duplicates are slice-sized, not corpus-sized
    # (numbers in SCALE.md)
    t2 = big.groupBy("a", "b").agg(F.count("*").alias("c23"))
    t3 = tri(ref).groupBy("w1", "w2", "w3").agg(F.count("*").alias("c123"))
    c2 = t2.groupBy("a").agg(
        F.sum("c23").alias("c12"), F.count("*").alias("n1p2")
    )
    c3 = t3.groupBy("w1", "w2").agg(
        F.sum("c123").alias("c12t"), F.count("*").alias("n1p3")
    )

    scored = (
        tri(d.filter(F.col("doc_id") % 10 != 0))
        .join(F.broadcast(t3), ["w1", "w2", "w3"], "left")
        .join(F.broadcast(c3), ["w1", "w2"], "left")
        .join(
            F.broadcast(t2),
            (F.col("w2") == F.col("a")) & (F.col("w3") == F.col("b")),
            "left",
        )
        .drop("a", "b")
        .join(F.broadcast(c2), F.col("w2") == F.col("a"), "left")
        .drop("a", "b")
        .join(F.broadcast(t1), F.col("w3") == F.col("u_w"), "left")
        .withColumn("p1v", F.coalesce("p1", F.lit(0)))
        .withColumn(
            "p2v",
            F.expr(f"""
              case when c12 is null then p1v
                   else (greatest(1000000 * coalesce(c23, 0) - {_AD_DPPM}, 0)
                         + ({_AD_DPPM} * n1p2 * p1v) div 1000000) div c12
              end"""),
        )
        .withColumn(
            "p3v",
            F.expr(f"""
              case when c12t is null then p2v
                   else (greatest(1000000 * coalesce(c123, 0) - {_AD_DPPM}, 0)
                         + ({_AD_DPPM} * n1p3 * p2v) div 1000000) div c12t
              end"""),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tri"),
            F.count("c12t").alias("n_ctx3"),
            F.sum("p3v").cast("long").alias("sum_p_ppm"),
        )
        .withColumn("avg_p_ppm", F.expr("sum_p_ppm div n_tri"))
        .orderBy("avg_p_ppm", "doc_id")
        .limit(20)
    )


O213 = f"""
WITH toks AS (
  SELECT doc_id, {TOKS} AS tk FROM documents WHERE len({TOKS}) >= 3
), tri AS (
  SELECT doc_id, tk[g.i] AS w1, tk[g.i + 1] AS w2, tk[g.i + 2] AS w3
  FROM toks, LATERAL unnest(generate_series(1, len(tk) - 2)) AS g(i)
), big AS (
  SELECT tk[g.i] AS a, tk[g.i + 1] AS b
  FROM toks, LATERAL unnest(generate_series(1, len(tk) - 1)) AS g(i)
  WHERE doc_id % 10 = 0
), uni AS (
  SELECT u.w FROM toks, LATERAL unnest(tk) AS u(w) WHERE doc_id % 10 = 0
), t1 AS (
  SELECT w AS u_w,
         (1000000 * COUNT(*)) // (SELECT COUNT(*) FROM uni) AS p1
  FROM uni GROUP BY w
), t2 AS (
  SELECT a, b, COUNT(*) AS c23 FROM big GROUP BY 1, 2
), c2 AS (
  SELECT a, SUM(c23) AS c12, COUNT(*) AS n1p2 FROM t2 GROUP BY 1
), t3 AS (
  SELECT w1, w2, w3, COUNT(*) AS c123 FROM tri WHERE doc_id % 10 = 0
  GROUP BY 1, 2, 3
), c3 AS (
  SELECT w1, w2, SUM(c123) AS c12t, COUNT(*) AS n1p3 FROM t3 GROUP BY 1, 2
), sc AS (
  SELECT t.doc_id, c3.c12t,
         CASE WHEN c3.c12t IS NULL THEN p2v.v
              ELSE (GREATEST(1000000 * COALESCE(t3.c123, 0) - {_AD_DPPM}, 0)
                    + ({_AD_DPPM} * c3.n1p3 * p2v.v) // 1000000) // c3.c12t
         END AS p3v
  FROM tri t
  LEFT JOIN t3 ON t.w1 = t3.w1 AND t.w2 = t3.w2 AND t.w3 = t3.w3
  LEFT JOIN c3 ON t.w1 = c3.w1 AND t.w2 = c3.w2
  LEFT JOIN t2 ON t.w2 = t2.a AND t.w3 = t2.b
  LEFT JOIN c2 ON t.w2 = c2.a
  LEFT JOIN t1 ON t.w3 = t1.u_w,
  LATERAL (SELECT COALESCE(t1.p1, 0) AS v) p1v,
  LATERAL (SELECT CASE WHEN c2.c12 IS NULL THEN p1v.v
           ELSE (GREATEST(1000000 * COALESCE(t2.c23, 0) - {_AD_DPPM}, 0)
                 + ({_AD_DPPM} * c2.n1p2 * p1v.v) // 1000000) // c2.c12
           END AS v) p2v
  WHERE t.doc_id % 10 <> 0
)
SELECT doc_id, COUNT(*) AS n_tri, COUNT(c12t) AS n_ctx3,
       CAST(SUM(p3v) AS BIGINT) AS sum_p_ppm,
       CAST(SUM(p3v) // COUNT(*) AS BIGINT) AS avg_p_ppm
FROM sc GROUP BY doc_id ORDER BY avg_p_ppm, doc_id LIMIT 20
"""


def q214_er_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution ENDGAME — the step after q208 that Splink
    calls clustering pairwise predictions: transitive closure of the
    trained classifier's ``link`` verdicts into ENTITIES (connected
    components over the link graph), reported as the merge census a
    golden-record pass would execute. Composes the whole trained-ER
    stack end-to-end: block (q128's SNM) → EM-train (q207) →
    posterior-classify (q208) → cluster (q204's component operator)
    → canonical entity id = component-min doc_id.

    Only ``link`` pairs form edges (``possible`` goes to clerical
    review in the Fellegi-Sunter decision model, not to auto-merge).
    Each SNM pair is unique by construction (one window distance per
    ordered position pair), so the edge list needs no dedup.

    Report per entity: (entity = min member doc_id, size, n_merged =
    size − 1, sum_members as an exact membership checksum). Singleton
    docs never enter the graph — an entity is by definition ≥ 2
    records.

    100 TB shape: q208's cost argument carries (one SNM exchange +
    broadcast posterior probe); the link graph is SPARSE (near-dup
    pairs only), so the component pass is the same
    ``operators/graph.connected_components`` scale path q204 uses —
    local union-find under the threshold, distributed label
    propagation above it. The verdicts→entities assembly lives in
    ``functions/linkage.er_entities``.
    """
    return LK.er_entities(
        _fs_trained_classified(spark, sf_dir, ordered=False)
    )


O214 = _O_FS_COMMON.replace("WITH docs AS", "WITH RECURSIVE docs AS", 1) + f""", wf AS (
  SELECT g1, g2, g3, g4, CAST({LK.o_fs_posterior("p2")} AS BIGINT) AS w_ppm
  FROM census CROSS JOIN p2
), links AS MATERIALIZED (
  SELECT f.doc_a AS src, f.doc_b AS dst
  FROM flags f JOIN wf w USING (g1, g2, g3, g4)
  WHERE w.w_ppm >= {LK.LINK_PPM}
), dedges AS MATERIALIZED (
  SELECT src, dst FROM links UNION ALL SELECT dst, src FROM links
), lnodes AS (
  SELECT DISTINCT src AS node FROM dedges
), reach(a, b) AS (
  SELECT node, node FROM lnodes
  UNION
  SELECT r.a, e.dst FROM reach r JOIN dedges e ON r.b = e.src
), comp AS (
  SELECT a AS node, MIN(b) AS entity FROM reach GROUP BY a
)
SELECT entity, COUNT(*) AS size, COUNT(*) - 1 AS n_merged,
       CAST(SUM(node) AS BIGINT) AS sum_members
FROM comp GROUP BY entity ORDER BY entity
"""


def q215_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOLDEN-RECORD survivorship — the step after q214 that MDM
    systems call merge: one canonical record per resolved entity,
    each attribute picked by a deterministic survivorship rule
    (longest text wins ``rep_doc``/``rep_chars``, modal source wins
    ``src_surv``/``src_votes``, tie-breaks total in both engines).
    Completes the trained-ER arc as data actually flows in
    production: block (q128) → train (q207) → classify (q208) →
    cluster (q214) → MERGE.

    100 TB shape: inherits q208's single-exchange blocking +
    broadcast posterior probe; the entity membership table is
    link-graph-sized (near-dup-sparse), so it broadcasts back onto
    the documents scan — the corpus is probed once and never
    shuffles; all survivorship windows/aggs run on member-sized
    data. Assembly in ``functions/linkage.er_golden_records``.
    """
    return LK.er_golden_records(
        _fs_trained_classified(spark, sf_dir, ordered=False),
        t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars"),
    )


O215 = _O_FS_COMMON.replace("WITH docs AS", "WITH RECURSIVE docs AS", 1) + f""", wf AS (
  SELECT g1, g2, g3, g4, CAST({LK.o_fs_posterior("p2")} AS BIGINT) AS w_ppm
  FROM census CROSS JOIN p2
), links AS MATERIALIZED (
  SELECT f.doc_a AS src, f.doc_b AS dst
  FROM flags f JOIN wf w USING (g1, g2, g3, g4)
  WHERE w.w_ppm >= {LK.LINK_PPM}
), dedges AS MATERIALIZED (
  SELECT src, dst FROM links UNION ALL SELECT dst, src FROM links
), lnodes AS (
  SELECT DISTINCT src AS node FROM dedges
), reach(a, b) AS (
  SELECT node, node FROM lnodes
  UNION
  SELECT r.a, e.dst FROM reach r JOIN dedges e ON r.b = e.src
), comp AS (
  SELECT a AS node, MIN(b) AS entity FROM reach GROUP BY a
), mem AS (
  SELECT c.entity, d.doc_id, d.source, d.n_chars
  FROM comp c JOIN docs d ON d.doc_id = c.node
), rep AS (
  SELECT entity, doc_id AS rep_doc, n_chars AS rep_chars,
         ROW_NUMBER() OVER (
           PARTITION BY entity ORDER BY n_chars DESC, doc_id) AS rn
  FROM mem
), sm AS (
  SELECT entity, source AS src_surv,
         CAST(COUNT(*) AS BIGINT) AS src_votes,
         ROW_NUMBER() OVER (
           PARTITION BY entity ORDER BY COUNT(*) DESC, source) AS rn
  FROM mem GROUP BY entity, source
), st AS (
  SELECT entity, COUNT(*) AS size, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
  FROM mem GROUP BY entity
)
SELECT st.entity, st.size, rep.rep_doc, rep.rep_chars,
       sm.src_surv, sm.src_votes, st.sum_chars
FROM st
JOIN rep ON rep.entity = st.entity AND rep.rn = 1
JOIN sm ON sm.entity = st.entity AND sm.rn = 1
ORDER BY st.entity
"""


def q216_soundex_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PHONETIC blocking census — American Soundex (the Russell/NARA
    code, Knuth TAOCP vol. 3's variant with the H/W bridging rule)
    over the corpus vocabulary: the classic cheap blocking key ER
    toolkits offer beside sorted-neighborhood (q128) and the trained
    comparators (q206–q211). The code is ONE engine-portable string-
    algebra expression (``functions/strsim.soundex_sql`` — translate
    with deletion + seven backreference-free run-collapses; no UDF,
    no fold, fully inside whole-stage codegen), pinned on the
    published classics and against an independent procedural Python
    implementation in tests/test_strsim.py.

    Report: the 20 largest phonetic buckets — (code, n_words =
    distinct vocabulary words in the bucket, w_min / w_max as
    deterministic example members), ordered by n_words desc then
    code.

    100 TB shape: corpus → word explode → ONE distinct exchange on
    the uniform word key (the q199/q210 word-census discipline —
    Heaps-law sublinear, and partial agg dedups map-side); the
    Soundex expression is per-distinct-word codegen arithmetic and
    the code census is ≤|alphabet|·7³ rows.
    """
    from ..functions.strsim import soundex_sql

    words = (
        t(spark, sf_dir, "documents")
        .select(
            F.explode(F.split(F.lower(F.col("text")), "[^a-z]+")).alias("w")
        )
        .filter(F.col("w").rlike("^[a-z]{2,}$"))
        .distinct()
    )
    return (
        words.withColumn("code", F.expr(soundex_sql("w", "spark")))
        .groupBy("code")
        .agg(
            F.count("*").alias("n_words"),
            F.min("w").alias("w_min"),
            F.max("w").alias("w_max"),
        )
        .orderBy(F.col("n_words").desc(), "code")
        .limit(20)
    )


from ..functions.strsim import soundex_sql as _soundex_sql  # noqa: E402

O216 = f"""
WITH words AS (
  SELECT DISTINCT w
  FROM documents,
       LATERAL unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS t(w)
  WHERE regexp_matches(w, '^[a-z]{{2,}}$')
), coded AS (
  SELECT w, {_soundex_sql("w", "duck")} AS code FROM words
)
SELECT code, CAST(COUNT(*) AS BIGINT) AS n_words,
       MIN(w) AS w_min, MAX(w) AS w_max
FROM coded GROUP BY code ORDER BY n_words DESC, code LIMIT 20
"""


#: q217's mixture spec: uniform across sources, budget = 1/4 of corpus
#: tokens — documented constants, not tunables hidden in the plan
_MIX_BUDGET_DIV = 4
_HEX24 = 16 ** 6  # gate resolution: 24-bit md5 prefix


def q217_corpus_mixer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINING-MIX planning + deterministic resampling — the static
    form of the DoReMi/Pile-style mixture step every large pretraining
    corpus runs: given per-source token counts and a target mixture
    (uniform across sources, total budget = corpus tokens div
    {_MIX_BUDGET_DIV}), SOLVE the per-source keep-rate in exact ppm
    (capped at 10^6 — a source smaller than its target is taken
    whole, never upsampled), then APPLY it with the q86 hash-gate
    discipline (md5-prefix gate, never rand(): the same row set on
    every engine, retry, and cluster size) at 24-bit resolution.

    Report per source: population (n_docs, src_toks), the plan
    (target_toks, rate_ppm), and the achieved sample (n_keep,
    toks_keep) — the drift between target and achieved is the
    quantization the gate's integer arithmetic admits.

    100 TB shape: two corpus scans (census, then gated pass — the
    standard two-pass form; at scale the tokenized projection is the
    thing you'd persist), each reducing map-side to a
    sources-bounded census; the solved rate table is BROADCAST back
    onto the corpus, so nothing data-sized ever shuffles.

    r12: the tokenized projection is PERSISTED — the docstring's own
    "at scale this is the thing you'd persist", now done. ``rates``
    (which embeds the census subtree) is referenced twice and
    ``totals`` re-embeds it again, so the one final action used to
    re-run the corpus tokenize up to 5× as concurrent duplicate
    stages (10 parquet scans in
    plans/r12/q217_corpus_mixer_before.txt) — free-looking at sf0.1
    where the copies overlap on idle cores, pure waste at 100 TB
    where the scan is throughput-bound. With ``d`` cached
    (plan-lifetime, 3 small ints per doc — the narrow-projection
    class of fs_classify's checkpoint), every copy after the first
    reads the cache and the corpus is tokenized exactly ONCE. An
    interleaved r12 A/B rejected the alternative (collecting the
    census driver-side): that serialized two full scans into
    sequential actions and cost ~1 s at sf0.1 (guide §1.2 both
    times — but measure, don't assume which shape wins).
    """
    d = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "source", F.size(_toks()).alias("toks"))
        .persist()
    )
    census = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("toks").cast("long").alias("src_toks"),
    )
    totals = census.agg(
        F.sum("src_toks").cast("long").alias("tot_toks"),
        F.count("*").alias("n_src"),
    )
    rates = (
        census.crossJoin(F.broadcast(totals))
        .withColumn(
            "target_toks",
            F.expr(f"tot_toks div {_MIX_BUDGET_DIV} div n_src"),
        )
        .withColumn(
            "rate_ppm",
            F.least(
                F.lit(1_000_000).cast("long"),
                F.expr("target_toks * 1000000 div src_toks"),
            ),
        )
        .select("source", "n_docs", "src_toks", "target_toks", "rate_ppm")
    )
    hash24 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10
    ).cast("long")
    achieved = (
        d.join(F.broadcast(rates.select("source", "rate_ppm")), "source")
        .withColumn(
            "keep", hash24 * F.lit(1_000_000) < F.col("rate_ppm") * F.lit(_HEX24)
        )
        .groupBy("source")
        .agg(
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("long").alias("n_keep"),
            F.sum(F.when(F.col("keep"), F.col("toks")).otherwise(0))
            .cast("long").alias("toks_keep"),
        )
    )
    return (
        rates.join(F.broadcast(achieved), "source")
        .select(
            "source", "n_docs", "src_toks", "target_toks", "rate_ppm",
            "n_keep", "toks_keep",
        )
        .orderBy("source")
    )


O217 = f"""
WITH dt AS (
  SELECT doc_id, source, len({TOKS}) AS toks FROM documents
), census AS (
  SELECT source, COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS src_toks
  FROM dt GROUP BY source
), tot AS (
  SELECT CAST(SUM(src_toks) AS BIGINT) AS tot_toks, COUNT(*) AS n_src
  FROM census
), rates AS (
  SELECT source, n_docs, src_toks,
         tot_toks // {_MIX_BUDGET_DIV} // n_src AS target_toks,
         LEAST(1000000,
               (tot_toks // {_MIX_BUDGET_DIV} // n_src) * 1000000 // src_toks
         ) AS rate_ppm
  FROM census CROSS JOIN tot
), gated AS (
  SELECT d.source, d.toks,
         CAST(from_hex(substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 6))
              AS BIT)::BIGINT * 1000000 < r.rate_ppm * {_HEX24} AS keep
  FROM dt d JOIN rates r USING (source)
), achieved AS (
  SELECT source,
         CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
         CAST(SUM(CASE WHEN keep THEN toks ELSE 0 END) AS BIGINT) AS toks_keep
  FROM gated GROUP BY source
)
SELECT r.source, r.n_docs, r.src_toks, r.target_toks, r.rate_ppm,
       a.n_keep, a.toks_keep
FROM rates r JOIN achieved a USING (source)
ORDER BY r.source
"""


#: q218 cosine threshold (ppm) — a documented constant of the query,
#: not a tunable. tau = 800000 ppm = 4/5 EXACTLY, so the rescore
#: inequality cos >= tau reduces to the coprime integer form
#: 25 * dot^2 >= 16 * na2 * nb2 (both sides divided by the full
#: gcd) — no 1e6 scaling survives into the guard at all.
_APS_TAU_PPM = 800_000
assert _APS_TAU_PPM * 5 == 4 * 1_000_000  # tau == 4/5 exactly


def _isqrt_sql(n2: str, t: str = "BIGINT") -> str:
    """EXACT integer floor-sqrt of a positive integer column in
    engine-portable SQL: take floor(sqrt(double)) then adjust ±1, so
    a 1-ulp FP rounding on either engine cannot change the result —
    the correction, not the FP value, is what both engines hash.

    ``t`` is the integer type the seed is cast to and the adjustment
    squares multiply in — BIGINT by default; pass ``DECIMAL(38,0)``
    (Spark) / ``HUGEINT`` (DuckDB oracle) for arguments past the
    BIGINT range. The ±1 adjustment stays sufficient while the
    double seed is within 1 of the true root, i.e. for arguments
    below ~1.3e31 (conversion error ≈ sqrt(x)·2⁻⁵³ — verified
    against math.isqrt in tests/test_allpairs.py); past that the
    adjusted squares certify failure loudly rather than drift."""
    s0 = f"CAST(floor(sqrt(CAST({n2} AS DOUBLE))) AS {t})"
    return (
        f"({s0} + (CASE WHEN ({s0} + 1) * ({s0} + 1) <= {n2} "
        f"THEN 1 ELSE 0 END) "
        f"- (CASE WHEN {s0} * {s0} > {n2} THEN 1 ELSE 0 END))"
    )


def _fdiv_dec_sql(a: str, b: str) -> str:
    """EXACT floor-division of a non-negative DECIMAL(38,0) ``a`` by
    a positive BIGINT-ranged ``b`` in Spark SQL, as a DECIMAL(38,0)
    expression. Spark's ``div`` operator always RETURNS BIGINT — it
    silently wraps once the true quotient passes 2⁶³ even under ANSI
    (measured: ``CAST(2.5e25 AS DECIMAL(38,0)) div 5`` →
    −8427923047675068416) — so wide quotients need this form: a
    double-seeded estimate A0 = round(double(a)/double(b)) — cast
    STRAIGHT to DECIMAL(38,0), never through floor(), whose BIGINT
    return type silently wraps past 2⁶³ — then the EXACT remainder
    correction A = A0 + floor((a − A0·b)/b), whose inner quotient is
    seed-error-sized (≤ ~2³⁰) and therefore safe in ``div``. The
    identity floor(a/b) = A0 + floor((a − A0·b)/b) holds for ANY
    integer A0 (rounded up OR down), so the seed's FP error cancels
    exactly; verified against Python ``//`` up to the certified
    range in tests/test_allpairs.py. The DuckDB oracle needs none of
    this — HUGEINT ``//`` is exact natively."""
    a0 = f"CAST(CAST({a} AS DOUBLE) / CAST({b} AS DOUBLE) AS DECIMAL(38,0))"
    r = f"(CAST({a} AS DECIMAL(38,0)) - {a0} * {b})"
    return (
        f"({a0} + (CASE WHEN {r} >= 0 THEN {r} div {b} "
        f"ELSE -((-{r} + {b} - 1) div {b}) END))"
    )


def _aps_postings(spark: SparkSession, sf_dir: str):
    """q218's shared front end: token-BIGRAM tf postings (persisted —
    they feed every downstream consumer; vocabulary-grouped, so
    Heaps-sublinear, never raw text), per-doc squared norms, and the
    df CENSUS STATS the regime switch + partition sizing read.

    The stats job is ONE agg over the per-term df census: the groupBy
    partial-aggregates map-side, the reduce side is vocabulary-sized,
    and the final row is 4 numbers — the same
    statistics-drive-the-plan discipline as graph.py's
    connected_components edge-count switch. sum_df2 is accumulated in
    DOUBLE on purpose: it is a cost ESTIMATE (df^2 sums overflow
    BIGINT once a term's df passes ~3e9 docs, which a 100 TB Zipf
    head can), and a cost model needs magnitude, not exactness.

    The persist is a deliberate plan-lifetime cache, like q210's
    documented builder materialization: it cannot be unpersisted
    inside this builder (the returned plan still reads it), and the
    bench harness clearCache()s between reps, and tests that compose
    plans do the same. Callers composing many q218 plans in one
    session should clearCache() likewise."""
    grams = (
        t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .withColumn("tk", _toks())
        .filter(F.size("tk") >= 2)
        # sequence(1, n) would DESCEND for n = 0, hence the size gate
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(tk) - 1), "
                    "i -> concat(element_at(tk, i), ' ', "
                    "element_at(tk, i + 1)))"
                )
            ).alias("term"),
        )
    )
    p = (
        grams.groupBy("doc_id", "term")
        .agg(F.count("*").alias("w"))
        .persist()
    )
    norms = p.groupBy("doc_id").agg(
        F.sum(F.expr("w * w")).cast("long").alias("n2")
    )
    df2 = F.col("df").cast("double") * F.col("df")
    stats = (
        p.groupBy("term")
        .agg(F.count("*").alias("df"))
        .agg(
            F.sum("df").cast("long").alias("n_postings"),
            F.sum(df2).alias("sum_df2"),
            F.sum(
                F.when(F.col("df") <= _APS_HEAD_DF, df2).otherwise(0.0)
            ).alias("sum_df2_tail"),
            F.max("df").cast("long").alias("max_df"),
            F.count("*").cast("long").alias("n_terms"),
        )
        .collect()[0]
        .asDict()
    )
    # sum() over zero postings is NULL on both engines: an empty (or
    # all-null-text) corpus must degrade to an empty result through
    # the term-major branch, not TypeError inside the regime rule /
    # nparts sizing (r10 ADVICE item).
    stats = {k: (0 if v is None else v) for k, v in stats.items()}
    return p, norms, stats


def _aps_report(dots: DataFrame, norms: DataFrame) -> DataFrame:
    """Exact integer-square threshold + report, shared by both q218
    regimes: tau = 4/5 exactly, so the guard is the coprime form
    25 * dot^2 >= 16 * na2 * nb2 — squares instead of sqrt, the q77
    integer-cosine discipline — evaluated in DECIMAL(38,0) (DuckDB:
    HUGEINT), never raw BIGINT.

    Overflow ceilings, explicit (the r9 ADVICE item — the old BIGINT
    form failed once dot > ~3.03e6, which two repetitive few-thousand-
    token documents can reach): in DECIMAL(38,0) the GUARD is exact
    while 25*dot^2 and 16*na2*nb2 < 10^38, i.e. dot < 2*10^18 and
    na2*nb2 < 6.25*10^36; the cos2_ppm REPORT column carries an extra
    10^6 factor, so its ceiling is dot < ~3.16*10^15 — a pair of
    ~50-million-token pure-repetition documents. Past either ceiling
    ANSI mode fails LOUDLY (NUMERIC_VALUE_OUT_OF_RANGE), never
    silently wrong; real corpora sit ~9 orders of magnitude below."""
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2"))
    dd = "CAST(dot AS DECIMAL(38,0))"
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(
            F.expr(f"25 * {dd} * dot >= 16 * CAST(na2 AS DECIMAL(38,0)) * nb2")
        )
        .select(
            "doc_a", "doc_b", "dot", "na2", "nb2",
            F.expr(
                f"CAST(({dd} * dot * 1000000) div "
                "(CAST(na2 AS DECIMAL(38,0)) * nb2) AS BIGINT)"
            ).alias("cos2_ppm"),
        )
        .orderBy("doc_a", "doc_b")
    )


#: Head cutoff for the regime statistics: a term in <= 4096 documents
#: contributes at most 4096^2 ~ 16.8M join tuples — sub-second for one
#: term-major task — so only terms beyond it ("head" terms, the Zipf
#: stopword class) can individually break the term-major plan.
_APS_HEAD_DF = 4096


def _aps_skew_dots(p: DataFrame, stats: dict, nparts: int) -> DataFrame:
    """q218's SKEW-SPLIT term-major dot products — the third regime:
    term-major's postings self-join with the operators/skew.py
    hot-key discipline applied per HEAD term (df > {_APS_HEAD_DF}).

    A df=D head term is D^2 tuples in ONE task under the plain
    self-join (the measured 1301 s zipf-20x straggler,
    docs/scale_allpairs_r10.json). Here its posting list splits into
    c = ceil(D / {_APS_HEAD_DF}) deterministic hash chunks
    (xxhash64(doc_id) mod c) and the join runs over the full
    c x c chunk grid: side A carries its own chunk ``ia`` and
    explodes over the partner chunk ``ib`` (c replicas), side B the
    mirror, and the join key (term, ia, ib) lands every chunk pair
    in its own reducer — per-task work is bounded at
    ~{_APS_HEAD_DF}^2 tuples at ANY df, and each ordered (a, b) pair
    still meets EXACTLY once, at (ia, ib) = (chunk(a), chunk(b)), so
    the result is exact (pinned row-identical to both other regimes
    in tests/test_allpairs.py). Replication cost: a head term's
    postings are copied c times per side ~ D^2/{_APS_HEAD_DF} rows —
    three orders of magnitude below the D^2 join tuples it spreads.

    TAIL terms (df <= {_APS_HEAD_DF}, c = 1) keep the plain
    term-keyed self-join — no replication, no extra exchange beyond
    the df-tag join (term-keyed, co-partitioned with the self-join's
    own repartition). Pairs sharing both head and tail terms merge
    in the final (doc_a, doc_b) partial-agg union: each branch
    map-side combines its own partial dots first."""
    # no explicit repartition on tdf: at test scale it broadcasts
    # (vocab-sized), and past the threshold its own agg exchange
    # already hash-partitions it on term — an explicit one is a
    # redundant exchange either way
    tdf = p.groupBy("term").agg(F.count("*").alias("df"))
    pw = (
        p.repartition(nparts, "term")
        .join(tdf, "term")
        .withColumn(
            "c",
            F.when(
                F.col("df") > _APS_HEAD_DF,
                F.ceil(F.col("df") / F.lit(_APS_HEAD_DF)).cast("int"),
            ).otherwise(F.lit(1)),
        )
    )
    tail = pw.filter(F.col("c") == 1)
    ta = tail.select(F.col("doc_id").alias("doc_a"), "term", F.col("w").alias("wa"))
    tb = tail.select(F.col("doc_id").alias("doc_b"), "term", F.col("w").alias("wb"))
    prods_tail = (
        ta.join(tb, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.expr("wa * wb").alias("prod"))
    )
    head = pw.filter(F.col("c") > 1).withColumn(
        "bkt", F.pmod(F.xxhash64("doc_id"), F.col("c")).cast("int")
    )
    # size the chunk-grid join from the head's quadratic mass: its
    # output is (sum_df2 - sum_df2_tail) tuples spread evenly over
    # the c x c cells, so ~HEAD_DF^2 tuples per task is the budget
    head_tuples = float(stats["sum_df2"] - stats["sum_df2_tail"])
    hparts = int(min(4096, max(32, head_tuples // (_APS_HEAD_DF**2))))
    grid = F.explode(F.sequence(F.lit(0), F.col("c") - 1))
    ha = head.select(
        F.col("doc_id").alias("doc_a"),
        "term",
        F.col("w").alias("wa"),
        F.col("bkt").alias("ia"),
        grid.alias("ib"),
    ).repartition(hparts, "term", "ia", "ib")
    hb = head.select(
        F.col("doc_id").alias("doc_b"),
        "term",
        F.col("w").alias("wb"),
        F.col("bkt").alias("ib"),
        grid.alias("ia"),
    ).repartition(hparts, "term", "ia", "ib")
    prods_head = (
        ha.join(hb, ["term", "ia", "ib"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.expr("wa * wb").alias("prod"))
    )
    return (
        prods_tail.unionByName(prods_head)
        .groupBy("doc_a", "doc_b")
        .agg(F.sum("prod").cast("long").alias("dot"))
    )
#: Tail-sparsity threshold on MEAN TAIL POSTING DF =
#: sum_df2_tail / n_postings — what the PREFIX regime actually pays
#: (its candidate volume is quadratic in the df of the terms that
#: survive prefix pruning, i.e. the tail; the bounds prune the head).
#: Measured bracket (docs/scale_allpairs_r10.json): ~285 on the dense
#: flat corpus, where the prefix rescore DIED ON DISK at 20x (>78 GB
#: shuffle spill, No space left on device — the candidate set is
#: ~50,000x the answer on a 931-term vocabulary); ~1-2 on the
#: sparse-tail Zipf corpus, where prefix wins. 32 = the log-midpoint
#: rounded to a power of two.
_APS_TAIL_MEAN_DF = 32.0


def choose_aps_regime(stats: dict) -> str:
    """Returns the q218 plan regime — ``"term"`` | ``"prefix"`` |
    ``"skew"`` — decided from the postings census alone (the
    graph.py:116 discipline: statistics pick the plan, and the
    choice + inputs are cheap to log).

    The decision tree (measured in docs/scale_allpairs_r10.json and
    docs/scale_allpairs_r11.json; the r9 verdict's sketch — switch on
    total sum(df^2) alone — is falsified by the same measurements):

    1. HEAD DOMINANCE: terms with df > {_APS_HEAD_DF} carry more than
       half of sum(df^2). Only then does plain term-major genuinely
       break — its quadratic cost is IN-TASK tuples consumed by the
       partial agg (its shuffle is postings-sized, which is why it
       never spills), so it fails by straggler tasks (a df=D head
       term is D^2 tuples in ONE task) rather than by volume. No
       head -> ``"term"``: the per-term split machinery would tag
       every posting with its df for zero splits.
    2. TAIL SPARSITY: mean tail posting df <= {_APS_TAIL_MEAN_DF}.
       The prefix regime's real cost is its candidate set — quadratic
       in the df of PRUNING-SURVIVING (tail) terms — and its rescore
       materializes |candidates| x doc-length rows through exchanges:
       on a dense-vocabulary corpus this is the plan that dies (the
       measured 20x disk-death), no matter what the head looks like.
       Head over a SPARSE tail -> ``"prefix"`` (the AllPairs/L2AP
       bounds prune the head; the doc-unique tail generates almost
       no candidates — measured scale-free 42.5 s -> 44.0 s from 20x
       to 100x on the zipf-sparse corpus).
    3. Head over a DENSE tail -> ``"skew"`` (new in r11): term-major
       with the operators/skew.py hot-key discipline applied to head
       terms — a df=D posting list splits into c = ceil(D /
       {_APS_HEAD_DF}) hash chunks and joins chunk x chunk, so
       per-task work is bounded at ~{_APS_HEAD_DF}^2 tuples at ANY
       df while the dense tail keeps the plain postings self-join
       that provably cannot spill. This was r10's one uncovered
       corpus class: prefix dies on the dense tail, and plain
       term-major ate a measured 1301 s of head stragglers."""
    tail = stats["sum_df2_tail"]
    head = stats["sum_df2"] - tail
    if head <= tail:
        return "term"
    if tail <= _APS_TAIL_MEAN_DF * max(stats["n_postings"], 1):
        return "prefix"
    return "skew"


def allpairs_cosine(
    spark: SparkSession,
    sf_dir: str,
    *,
    prefix_filter: bool | None = None,
    regime: str | None = None,
) -> DataFrame:
    """EXACT weighted-cosine all-pairs similarity join over
    token-BIGRAM tf vectors, tau = 0.8 — THREE regimes, all exact and
    pinned row-identical in tests/test_allpairs.py, with the regime
    CHOSEN FROM THE DATA by default: the persisted postings census
    yields (n_postings, sum_df2, sum_df2_tail, max_df) in one
    vocabulary-sized agg, and :func:`choose_aps_regime` maps it to
    ``"term"`` (flat df), ``"prefix"`` (head over a sparse tail) or
    ``"skew"`` (head over a dense tail — :func:`_aps_skew_dots`,
    term-major with head terms hot-key-split into bounded chunk
    grids; new in r11, closing r10's one uncovered corpus class).
    See the chooser's docstring for the measured decision tree and
    why the obvious single-statistic rule is wrong. ``regime=`` pins
    a plan for tests and studies (``prefix_filter=True/False`` is
    the pre-r11 two-regime alias).

    - ``prefix_filter=False``: the
      inverted-index SELF-JOIN — postings joined to postings on term
      with doc_a < doc_b, one exchange on the term key, partial-agg
      dots per sharing pair, then the exact threshold. Optimal when
      the df distribution is FLAT: measured at sf0.1 this corpus has
      931 bigrams / max df 338, sum(df^2) = 73M tuples, vs 13.5M for
      the prefix path — but the prefix path's pair-major rescore
      joins cost 46 s against the term-major join's single pass
      (SCALE.md r9).
    - ``prefix_filter=True``: the AllPairs/L2AP candidate pipeline
      (Bayardo WWW'07; Anastasiu & Karypis ICDE'14) — the 100 TB
      path when heavy-tailed df makes sum(df^2) explode:

      * CONSERVATIVE integer upper bound on each normalized weight,
        nw_ub = ceil(w*10^6 / isqrt(n2)): floor-sqrt UNDERestimates
        the norm, ceil-div OVERestimates nw, and isqrt is the exact
        +-1-adjusted integer sqrt (:func:`_isqrt_sql`) so both
        engines compute the identical bound;
      * a GLOBAL term order (rare-first: df asc, term) and per-doc
        suffix bounds under it — the AllPairs l1 bound
        sum(nw_ub*maxw) and L2AP's l2 bound sum(nw_ub^2); position k
        is INDEXED while BOTH bounds >= tau;
      * SYMMETRIC prefix x prefix candidate join: the globally-FIRST
        shared term of any tau-pair must lie in BOTH prefixes (if it
        escaped either side's prefix, every shared term would sit in
        that side's suffix and the suffix bound already proves
        cos < tau) — so prefix-to-prefix has zero false negatives;
      * exact pair-major rescore of the candidates.

    Report: (doc_a, doc_b, dot, na2, nb2, cos2_ppm) per qualifying
    pair. Unigram tf is deliberately NOT used: over this synthetic
    small vocabulary it makes the TRUE tau=0.8 answer near-quadratic
    (measured 472k pairs at sf0.1 — dense answers are a data
    property no algorithm fixes); bigrams restore the sparsity real
    corpora have (256 pairs at sf0.1).
    """
    from pyspark.sql import Window

    if regime is None:
        regime = (
            None
            if prefix_filter is None
            else ("prefix" if prefix_filter else "term")
        )
    if regime not in (None, "term", "prefix", "skew"):
        raise ValueError(f"unknown q218 regime: {regime!r}")
    p, norms, stats = _aps_postings(spark, sf_dir)
    if regime is None:
        regime = choose_aps_regime(stats)
    if regime in ("term", "skew"):
        # size the self-join's partitioning from the postings stats
        # (already paid for by the regime switch — no extra action):
        # the join output is sum(df^2) rows — orders of magnitude
        # bigger than its inputs — so the session's fixed shuffle
        # default SPILLS once the corpus grows (measured at 20x
        # constant density: 177 s at 32 partitions vs 61 s at 256;
        # SCALE.md). ~20k postings per join task keeps each task's
        # df^2 blow-up in memory; both sides share the partitioning,
        # so the join itself adds no further exchange. (The cap was
        # first set at 1024 and BOUND at 100x: 25.6M postings ->
        # 700 s median; uncapping to the derived 1282 measured 483 s
        # — same plan, no spill. 4096 leaves headroom without
        # task-overhead risk.)
        nparts = int(min(4096, max(32, stats["n_postings"] // 20_000)))
        if regime == "skew":
            return _aps_report(_aps_skew_dots(p, stats, nparts), norms)
        pa = p.repartition(nparts, "term").select(
            F.col("doc_id").alias("doc_a"), "term", F.col("w").alias("wa")
        )
        pb = p.repartition(nparts, "term").select(
            F.col("doc_id").alias("doc_b"), "term", F.col("w").alias("wb")
        )
        dots = (
            pa.join(pb, "term")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.sum(F.expr("wa * wb")).cast("long").alias("dot"))
        )
        return _aps_report(dots, norms)

    pn = p.join(norms, "doc_id").withColumn(
        "nw_ub",
        F.expr(f"(w * 1000000 + {_isqrt_sql('n2')} - 1) div {_isqrt_sql('n2')}"),
    )
    stats = pn.groupBy("term").agg(
        F.max("nw_ub").alias("maxw"), F.count("*").alias("df")
    )
    w_sfx = (
        Window.partitionBy("doc_id")
        .orderBy(F.col("df"), F.col("term"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    ordered = (
        pn.join(stats, "term")
        .withColumn("s_k", F.sum(F.expr("nw_ub * maxw")).over(w_sfx))
        .withColumn("s2_k", F.sum(F.expr("nw_ub * nw_ub")).over(w_sfx))
    )
    prefix = ordered.filter(
        (F.col("s_k") >= F.lit(_APS_TAU_PPM * 1_000_000))
        & (F.col("s2_k") >= F.lit(_APS_TAU_PPM * _APS_TAU_PPM))
    ).select("term", "doc_id")
    xa = prefix.select("term", F.col("doc_id").alias("doc_a"))
    xb = prefix.select("term", F.col("doc_id").alias("doc_b"))
    cands = (
        xa.join(xb, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    pa = p.select(F.col("doc_id").alias("doc_a"), "term", F.col("w").alias("wa"))
    pb = p.select(F.col("doc_id").alias("doc_b"), "term", F.col("w").alias("wb"))
    dots = (
        cands.join(pa, "doc_a")
        .join(pb, ["doc_b", "term"])
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.expr("wa * wb")).cast("long").alias("dot"))
    )
    return _aps_report(dots, norms)


def q218_allpairs_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered form of :func:`allpairs_cosine` — regime
    AUTO-SELECTED from the postings census (see that docstring for
    the rule and the measured crossovers). On the flat-df test
    corpora the rule picks the term-major inverted-index self-join
    (one exchange on the term key, map-side partial dots); on a
    Zipf-head-over-sparse-tail corpus the prefix-filtered
    AllPairs/L2AP path; on a Zipf-head-over-DENSE-tail corpus the
    skew-split term-major grid. All three regimes are pinned
    row-identical in tests/test_allpairs.py, so the switch can never
    change the answer — only the plan."""
    return allpairs_cosine(spark, sf_dir)


O218 = f"""
WITH tkd AS (
  SELECT doc_id, {TOKS} AS tk FROM documents
  WHERE text IS NOT NULL AND len({TOKS}) >= 2
), p AS (
  SELECT doc_id, tk[g.i] || ' ' || tk[g.i + 1] AS term,
         CAST(COUNT(*) AS BIGINT) AS w
  FROM tkd, LATERAL unnest(generate_series(1, len(tk) - 1)) AS g(i)
  GROUP BY doc_id, term
), norms AS (
  SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS n2 FROM p GROUP BY doc_id
), dots AS (
  SELECT pa.doc_id AS doc_a, pb.doc_id AS doc_b,
         CAST(SUM(pa.w * pb.w) AS BIGINT) AS dot
  FROM p pa JOIN p pb ON pa.term = pb.term AND pa.doc_id < pb.doc_id
  GROUP BY 1, 2
)
SELECT d.doc_a, d.doc_b, d.dot, na.n2 AS na2, nb.n2 AS nb2,
       CAST(CAST(d.dot AS HUGEINT) * d.dot * 1000000
            // (CAST(na.n2 AS HUGEINT) * nb.n2) AS BIGINT) AS cos2_ppm
FROM dots d
JOIN norms na ON na.doc_id = d.doc_a
JOIN norms nb ON nb.doc_id = d.doc_b
WHERE 25 * CAST(d.dot AS HUGEINT) * d.dot
      >= 16 * CAST(na.n2 AS HUGEINT) * nb.n2
ORDER BY d.doc_a, d.doc_b
"""


#: q219's sample gate ('4d'/256 ~ 30.1%, the q86 md5-prefix idiom)
#: and the ground-truth Jaccard threshold (0.5, as 2|A∩B| >= |A∪B| —
#: the same integer test as the FS 'jac' comparator)
_CAL_GATE = "4d"


#: q219's (rows-per-band, bands) grid — every layout of the SAME
#: 8-minhash signature pass, so the signature cost is paid once and
#: only the (tiny, sample-sized) candidate join repeats per config.
#: (1, 4) is EXACTLY the production q53 layout (with_minhash's four
#: 32-bit slices), so the production config is one row of the table.
_CAL_CONFIGS = ((1, 4), (2, 4), (4, 2), (8, 1))


def _with_minhash8(d: DataFrame) -> DataFrame:
    """Eight 32-bit minhashes per doc: mh0..mh3 are with_minhash's
    production slices (one md5 per shingle — the identical kernel,
    not a reimplementation), mh4..mh7 slice a second independently
    salted md5 ('x' || shingle). Two hash passes total."""
    d = (
        d.withColumn("_toks", _toks())
        .withColumn("_shingles", F.expr(_shingles_expr()))
        .withColumn("_md5s", F.transform("_shingles", lambda s: F.md5(s)))
        .withColumn(
            "_md5s2",
            F.transform(
                "_shingles", lambda s: F.md5(F.concat(F.lit("x"), s))
            ),
        )
    )
    def _slice(b: int):
        # a one-arg lambda is mandatory: F.transform reads a second
        # lambda parameter as the ELEMENT INDEX, so the usual b=b
        # default-arg closure trick silently becomes substring-by-
        # position and minhashes over empty strings
        return lambda h: F.substring(h, 1 + 8 * b, 8)

    hi = [
        F.array_min(F.transform(F.col("_md5s2"), _slice(b))).alias(f"mh{4 + b}")
        for b in range(4)
    ]
    return d.select(
        "*", *[_minhash_col(b) for b in range(4)], *hi
    ).drop("_toks", "_shingles", "_md5s", "_md5s2")


def q219_lsh_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding CALIBRATION GRID — the decision table a dedup
    pipeline produces before committing to a band layout: on a
    deterministic hash-gated SAMPLE of the corpus ({_CAL_GATE}/256 ≈
    30% of docs, the q86 md5 gate — reproducible, never rand()),
    compute the exact-Jaccard ground truth over ALL sample pairs
    ONCE, then for EVERY (r rows × b bands) layout of the same
    8-minhash signature pass — (1,4) the production q53 config,
    (2,4), (4,2), (8,1) — the band-candidate confusion matrix:
    true pairs, candidates, tp/fp/fn, exact-ppm precision and
    recall. One row per config is the measured 1-(1-s^r)^b banding
    curve (MMDS ch. 3) swept over r — measured, not assumed, which
    is the point of a calibration pass (the r9 verdict's q219 gap:
    one config measured is a spot check, a grid is a calibration).

    100 TB shape: the all-pairs ground truth is quadratic IN THE
    SAMPLE by design — the sample rate is the evaluation budget knob
    (the q54 lesson) and it is paid ONCE for all four configs; the
    signature pass (two md5s per shingle) is likewise shared, and
    only the candidate self-join — sample-sized, band-key-grouped —
    repeats per config. mh0..mh3 reuse the identical `with_minhash`
    kernel, so the production row measures exactly the production
    operator.
    """
    d = t(spark, sf_dir, "documents").filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
        < _CAL_GATE
    )
    sh = _with_shingle_sets(d).select("doc_id", "sh")
    # the all-pairs set arithmetic is CPU-bound and the broadcast
    # nested-loop join inherits the scan's few partitions — spread
    # the probe side across every core (the _spread rule; measured
    # 8 tasks -> 85.8 s at sf0.1 before this repartition)
    a = sh.repartition(
        spark.sparkContext.defaultParallelism
    ).select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    allp = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (
                2 * F.size(F.array_intersect("sh_a", "sh_b"))
                >= F.size(F.array_union("sh_a", "sh_b"))
            ).cast("int").alias("is_true"),
        )
    )
    sigs = _with_minhash8(d).select(
        "doc_id", *[f"mh{i}" for i in range(8)]
    )
    parts = []
    for r, nb in _CAL_CONFIGS:
        # F.concat, NOT concat_ws: a NULL minhash (no shingles) must
        # NULL the whole band key so the self-join drops it — exactly
        # what the oracle's || does; concat_ws would silently fold the
        # NULL and bucket every shingle-less doc together
        def _key(j: int, r: int = r) -> "F.Column":
            pieces = [F.lit(f"{r}:{j}")]
            for i in range(r):
                pieces += [F.lit("|"), F.col(f"mh{j * r + i}")]
            return F.concat(*pieces)

        keys = F.array(*[_key(j) for j in range(nb)])
        parts.append(
            sigs.select(
                F.lit(r).alias("r"), "doc_id", F.explode(keys).alias("key")
            )
        )
    long = parts[0]
    for pt in parts[1:]:
        long = long.unionByName(pt)
    cand = (
        long.select("r", F.col("doc_id").alias("id_a"), "key")
        .join(long.select("r", F.col("doc_id").alias("id_b"), "key"), ["r", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("r", "id_a", "id_b")
        .distinct()
        .withColumn("is_cand", F.lit(1))
    )
    cfg = spark.createDataFrame(list(_CAL_CONFIGS), "r int, n_bands int")
    flags = (
        allp.join(F.broadcast(cfg))
        .join(cand, ["r", "id_a", "id_b"], "left")
        .select(
            "r", "n_bands", "is_true",
            F.coalesce("is_cand", F.lit(0)).alias("is_cand"),
        )
    )
    return (
        flags.groupBy("r", "n_bands")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("is_true").cast("long").alias("n_true"),
            F.sum("is_cand").cast("long").alias("n_cand"),
            F.sum(F.expr("is_true * is_cand")).cast("long").alias("tp"),
            F.sum(F.expr("(1 - is_true) * is_cand")).cast("long").alias("fp"),
            F.sum(F.expr("is_true * (1 - is_cand)")).cast("long").alias("fn"),
        )
        .select(
            F.col("r").cast("long").alias("n_rows"),
            F.col("n_bands").cast("long").alias("n_bands"),
            "n_pairs", "n_true", "n_cand", "tp", "fp", "fn",
            F.expr(
                "CASE WHEN n_cand = 0 THEN 0 ELSE tp * 1000000 div n_cand END"
            ).alias("precision_ppm"),
            F.expr(
                "CASE WHEN n_true = 0 THEN 0 ELSE tp * 1000000 div n_true END"
            ).alias("recall_ppm"),
        )
        .orderBy("n_rows")
    )


def _duck_mh2(band: int) -> str:
    """Second salted minhash family ('x' || shingle), DuckDB twin of
    :func:`_with_minhash8`'s mh4..mh7."""
    return (
        f"list_min(list_transform({_DUCK_SHINGLES}, "
        f"s -> substr(md5('x' || s), {1 + 8 * band}, 8)))"
    )


def _o219() -> str:
    longs = []
    for r, nb in _CAL_CONFIGS:
        for j in range(nb):
            cols = " || '|' || ".join(f"mh{j * r + i}" for i in range(r))
            longs.append(
                f"SELECT {r} AS r, doc_id, '{r}:{j}' || '|' || {cols} "
                "AS key FROM sigs"
            )
    long_sql = "\n  UNION ALL ".join(longs)
    cfg_vals = ", ".join(f"({r}, {nb})" for r, nb in _CAL_CONFIGS)
    mh_lo = ", ".join(f"{_duck_mh(b)} AS mh{b}" for b in range(4))
    mh_hi = ", ".join(f"{_duck_mh2(b)} AS mh{4 + b}" for b in range(4))
    return f"""
WITH d AS (
  SELECT * FROM documents
  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_CAL_GATE}'
), sh AS (
  SELECT doc_id, list_distinct({_DUCK_SHINGLES}) AS sh FROM d
), allp AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CASE WHEN 2 * len(list_intersect(a.sh, b.sh))
                   >= len(list_distinct(list_concat(a.sh, b.sh)))
              THEN 1 ELSE 0 END AS is_true
  FROM sh a, sh b WHERE a.doc_id < b.doc_id
), sigs AS (
  SELECT doc_id, {mh_lo}, {mh_hi}
  FROM d
), long AS (
  {long_sql}
), cand AS (
  SELECT DISTINCT a.r, a.doc_id AS id_a, b.doc_id AS id_b, 1 AS is_cand
  FROM long a JOIN long b
    ON a.r = b.r AND a.key = b.key AND a.doc_id < b.doc_id
), cfg AS (
  SELECT * FROM (VALUES {cfg_vals}) t(r, n_bands)
), flags AS (
  SELECT c.r, c.n_bands, p.is_true, COALESCE(cd.is_cand, 0) AS is_cand
  FROM allp p CROSS JOIN cfg c
  LEFT JOIN cand cd
    ON cd.r = c.r AND cd.id_a = p.id_a AND cd.id_b = p.id_b
), agg AS (
  SELECT r, n_bands, COUNT(*) AS n_pairs,
         CAST(SUM(is_true) AS BIGINT) AS n_true,
         CAST(SUM(is_cand) AS BIGINT) AS n_cand,
         CAST(SUM(is_true * is_cand) AS BIGINT) AS tp,
         CAST(SUM((1 - is_true) * is_cand) AS BIGINT) AS fp,
         CAST(SUM(is_true * (1 - is_cand)) AS BIGINT) AS fn
  FROM flags GROUP BY r, n_bands
)
SELECT CAST(r AS BIGINT) AS n_rows, CAST(n_bands AS BIGINT) AS n_bands,
       n_pairs, n_true, n_cand, tp, fp, fn,
       CASE WHEN n_cand = 0 THEN 0 ELSE tp * 1000000 // n_cand END
         AS precision_ppm,
       CASE WHEN n_true = 0 THEN 0 ELSE tp * 1000000 // n_true END
         AS recall_ppm
FROM agg
ORDER BY n_rows
"""


O219 = _o219()


_TRUNC_DIMS = 16  # q220's truncated prefix width (of 64)
_TRUNC_K = 10     # top-k compared


def q220_dim_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding DIMENSION-TRUNCATION calibration — the measurement a
    Matryoshka-style deployment runs before serving truncated
    vectors: for each benchmark query, exact int8-cosine top-{_TRUNC_K}
    at the full 64 dims vs the same ranking using only the first
    {_TRUNC_DIMS} dims, reported as per-query overlap and recall_ppm
    plus the two top-1 ids. q219's calibration pattern applied to the
    ANN family: measure the production kernel (q77's `_quant`/`_qdot`
    integer scoring, the rounded-double cosine idiom it certifies),
    don't re-implement it.

    100 TB shape: q58/q77's — broadcast query side, ONE streaming
    scan scoring both widths per row (the truncated dot is a slice of
    the same quantized code), two per-query top-k windows over the
    3·N scored frame, then a {_TRUNC_K}-row-per-query overlap join.
    """
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", _quant(F.col("embedding")).alias("qe")
    )
    q = e.filter(F.col("vec_id").isin(*_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("qe").alias("qv")
    )
    pairs = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("qe_t", F.slice("qe", 1, _TRUNC_DIMS))
        .withColumn("qv_t", F.slice("qv", 1, _TRUNC_DIMS))
    )

    def _cos(a, b):
        return F.round(
            _qdot(F.col(a), F.col(b)).cast("double")
            / (
                F.sqrt(_qdot(F.col(a), F.col(a)).cast("double"))
                * F.sqrt(_qdot(F.col(b), F.col(b)).cast("double"))
            ),
            4,
        )

    scored = pairs.select(
        "query_id", "vec_id",
        _cos("qe", "qv").alias("c_full"),
        _cos("qe_t", "qv_t").alias("c_trunc"),
    )
    w_full = Window.partitionBy("query_id").orderBy(
        F.desc("c_full"), F.asc("vec_id")
    )
    w_trunc = Window.partitionBy("query_id").orderBy(
        F.desc("c_trunc"), F.asc("vec_id")
    )
    ranked = scored.select(
        "query_id", "vec_id",
        F.row_number().over(w_full).alias("rf"),
        F.row_number().over(w_trunc).alias("rt"),
    ).filter((F.col("rf") <= _TRUNC_K) | (F.col("rt") <= _TRUNC_K))
    return (
        ranked.groupBy("query_id")
        .agg(
            F.sum(
                F.when((F.col("rf") <= _TRUNC_K) & (F.col("rt") <= _TRUNC_K), 1)
                .otherwise(0)
            ).cast("long").alias("n_overlap"),
            F.min(F.when(F.col("rf") == 1, F.col("vec_id")))
            .alias("top1_full"),
            F.min(F.when(F.col("rt") == 1, F.col("vec_id")))
            .alias("top1_trunc"),
        )
        .select(
            "query_id", "n_overlap",
            F.expr(f"n_overlap * 1000000 div {_TRUNC_K}").alias("recall_ppm"),
            "top1_full", "top1_trunc",
        )
        .orderBy("query_id")
    )


def _o_qdot(a: str, b: str, n: int) -> str:
    return (
        f"list_reduce(list_transform(generate_series(1, {n}), "
        f"i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
    )


def _o_qcos(a: str, b: str, n: int) -> str:
    return (
        f"ROUND(CAST({_o_qdot(a, b, n)} AS DOUBLE) / "
        f"(sqrt(CAST({_o_qdot(a, a, n)} AS DOUBLE)) * "
        f"sqrt(CAST({_o_qdot(b, b, n)} AS DOUBLE))), 4)"
    )


O220 = f"""
WITH coded AS (
  SELECT vec_id, {_QUANT_DUCK.format(c='embedding')} AS qe FROM embeddings
), q AS (
  SELECT vec_id AS query_id, qe AS qv FROM coded
  WHERE vec_id IN {_QUERY_IDS}
), scored AS (
  SELECT q.query_id, e.vec_id,
         {_o_qcos('e.qe', 'q.qv', 64)} AS c_full,
         {_o_qcos('e.qe', 'q.qv', _TRUNC_DIMS)} AS c_trunc
  FROM coded e CROSS JOIN q WHERE e.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, vec_id,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY c_full DESC, vec_id) AS rf,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY c_trunc DESC, vec_id) AS rt
  FROM scored
)
SELECT query_id,
       CAST(SUM(CASE WHEN rf <= {_TRUNC_K} AND rt <= {_TRUNC_K}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap,
       CAST(SUM(CASE WHEN rf <= {_TRUNC_K} AND rt <= {_TRUNC_K}
                THEN 1 ELSE 0 END) AS BIGINT) * 1000000 // {_TRUNC_K}
         AS recall_ppm,
       MIN(CASE WHEN rf = 1 THEN vec_id END) AS top1_full,
       MIN(CASE WHEN rt = 1 THEN vec_id END) AS top1_trunc
FROM ranked
WHERE rf <= {_TRUNC_K} OR rt <= {_TRUNC_K}
GROUP BY query_id ORDER BY query_id
"""


def q221_funnel_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-funnel ABLATION census — the debugging view every
    filtering pipeline ships next to q84's composed funnel: for each
    gate, how many docs fail it IN ISOLATION vs how many the
    sequential funnel kills AT that stage (marginal kill), so a gate
    that silently dominates (or never fires) is visible before a
    training run. The gates are q84's FAMILY, not byte-identical
    semantics: sha256 survivorship and the length ≥ 5 gate match q84
    exactly, but the stopword gate here is the exact-INTEGER analogue
    50·stops ≥ tokens, whereas q84 tests round(stops/tokens, 4) ≥
    0.02 — the two disagree in the rounding band 0.01995 ≤ ratio <
    0.02 (r9 ADVICE), and the integer form is kept because the whole
    ablation census must stay in exact arithmetic. Fourth gate is
    the q88-family repetition gate (duplicate 3-shingle
    fraction ≤ 0.5, i.e. 2·|distinct| ≥ total) — shared kernels, not
    re-implementations.

    Report: one row per gate in funnel order — (stage, gate,
    n_fail_alone, n_survivors_after, n_marginal_kill) — plus the
    corpus size riding along for ratios.

    100 TB shape: ONE scan computes all four flags (the survivorship
    window is the only exchange, on the uniform sha key), one global
    agg row, and the 4-row tall report is a stack of literals —
    report cost is corpus-independent.
    """
    d = t(spark, sf_dir, "documents").withColumn("_toks", _toks())
    n_toks = F.size("_toks")
    stop_n = F.size(F.filter("_toks", lambda x: x.isin(*_EN_STOP)))
    w = Window.partitionBy(F.sha2("text", 256))
    n_sh_total = F.greatest(n_toks - 2, F.lit(1))
    flags = shingles.with_shingle_sets(d).select(
        (F.col("doc_id") == F.min("doc_id").over(w)).cast("int").alias("g1"),
        (n_toks >= 5).cast("int").alias("g2"),
        # lang folded through coalesce so a NULL lang counts as a
        # non-'en' PASS in both engines — without it Spark's
        # three-valued (NULL != 'en') yields NULL (dropped from the
        # f3/s3 sums) while the oracle's CASE folds it to 0 (r9
        # ADVICE: a latent divergence if documents.lang is ever NULL)
        ((F.coalesce(F.col("lang"), F.lit("")) != "en")
         | (50 * stop_n >= n_toks))
        .cast("int").alias("g3"),
        (2 * F.size("sh") >= n_sh_total).cast("int").alias("g4"),
    )
    agg = flags.agg(
        F.count("*").alias("n_docs"),
        *[
            F.sum(F.lit(1) - F.col(f"g{k}")).cast("long").alias(f"f{k}")
            for k in range(1, 5)
        ],
        F.sum("g1").cast("long").alias("s1"),
        F.sum(F.expr("g1 * g2")).cast("long").alias("s2"),
        F.sum(F.expr("g1 * g2 * g3")).cast("long").alias("s3"),
        F.sum(F.expr("g1 * g2 * g3 * g4")).cast("long").alias("s4"),
    )
    return agg.selectExpr(
        """stack(4,
             1, 'dedup_survivor', f1, s1, n_docs - s1,
             2, 'min_length',     f2, s2, s1 - s2,
             3, 'stopword_quality', f3, s3, s2 - s3,
             4, 'repetition',     f4, s4, s3 - s4
           ) AS (stage, gate, n_fail_alone, n_survivors_after,
                 n_marginal_kill)""",
        "n_docs",
    ).orderBy("stage")


O221 = f"""
WITH d AS (
  SELECT doc_id, text, lang, {TOKS} AS tk FROM documents
), flags AS (
  SELECT
    CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY sha256(text))
         THEN 1 ELSE 0 END AS g1,
    CASE WHEN len(tk) >= 5 THEN 1 ELSE 0 END AS g2,
    CASE WHEN COALESCE(lang, '') <> 'en'
           OR 50 * len(list_filter(tk, x -> x IN {_EN_STOP}))
              >= len(tk)
         THEN 1 ELSE 0 END AS g3,
    CASE WHEN 2 * len(list_distinct({_DUCK_SHINGLES}))
              >= GREATEST(len(tk) - 2, 1)
         THEN 1 ELSE 0 END AS g4
  FROM d
), agg AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(1 - g1) AS BIGINT) AS f1,
         CAST(SUM(1 - g2) AS BIGINT) AS f2,
         CAST(SUM(1 - g3) AS BIGINT) AS f3,
         CAST(SUM(1 - g4) AS BIGINT) AS f4,
         CAST(SUM(g1) AS BIGINT) AS s1,
         CAST(SUM(g1 * g2) AS BIGINT) AS s2,
         CAST(SUM(g1 * g2 * g3) AS BIGINT) AS s3,
         CAST(SUM(g1 * g2 * g3 * g4) AS BIGINT) AS s4
  FROM flags
)
SELECT u.stage, u.gate, u.n_fail_alone, u.n_survivors_after,
       u.n_marginal_kill, agg.n_docs
FROM agg, LATERAL (
  SELECT * FROM (VALUES
    (1, 'dedup_survivor',   f1, s1, n_docs - s1),
    (2, 'min_length',       f2, s2, s1 - s2),
    (3, 'stopword_quality', f3, s3, s2 - s3),
    (4, 'repetition',       f4, s4, s3 - s4)
  ) AS t(stage, gate, n_fail_alone, n_survivors_after, n_marginal_kill)
) u
ORDER BY u.stage
"""


#: q222's threshold grid (ppm) — the candidate near-dup cutoffs a
#: dedup pass is tuned over
_SWEEP_TAUS = (500_000, 600_000, 700_000, 800_000, 900_000)


def _sweep_planted_docs(docs: DataFrame) -> DataFrame:
    """q222's corpus + a PLANTED mid-similarity cohort, derived
    in-plan and deterministically (the q131 planted-corruption
    pattern): every 19th doc (~5%) gets a truncated variant keeping
    the first 40–70% of its tokens (the kept fraction cycles with
    the doc id), so the variant's shingle set is a prefix subset and
    its exact Jaccard against the original lands in ~[0.38, 0.68].
    The synthetic corpus is otherwise perfectly separable (near-dups
    are near-copies at J > 0.9, everything else is unrelated), which
    made the r10 sweep FLAT from τ=0.1 to 0.9 — a calibration query
    that never shows a knee demonstrates nothing; the planted cohort
    bends the curve while both engines derive the identical rows.

    COLLISION-FREE OFFSET (r12, the ADVICE alternative to a fixed
    10⁸): variant ids are base id + (max(doc_id) + 1), derived from
    the corpus on BOTH engines — a variant id exceeds every real id
    by construction at ANY scale (the fixed offset would have
    aborted/collided on the 20×/100× scale dirs, whose replica ids
    reach 5·10¹¹), and variants stay distinct because base ids are.
    The sweep's output is pure counts, so it is invariant to the
    offset value itself. The max is materialized DRIVER-side (one
    narrow doc_id-column scan, the q208/q212 discipline) and embedded
    as a literal: the first r12 form rode a broadcast crossJoin, but
    q222 references the planted frame THREE times (signature pass +
    both shingle join sides), so the 1-row agg subtree and its
    exchange were replanned and re-run in every copy — measured 23
    jobs / 45 stages and ~2.3× q81's wall-clock for the same shape
    (guide §1.2: don't recompute what one tiny action provides)."""
    base = docs.select("doc_id", "text")
    max_id = base.agg(F.max("doc_id")).collect()[0][0]
    voff = (max_id if max_id is not None else 0) + 1
    kept = (
        "greatest(3, (size(tk) * (40 + 5 * pmod(doc_id div 19, 7))) div 100)"
    )
    vari = (
        base.filter(F.col("text").isNotNull())
        .filter(F.pmod("doc_id", F.lit(19)) == 0)
        .withColumn("tk", _toks())
        .filter(F.size("tk") >= 8)
        .select(
            (F.col("doc_id") + F.lit(voff)).alias("doc_id"),
            F.array_join(F.expr(f"slice(tk, 1, {kept})"), " ").alias("text"),
        )
    )
    return base.unionByName(vari)


def q222_dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup THRESHOLD-SENSITIVITY sweep — the tuning curve examined
    before committing a near-dup cutoff: the q81 pipeline's exact
    Jaccard scores (same band candidates, same shingle kernel — the
    production operators, not re-implementations) bucketed against a
    grid of thresholds, reporting per τ how many pairs a dedup pass
    at that cutoff would act on and how many docs those pairs touch.
    A cliff between adjacent rows is the signal (pick below it). The
    corpus is the documents table PLUS :func:`_sweep_planted_docs`'s
    deterministic mid-similarity cohort (r11): the raw synthetic
    corpus is perfectly separable, so its curve was flat 0.1→0.9 and
    the calibration never demonstrated a knee — now the pair count
    decays monotonically through the 0.5–0.7 rows and flattens at
    the 25 near-copy pairs above them. The q219/q220 calibration
    discipline applied to the threshold knob itself.

    Report: (tau_ppm, n_pairs, n_docs_in_pairs) per grid point —
    cumulative (≥ τ), exact-ppm integer Jaccard so both engines
    bucket identically.

    100 TB shape: q81's (two keyed joins onto the band candidates, no
    cross join), then the ≤|grid|·|pairs| explode is near-dup-sparse
    and the report is grid-sized; the planted derivation is one
    narrow projection over ~5% of the scan.
    """
    planted = _sweep_planted_docs(t(spark, sf_dir, "documents"))
    cands = band_candidates_from(_spread(spark, planted))
    sh = _with_shingle_sets(planted).select("doc_id", "sh")
    j = cands.join(
        sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")),
        "id_a",
    ).join(
        sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")),
        "id_b",
    )
    scored = j.select(
        "id_a", "id_b",
        F.expr(
            f"CAST(size(array_intersect(sh_a, sh_b)) * 1000000 "
            f"div size(array_union(sh_a, sh_b)) AS BIGINT)"
        ).alias("jacc_ppm"),
    ).persist()
    # materialize the pairs-grain scores ONCE before the grid tail:
    # `hits` is referenced THREE times below (pairs_per + both arms of
    # docs_long), and Spark does not share common subtrees across
    # branches — without this the band join + both shingle joins +
    # the intersect/union scoring ran 3x in one action, as concurrent
    # stages fighting for execution memory (measured 7-52 s/run at
    # sf0.1; 3 persisted-score reps sit at ~2.5-3.5 s). Pairs-grain
    # is near-dup-sparse — orders below the corpus at any scale (the
    # band_candidates_from/fs_classify materialization discipline).
    scored.count()
    taus = spark.createDataFrame(
        [(t,) for t in _SWEEP_TAUS], "tau_ppm long"
    )
    hits = scored.crossJoin(F.broadcast(taus)).filter(
        F.col("jacc_ppm") >= F.col("tau_ppm")
    )
    docs_long = hits.select("tau_ppm", F.col("id_a").alias("d")).unionByName(
        hits.select("tau_ppm", F.col("id_b").alias("d"))
    )
    pairs_per = hits.groupBy("tau_ppm").agg(F.count("*").alias("n_pairs"))
    docs_per = docs_long.groupBy("tau_ppm").agg(
        F.countDistinct("d").alias("n_docs_in_pairs")
    )
    return (
        taus.join(pairs_per, "tau_ppm", "left")
        .join(docs_per, "tau_ppm", "left")
        .select(
            "tau_ppm",
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            F.coalesce("n_docs_in_pairs", F.lit(0)).alias("n_docs_in_pairs"),
        )
        .orderBy("tau_ppm")
    )


O222 = f"""
WITH vtoks AS (
  SELECT doc_id, {TOKS} AS tk FROM documents
  WHERE text IS NOT NULL AND doc_id % 19 = 0
), vkept AS (
  -- kept-fraction computed against the BASE doc_id in its own CTE so
  -- the +1e8 alias below can never shadow it (alias-precedence rules
  -- differ across engines; the old single-SELECT form depended on
  -- DuckDB resolving the base column over the lateral alias)
  SELECT doc_id,
         array_to_string(
           tk[1 : GREATEST(3, (len(tk) * (40 + 5 * ((doc_id // 19) % 7)))
                              // 100)],
           ' ') AS text
  FROM vtoks WHERE len(tk) >= 8
), vari AS (
  -- collision-free planted offset: strictly above every real id at
  -- any scale (mirrors the Spark-side max-derived offset)
  SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents) AS doc_id, text
  FROM vkept
), alldocs AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id, text FROM vari
), sigs AS (
  SELECT doc_id, {_duck_mh(0)} AS mh0, {_duck_mh(1)} AS mh1,
         {_duck_mh(2)} AS mh2, {_duck_mh(3)} AS mh3
  FROM alldocs
), long AS (
  SELECT doc_id, mh0 AS sig FROM sigs UNION ALL SELECT doc_id, mh1 FROM sigs
  UNION ALL SELECT doc_id, mh2 FROM sigs UNION ALL SELECT doc_id, mh3 FROM sigs
), cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM long a JOIN long b ON a.sig = b.sig AND a.doc_id < b.doc_id
), sh AS (
  SELECT doc_id, list_distinct({_DUCK_SHINGLES}) AS sh FROM alldocs
), scored AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(a.sh, b.sh)) * 1000000
           // len(list_distinct(list_concat(a.sh, b.sh))) AS jacc_ppm
  FROM cands c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b
), taus AS (
  SELECT * FROM (VALUES {", ".join(f"({t})" for t in _SWEEP_TAUS)})
    AS t(tau_ppm)
), hits AS (
  SELECT t.tau_ppm, s.id_a, s.id_b
  FROM scored s JOIN taus t ON s.jacc_ppm >= t.tau_ppm
), dl AS (
  SELECT tau_ppm, id_a AS d FROM hits
  UNION ALL SELECT tau_ppm, id_b FROM hits
)
SELECT t.tau_ppm,
       COALESCE(p.n_pairs, 0) AS n_pairs,
       COALESCE(dd.n_docs_in_pairs, 0) AS n_docs_in_pairs
FROM taus t
LEFT JOIN (SELECT tau_ppm, CAST(COUNT(*) AS BIGINT) AS n_pairs
           FROM hits GROUP BY tau_ppm) p USING (tau_ppm)
LEFT JOIN (SELECT tau_ppm, CAST(COUNT(DISTINCT d) AS BIGINT)
             AS n_docs_in_pairs FROM dl GROUP BY tau_ppm) dd USING (tau_ppm)
ORDER BY t.tau_ppm
"""


_PCT_EPOCHS = 2  # unrolled batch-perceptron epochs (the q212 recipe)


def _pct_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q224's feature scan over the documents table (see
    :func:`pct_features_from` — one definition, batch and stream)."""
    return pct_features_from(t(spark, sf_dir, "documents"))


def pct_features_from(docs: DataFrame) -> DataFrame:
    """q224's feature scan: one narrow pass over documents emitting
    the integer feature vector (1, n_toks, stop_n, n_chars) and the
    label y = +1 for lang='en' else -1 (NULL lang folded to -1, the
    q221 discipline). All-integer so the whole training loop is
    engine-exact."""
    d = docs.withColumn("_toks", _toks())
    return d.select(
        F.when(F.coalesce(F.col("lang"), F.lit("")) == "en", 1)
        .otherwise(-1).alias("y"),
        F.coalesce(F.size("_toks"), F.lit(0)).cast("long").alias("x1"),
        F.coalesce(
            F.size(F.filter("_toks", lambda x: x.isin(*_EN_STOP))), F.lit(0)
        ).cast("long").alias("x2"),
        F.coalesce(F.col("n_chars"), F.lit(0)).cast("long").alias("x3"),
    )


def _pct_epoch_agg(feats: DataFrame, w: list[int]) -> DataFrame:
    """One batch-perceptron epoch against LITERAL weights: margin
    m = y * (w0 + w1*x1 + w2*x2 + w3*x3); a row is misclassified iff
    m <= 0 (sign(0) counts as wrong — the classic convention, which
    also makes the zero-weight first epoch deterministic); the update
    is the SUM of y*x over misclassified rows. One narrow scan, one
    1-row agg — no join, no window, map-side combined."""
    m = F.expr(f"y * ({w[0]} + {w[1]} * x1 + {w[2]} * x2 + {w[3]} * x3)")
    return feats.select((m <= 0).cast("int").alias("miss"),
                        "y", "x1", "x2", "x3").agg(
        F.sum("miss").cast("long").alias("n_miss"),
        F.sum(F.expr("miss * y")).cast("long").alias("d0"),
        F.sum(F.expr("miss * y * x1")).cast("long").alias("d1"),
        F.sum(F.expr("miss * y * x2")).cast("long").alias("d2"),
        F.sum(F.expr("miss * y * x3")).cast("long").alias("d3"),
    )


def q224_perceptron_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCEPTRON quality-classifier TRAINING — {_PCT_EPOCHS} unrolled
    batch epochs (Rosenblatt's rule in its batch form: w += sum of
    y*x over misclassified rows) over all-integer document features,
    so the full training loop replays value-exactly in the oracle —
    the q212 unrolled-trained-component recipe applied to the linear
    classifier family (the fasttext-style quality gates real curation
    pipelines train; reference parity: cortega26/polla has no trained
    ops — LLM-data extension).

    Epoch 1's update is COLLECTED (5 longs, the q208 driver-side
    materialization discipline) and embedded as literals into epoch
    2's margin expression; the final epoch stays a lazy plan so the
    driver's materialization performs a real epoch. Report: one row
    per epoch — (epoch, n_miss, w_bias, w_ntoks, w_stopn, w_nchars),
    n_miss measured against the PREVIOUS weights, weights AFTER the
    update; epoch 0 is the zero seed.

    100 TB shape per epoch: one narrow corpus scan, 4 multiply-adds
    per row JVM-side, ONE 1-row exchange (map-side combined) — the
    same strongest-possible trained shape as q212/q207."""
    feats = _pct_features(spark, sf_dir)
    w = [0, 0, 0, 0]
    rows = [(0, 0, *w)]
    for e in range(1, _PCT_EPOCHS):  # all but the last epoch
        r = _pct_epoch_agg(feats, w).collect()[0]
        w = [w[i] + r[f"d{i}"] for i in range(4)]
        rows.append((e, r["n_miss"], *w))
    lit = spark.createDataFrame(
        rows,
        "epoch long, n_miss long, w_bias long, w_ntoks long, "
        "w_stopn long, w_nchars long",
    )
    last = _pct_epoch_agg(feats, w).select(
        F.lit(_PCT_EPOCHS).cast("long").alias("epoch"),
        "n_miss",
        *[
            (F.lit(w[i]) + F.col(f"d{i}")).cast("long").alias(name)
            for i, name in enumerate(
                ["w_bias", "w_ntoks", "w_stopn", "w_nchars"]
            )
        ],
    )
    return lit.unionByName(last).orderBy("epoch")


O224 = f"""
WITH f AS (
  SELECT CASE WHEN COALESCE(lang, '') = 'en' THEN 1 ELSE -1 END AS y,
         COALESCE(len(tk), 0) AS x1,
         COALESCE(len(list_filter(tk, x -> x IN {_EN_STOP})), 0) AS x2,
         COALESCE(n_chars, 0) AS x3
  FROM (SELECT lang, n_chars, {TOKS} AS tk FROM documents)
), e1 AS (
  -- zero weights: margin y*0 = 0 <= 0, every row misclassified
  SELECT CAST(COUNT(*) AS BIGINT) AS n_miss,
         CAST(SUM(y) AS BIGINT) AS w0, CAST(SUM(y * x1) AS BIGINT) AS w1,
         CAST(SUM(y * x2) AS BIGINT) AS w2, CAST(SUM(y * x3) AS BIGINT) AS w3
  FROM f
), e2 AS (
  SELECT
    CAST(SUM(CASE WHEN y * (w0 + w1 * x1 + w2 * x2 + w3 * x3) <= 0
             THEN 1 ELSE 0 END) AS BIGINT) AS n_miss,
    CAST(MIN(w0) + SUM(CASE WHEN y * (w0 + w1 * x1 + w2 * x2 + w3 * x3) <= 0
             THEN y ELSE 0 END) AS BIGINT) AS w0,
    CAST(MIN(w1) + SUM(CASE WHEN y * (w0 + w1 * x1 + w2 * x2 + w3 * x3) <= 0
             THEN y * x1 ELSE 0 END) AS BIGINT) AS w1,
    CAST(MIN(w2) + SUM(CASE WHEN y * (w0 + w1 * x1 + w2 * x2 + w3 * x3) <= 0
             THEN y * x2 ELSE 0 END) AS BIGINT) AS w2,
    CAST(MIN(w3) + SUM(CASE WHEN y * (w0 + w1 * x1 + w2 * x2 + w3 * x3) <= 0
             THEN y * x3 ELSE 0 END) AS BIGINT) AS w3
  FROM f CROSS JOIN e1
)
SELECT CAST(0 AS BIGINT) AS epoch, CAST(0 AS BIGINT) AS n_miss,
       CAST(0 AS BIGINT) AS w_bias, CAST(0 AS BIGINT) AS w_ntoks,
       CAST(0 AS BIGINT) AS w_stopn, CAST(0 AS BIGINT) AS w_nchars
UNION ALL
SELECT 1, n_miss, w0, w1, w2, w3 FROM e1
UNION ALL
SELECT 2, n_miss, w0, w1, w2, w3 FROM e2
ORDER BY epoch
"""


#: q225's hashed-feature space (two-hex md5 prefix = 256 buckets) and
#: report size — documented constants of the query
_DSIR_TOPK = 20


def q225_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style IMPORTANCE WEIGHTS (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every
    document by how much its hashed-bigram distribution looks like a
    TARGET domain (here lang='en', the pipeline's quality proxy)
    relative to the raw corpus. Per-bucket weight = the LINEARIZED
    add-1-smoothed likelihood ratio in exact ppm, (r − 1) where
    r = ((ct+1)/(tt+256)) / ((cr+1)/(tr+256)) — hashed-bucket ratios
    concentrate near 1, where ln(r) ≈ r − 1, and the single exact
    DECIMAL(38,0) integer division replays bit-for-bit in both
    engines (a floor(ln·1e6) first cut diverged by one ulp at a
    floor boundary — measured, hence the q213 exact-rational
    discipline instead; DECIMAL headroom covers corpora to ~10^16
    bigrams). Per-doc importance = sum of bucket weights over the
    doc's bigram occurrences. Report: top-{_DSIR_TOPK} docs by
    (importance_ppm desc, doc_id).

    100 TB shape: the feature space is FIXED (256 md5-prefix buckets),
    so the (cr, ct) census partial-aggregates map-side to 256 rows in
    ONE corpus pass (r11: the raw and target censuses merged into one
    conditional-count agg — same values, half the scans), the weight
    table BROADCASTS onto the corpus bigram stream, and the corpus
    never shuffles except the doc-grain importance agg + the
    per-task top-k merge — q213's LM-census discipline with a
    hashed feature space."""
    docs = t(spark, sf_dir, "documents")
    return dsir_report(docs, dsir_weight_table(dsir_census_from(docs)))


def dsir_bigrams_from(docs: DataFrame) -> DataFrame:
    """q225's hashed-bigram occurrence stream (doc_id, lang, b) —
    the shared front end of both the census and the scoring pass."""
    d = (
        docs.filter(F.col("text").isNotNull())
        .withColumn("tk", _toks())
        .filter(F.size("tk") >= 2)
    )
    return d.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "transform(sequence(1, size(tk) - 1), "
                "i -> substr(md5(concat(element_at(tk, i), ' ', "
                "element_at(tk, i + 1))), 1, 2))"
            )
        ).alias("b"),
    )


def dsir_census_from(docs: DataFrame) -> DataFrame:
    """q225's per-bucket (b, cr, ct) census — raw count + conditional
    target count, merge-closed over the fixed 256-bucket space."""
    return dsir_bigrams_from(docs).groupBy("b").agg(
        F.count("*").alias("cr"),
        F.sum(
            (F.coalesce(F.col("lang"), F.lit("")) == "en").cast("int")
        ).cast("long").alias("ct"),
    )


def dsir_weight_table(census: DataFrame) -> DataFrame:
    """q225's census-side weight table (b, w_ppm) — totals via a
    census-side global window (≤256 rows in a SinglePartition, the
    q230/q123 rule: an agg branch would rescan the corpus), then the
    exact linearized likelihood-ratio rational."""
    w = Window.partitionBy()
    return (
        census.withColumn("tr", F.sum("cr").over(w).cast("long"))
        .withColumn("tt", F.sum("ct").over(w).cast("long"))
        .select(
            "b",
            F.expr(
                "CAST((1000000 * CAST(ct + 1 AS DECIMAL(38,0)) * (tr + 256)) "
                "div (CAST(cr + 1 AS DECIMAL(38,0)) * (tt + 256)) "
                "- 1000000 AS BIGINT)"
            ).alias("w_ppm"),
        )
    )


def dsir_report(docs: DataFrame, wt: DataFrame) -> DataFrame:
    """q225's scoring pass: broadcast the 256-row weight table onto
    the bigram stream, doc-grain importance agg, top-k."""
    return (
        dsir_bigrams_from(docs)
        .join(F.broadcast(wt), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum("w_ppm").cast("long").alias("importance_ppm"),
        )
        .orderBy(F.desc("importance_ppm"), "doc_id")
        .limit(_DSIR_TOPK)
    )


O225 = f"""
WITH d AS (
  SELECT doc_id, lang, {TOKS} AS tk FROM documents
  WHERE text IS NOT NULL AND len({TOKS}) >= 2
), bg AS (
  SELECT doc_id, lang,
         substr(md5(tk[g.i] || ' ' || tk[g.i + 1]), 1, 2) AS b
  FROM d, LATERAL unnest(generate_series(1, len(tk) - 1)) AS g(i)
), census AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS cr,
         CAST(SUM(CASE WHEN COALESCE(lang, '') = 'en' THEN 1 ELSE 0 END)
              AS BIGINT) AS ct
  FROM bg GROUP BY b
), totals AS (
  SELECT CAST(SUM(cr) AS BIGINT) AS tr, CAST(SUM(ct) AS BIGINT) AS tt
  FROM census
), wt AS (
  SELECT b,
         CAST((1000000 * CAST(ct + 1 AS HUGEINT) * (tr + 256))
              // (CAST(cr + 1 AS HUGEINT) * (tt + 256))
              - 1000000 AS BIGINT) AS w_ppm
  FROM census CROSS JOIN totals
)
SELECT bg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(w.w_ppm) AS BIGINT) AS importance_ppm
FROM bg JOIN wt w USING (b)
GROUP BY bg.doc_id
ORDER BY importance_ppm DESC, bg.doc_id
LIMIT {_DSIR_TOPK}
"""


def q226_source_quality_lcb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOURCE quality LEADERBOARD by Wilson LOWER confidence bound —
    the ranking a curation pipeline uses to budget crawl/ingest across
    sources: a source with 3/3 passing docs must NOT outrank one with
    90/100, which the raw pass rate does and the Wilson score interval
    (Wilson 1927; the classic z-approximate binomial LCB) fixes. Gate
    = q84's family in exact integer form (≥ 5 tokens AND the
    50·stops ≥ tokens English-stopword test, NULL lang folding per
    the q221 discipline — a non-'en' doc passes the stopword leg).

    EXACT-INTEGER Wilson at z = 2 (z² = 4), derivation documented as
    spec: LB = (k + 2 − 2·√((k·(n−k) + n)/n)) / (n + 4), computed in
    ppm as ((k+2)·10⁶ − 2·isqrt((10¹²·(k·(n−k)+n)) div n)) div (n+4)
    — the ±1-adjusted :func:`_isqrt_sql` makes the root exact on both
    engines, and the two floor-divisions are the pinned quantization
    order (the q213 discipline). EVERY wide intermediate — the
    product, the inner floor-div (via :func:`_fdiv_dec_sql`, because
    Spark's ``div`` returns BIGINT and silently wraps wide quotients
    even under ANSI), the isqrt seed squares, and the (k+2)·10⁶
    numerator — runs in DECIMAL(38,0) (oracle: HUGEINT), so the
    certified headroom is 10¹³ docs per source, enforced by an
    in-plan raise_error() certificate rather than claimed (see
    :func:`source_quality_leaderboard`).

    Report: (source, n_docs, n_pass, pass_ppm, wilson_lb_ppm) ordered
    by (wilson_lb_ppm desc, source).

    100 TB shape: ONE corpus scan partial-aggregating to a
    sources-bounded (n, k) census; the leaderboard arithmetic runs on
    census rows; the sort is census-sized. Nothing else shuffles."""
    return source_quality_leaderboard(
        source_quality_census_from(t(spark, sf_dir, "documents"))
    )


def source_quality_census_from(docs: DataFrame) -> DataFrame:
    """q226's (source, n_docs, n_pass) census — merge-closed counts."""
    d = docs.withColumn("_toks", _toks())
    n_toks = F.size("_toks")
    stop_n = F.size(F.filter("_toks", lambda x: x.isin(*_EN_STOP)))
    passed = (
        (n_toks >= 5)
        & (
            (F.coalesce(F.col("lang"), F.lit("")) != "en")
            | (50 * stop_n >= n_toks)
        )
    ).cast("int")
    return d.select(F.col("source"), passed.alias("p")).groupBy(
        "source"
    ).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("p").cast("long").alias("n_pass"),
    )


def source_quality_leaderboard(census: DataFrame) -> DataFrame:
    """q226's census-side Wilson-LCB arithmetic + ordering.

    Every intermediate that can pass BIGINT runs in DECIMAL(38,0)
    (oracle: HUGEINT) — including the floor-divisions, which on
    Spark go through :func:`_fdiv_dec_sql` because the ``div``
    operator RETURNS BIGINT and silently wraps wide quotients even
    under ANSI (the r10 ADVICE item, found to be worse than filed:
    the old quotient wrapped silently from ~3.7e7 docs/source). The
    certified headroom is now 10¹³ docs per source — N = 10¹²·
    (k·(n−k)+n) ≤ 2.5·10³⁷ < 10³⁸ — with an in-plan certificate
    (A·n ≤ N < (A+1)·n) that raise_error()s loudly on any exactness
    failure instead of drifting."""
    c = (
        census.withColumn(
            "_wn",
            F.expr(
                "CAST(1000000000000 AS DECIMAL(38,0)) * "
                "(CAST(n_pass AS DECIMAL(38,0)) * (n_docs - n_pass) + n_docs)"
            ),
        )
        .withColumn("_wa", F.expr(_fdiv_dec_sql("_wn", "n_docs")))
        .withColumn(
            "_wa",
            F.expr(
                "CASE WHEN _wa >= 0 AND _wa * n_docs <= _wn "
                "AND _wn - _wa * n_docs < n_docs THEN _wa "
                "ELSE CAST(raise_error('q226: floor-div exactness "
                "certificate failed') AS DECIMAL(38,0)) END"
            ),
        )
        .withColumn("_wr", F.expr(_isqrt_sql("_wa", t="DECIMAL(38,0)")))
    )
    return c.select(
        "source",
        "n_docs",
        "n_pass",
        F.expr(
            "CAST(CAST(n_pass AS DECIMAL(38,0)) * 1000000 div n_docs "
            "AS BIGINT)"
        ).alias("pass_ppm"),
        F.expr(
            "CAST(((CAST(n_pass AS DECIMAL(38,0)) + 2) * 1000000 - 2 * _wr) "
            "div (n_docs + 4) AS BIGINT)"
        ).alias("wilson_lb_ppm"),
    ).orderBy(F.desc("wilson_lb_ppm"), "source")


def _o226() -> str:
    # HUGEINT throughout: the product, the floor-div (DuckDB's // is
    # exact natively — no _fdiv_dec_sql needed) and the isqrt seed
    # squares, mirroring the Spark side's DECIMAL(38,0) headroom.
    root = _isqrt_sql(
        "((CAST(1000000000000 AS HUGEINT) * "
        "(CAST(n_pass AS HUGEINT) * (n_docs - n_pass) + n_docs)) "
        "// n_docs)",
        t="HUGEINT",
    )
    return f"""
WITH d AS (
  SELECT source, lang, {TOKS} AS tk FROM documents
), census AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN len(tk) >= 5
                        AND (COALESCE(lang, '') <> 'en'
                             OR 50 * len(list_filter(tk, x -> x IN {_EN_STOP}))
                                >= len(tk))
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
  FROM d GROUP BY source
)
SELECT source, n_docs, n_pass,
       CAST(CAST(n_pass AS HUGEINT) * 1000000 // n_docs AS BIGINT)
           AS pass_ppm,
       CAST(((CAST(n_pass AS HUGEINT) + 2) * 1000000 - 2 * {root})
            // (n_docs + 4) AS BIGINT) AS wilson_lb_ppm
FROM census
ORDER BY wilson_lb_ppm DESC, source
"""


O226 = _o226()


def q227_incremental_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL LSH candidate maintenance — the per-batch form of
    q53 an incremental crawl dedup runs (q97's first-seen verdicts
    and q183's bloom probe are the exact tiers; this is the NEAR-dup
    tier): given a HISTORY snapshot (doc_id % 3 != 0) whose band
    buckets a production pipeline keeps materialized, and a DELTA
    batch (% 3 == 0), emit exactly the candidate pairs that involve
    a delta doc — history×history pairs are never enumerated (they
    were found when their batches arrived). Report: (id_a, id_b,
    both_new) with the pair normalized id_a < id_b.

    100 TB shape: the probe side of the band join is DELTA-sized
    (4 band rows per new doc); the history side is the persisted
    signature table a real deployment keeps bucketed BY sig (here
    rebuilt in-plan — queries are state-free — through the identical
    `minhash_bands` kernel). Work per batch is |delta| probes +
    |new candidates|, independent of how much history accumulates
    except through bucket width."""
    # the band table feeds both the history and delta sides of the
    # probe join (plan-lifetime cache, see band_table)
    bands = band_table(minhash_bands(_spread(spark, t(spark, sf_dir, "documents"))))
    delta = bands.filter(F.pmod("doc_id", F.lit(3)) == 0)
    cand = (
        band_pairs(delta, bands, "id_n", "id_o")
        .filter(F.col("id_n") != F.col("id_o"))
        .select(
            F.least("id_n", "id_o").alias("id_a"),
            F.greatest("id_n", "id_o").alias("id_b"),
        )
        .distinct()
    )
    return cand.select(
        "id_a",
        "id_b",
        (
            (F.pmod("id_a", F.lit(3)) == 0) & (F.pmod("id_b", F.lit(3)) == 0)
        ).cast("int").alias("both_new"),
    ).orderBy("id_a", "id_b")


O227 = f"""
WITH sigs AS (
  SELECT doc_id, {_duck_mh(0)} AS mh0, {_duck_mh(1)} AS mh1,
         {_duck_mh(2)} AS mh2, {_duck_mh(3)} AS mh3
  FROM documents
), long AS (
  SELECT doc_id, mh0 AS sig FROM sigs UNION ALL SELECT doc_id, mh1 FROM sigs
  UNION ALL SELECT doc_id, mh2 FROM sigs UNION ALL SELECT doc_id, mh3 FROM sigs
), cand AS (
  SELECT DISTINCT LEAST(n.doc_id, o.doc_id) AS id_a,
                  GREATEST(n.doc_id, o.doc_id) AS id_b
  FROM long n JOIN long o ON n.sig = o.sig AND n.doc_id <> o.doc_id
  WHERE n.doc_id % 3 = 0
)
SELECT id_a, id_b,
       CASE WHEN id_a % 3 = 0 AND id_b % 3 = 0 THEN 1 ELSE 0 END AS both_new
FROM cand
ORDER BY id_a, id_b
"""


def q229_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding DISTRIBUTION-DRIFT census between two snapshots —
    the monitoring pass a training pipeline runs when a new crawl or
    a new encoder lands: per dimension, the mean of the int8-quantized
    codes (q77/q212's shared `_quant` kernel) in the OLD snapshot
    (vec_id % 3 != 0) vs the NEW batch (% 3 == 0), in exact ppm via
    the q212 non-negative shift (s127 = Σ(code + 127) ≥ 0, so both
    engines' truncating divisions agree without a negative-floor
    convention note). Report: one row per dimension —
    (pos, old_mean127_ppm, new_mean127_ppm, delta_ppm) ordered by
    pos; a drifted encoder or a shifted corpus shows up as a fat
    |delta| tail.

    100 TB shape: ONE corpus scan posexploding to the (slice, pos)
    partial agg — K·64-row output, map-side combined (exactly q212's
    update-census exchange); the report is 64 rows."""
    return embedding_drift_report(
        embedding_drift_census_from(t(spark, sf_dir, "embeddings"))
    )


def embedding_drift_census_from(vecs: DataFrame) -> DataFrame:
    """q229's (is_new, pos, s127, n) census — merge-closed sums over
    a fixed 2×64-key space."""
    coded = vecs.select("vec_id", _quant(F.col("embedding")).alias("qe"))
    return (
        coded.select(
            (F.pmod("vec_id", F.lit(3)) == 0).cast("int").alias("is_new"),
            F.posexplode("qe").alias("pos", "v"),
        )
        .groupBy("is_new", "pos")
        .agg(
            F.sum(F.col("v") + F.lit(127)).cast("long").alias("s127"),
            F.count("*").alias("n"),
        )
    )


def embedding_drift_report(census: DataFrame) -> DataFrame:
    """q229's census-side means + old/new pivot + report: everything
    here runs on ≤ 2×64 census rows."""
    per = census.select(
        "is_new", "pos", F.expr("s127 * 1000000 div n").alias("mean127_ppm")
    )
    old = per.filter(F.col("is_new") == 0).select(
        "pos", F.col("mean127_ppm").alias("old_mean127_ppm")
    )
    # distinct join-key name: both branches read the SAME relation,
    # and a bare self-join on "pos" can fail analysis with
    # conflicting references
    new = per.filter(F.col("is_new") == 1).select(
        F.col("pos").alias("pos_new"),
        F.col("mean127_ppm").alias("new_mean127_ppm"),
    )
    return (
        old.join(new, F.col("pos") == F.col("pos_new"))
        .select(
            F.col("pos").cast("long").alias("pos"),
            "old_mean127_ppm",
            "new_mean127_ppm",
            (F.col("new_mean127_ppm") - F.col("old_mean127_ppm")).alias(
                "delta_ppm"
            ),
        )
        .orderBy("pos")
    )


O229 = f"""
WITH coded AS (
  SELECT vec_id, {_QUANT_DUCK.format(c='embedding')} AS qe FROM embeddings
), per AS (
  SELECT CASE WHEN vec_id % 3 = 0 THEN 1 ELSE 0 END AS is_new, g.i AS pos,
         CAST(SUM(qe[g.i] + 127) AS BIGINT) AS s127,
         COUNT(*) AS n
  FROM coded CROSS JOIN generate_series(1, {_LLOYD_DIM}) g(i)
  GROUP BY 1, 2
), m AS (
  SELECT is_new, pos, s127 * 1000000 // n AS mean127_ppm FROM per
)
SELECT CAST(o.pos - 1 AS BIGINT) AS pos,
       o.mean127_ppm AS old_mean127_ppm,
       n.mean127_ppm AS new_mean127_ppm,
       n.mean127_ppm - o.mean127_ppm AS delta_ppm
FROM m o JOIN m n ON o.pos = n.pos AND o.is_new = 0 AND n.is_new = 1
ORDER BY pos
"""


_DRIFT_BUCKETS = 20  # q230's fixed-width n_chars buckets (100 chars wide)


def q230_length_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LENGTH-DISTRIBUTION drift between snapshots, as an EXACT
    integer chi-square census — the dataset-shift check (the PSI /
    chi-square family every ingest monitor ships) between the OLD
    snapshot (doc_id % 3 != 0) and the NEW batch (% 3 == 0) over
    {_DRIFT_BUCKETS} fixed-width n_chars buckets. The per-bucket
    statistic (ca/na − cb/nb)²/((cb+1)/nb) is cross-multiplied to
    one exact rational, (ca·nb − cb·na)²·10⁹ div (na²·nb·(cb+1)),
    evaluated in DECIMAL(38,0) (oracle: HUGEINT) with add-1 smoothing
    on the reference bucket — the q151 chi-square brought under the
    repo's exact-arithmetic discipline (q151 folds doubles; drift
    monitoring wants bit-stable alarms). Report: one row per
    OCCUPIED bucket — (bucket, n_old, n_new, chi2_ppb) — plus
    per-bucket ppm shares, ordered by bucket.

    100 TB shape: one corpus scan partial-aggregating to a
    ≤{_DRIFT_BUCKETS}·2-row census; every division happens
    census-side."""
    return length_drift_report(
        length_census_from(t(spark, sf_dir, "documents"))
    )


def length_census_from(docs: DataFrame) -> DataFrame:
    """q230's per-bucket (ca, cb) census — merge-closed counts over
    a fixed ≤{_DRIFT_BUCKETS}-key space."""
    d = docs.select(
        (F.pmod("doc_id", F.lit(3)) == 0).cast("int").alias("is_new"),
        # integer div on BOTH sides: DuckDB's CAST(float AS INTEGER)
        # rounds where Spark's cast truncates, so a float / would
        # shift boundary docs into different buckets per engine
        F.expr(
            f"least(coalesce(n_chars, 0) div 100, {_DRIFT_BUCKETS - 1})"
        ).cast("int").alias("bucket"),
    )
    return d.groupBy("bucket").agg(
        F.sum(F.expr("1 - is_new")).cast("long").alias("ca"),
        F.sum("is_new").cast("long").alias("cb"),
    )


def length_drift_report(per: DataFrame) -> DataFrame:
    """q230's census-side totals + exact chi-square rational."""
    # totals via a census-side global window (<= _DRIFT_BUCKETS rows
    # in a SinglePartition — data-size-independent, the q123 rule):
    # a separate agg branch would RESCAN the corpus for the totals
    w = Window.partitionBy()
    per = per.withColumn("na", F.sum("ca").over(w).cast("long")).withColumn(
        "nb", F.sum("cb").over(w).cast("long")
    )
    dd = "CAST(ca * nb - cb * na AS DECIMAL(38,0))"
    return (
        per
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            F.col("ca").alias("n_old"),
            F.col("cb").alias("n_new"),
            F.expr("ca * 1000000 div na").alias("old_ppm"),
            F.expr("cb * 1000000 div nb").alias("new_ppm"),
            F.expr(
                f"CAST(({dd} * (ca * nb - cb * na) * 1000000000) div "
                "(CAST(na AS DECIMAL(38,0)) * na * nb * (cb + 1)) AS BIGINT)"
            ).alias("chi2_ppb"),
        )
        .orderBy("bucket")
    )


O230 = f"""
WITH d AS (
  SELECT CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS is_new,
         LEAST(COALESCE(n_chars, 0) // 100, {_DRIFT_BUCKETS - 1}) AS bucket
  FROM documents
), per AS (
  SELECT bucket, CAST(SUM(1 - is_new) AS BIGINT) AS ca,
         CAST(SUM(is_new) AS BIGINT) AS cb
  FROM d GROUP BY bucket
), tot AS (
  SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
  FROM per
)
SELECT CAST(bucket AS BIGINT) AS bucket, ca AS n_old, cb AS n_new,
       ca * 1000000 // na AS old_ppm,
       cb * 1000000 // nb AS new_ppm,
       CAST((CAST(ca * nb - cb * na AS HUGEINT) * (ca * nb - cb * na)
             * 1000000000)
            // (CAST(na AS HUGEINT) * na * nb * (cb + 1)) AS BIGINT)
         AS chi2_ppb
FROM per CROSS JOIN tot
ORDER BY bucket
"""


_REP_TOPK = 20  # q228's report size


def q228_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document REPETITION PROFILE — the multi-gate form of
    q88's single duplicate-shingle signal, after the published Gopher
    repetition filters (Rae et al. 2021, table A1 family): per doc,
    the duplicate n-gram fraction for n = 2, 3, 4 and the mass share
    of the single most-common bigram, all in exact ppm integers.
    Report: the top-{_REP_TOPK} most repetitive docs by
    (dup3_ppm desc, doc_id) with every signal riding along — the
    review queue a repetition gate's threshold is tuned against.

    100 TB shape (r12): EVERY signal is WITHIN-ROW — the duplicate
    fractions via size vs array_distinct size, and the top-bigram
    mass as the longest run in the doc's SORTED bigram array (max
    run length of a sorted multiset == max multiplicity, and the
    denominator is just size(g2)); one in-row sort + one linear
    fold per doc replaces the r10 (doc_id, gram) exchange + doc-grain
    agg + doc-grain join (guide §2.4: the shuffle carried every
    corpus token to compute a per-row statistic). The whole query is
    ONE scan finished by a per-task top-k merge — zero data-sized
    exchanges; per-task cost goes n → n·log n per doc, the classic
    CPU-for-network trade."""
    d = (
        t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .withColumn("tk", _toks())
        .filter(F.size("tk") >= 4)
    )

    def grams(n: int):
        return F.expr(
            f"transform(sequence(1, size(tk) - {n - 1}), "
            f"i -> concat_ws(' ', slice(tk, i, {n})))"
        )

    # max multiplicity of any bigram, computed in-row: sort the gram
    # array, then fold once tracking the current and best run length
    _is_run = "s.prev IS NOT NULL AND x = s.prev"
    top_mult_sql = (
        "aggregate(array_sort(g2), "
        "struct(CAST(NULL AS STRING) AS prev, 0L AS run, 0L AS best), "
        f"(s, x) -> struct(x AS prev, "
        f"IF({_is_run}, s.run + 1L, 1L) AS run, "
        f"greatest(s.best, IF({_is_run}, s.run + 1L, 1L)) AS best), "
        "s -> s.best)"
    )
    per_doc = (
        d.withColumns({f"g{n}": grams(n) for n in (2, 3, 4)})
        .select(
            "doc_id",
            F.size("tk").cast("long").alias("n_toks"),
            *[
                F.expr(
                    f"CAST((size(g{n}) - size(array_distinct(g{n}))) * "
                    f"1000000 div size(g{n}) AS BIGINT)"
                ).alias(f"dup{n}_ppm")
                for n in (2, 3, 4)
            ],
            F.expr(f"CAST(({top_mult_sql}) * 1000000 div size(g2) AS BIGINT)")
            .alias("top_bigram_ppm"),
        )
    )
    return (
        per_doc.orderBy(F.desc("dup3_ppm"), "doc_id")
        .limit(_REP_TOPK)
    )


O228 = f"""
WITH d AS (
  SELECT doc_id, {TOKS} AS tk FROM documents
  WHERE text IS NOT NULL AND len({TOKS}) >= 4
), g AS (
  SELECT doc_id, len(tk) AS n_toks,
         list_transform(generate_series(1, len(tk) - 1),
                        i -> concat_ws(' ', tk[i], tk[i+1])) AS g2,
         list_transform(generate_series(1, len(tk) - 2),
                        i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2])) AS g3,
         list_transform(generate_series(1, len(tk) - 3),
                        i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3]))
           AS g4
  FROM d
), per_doc AS (
  SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
         CAST((len(g2) - len(list_distinct(g2))) * 1000000 // len(g2)
              AS BIGINT) AS dup2_ppm,
         CAST((len(g3) - len(list_distinct(g3))) * 1000000 // len(g3)
              AS BIGINT) AS dup3_ppm,
         CAST((len(g4) - len(list_distinct(g4))) * 1000000 // len(g4)
              AS BIGINT) AS dup4_ppm
  FROM g
), ex AS (
  SELECT doc_id, u.g AS gram FROM g, LATERAL unnest(g2) AS u(g)
), cnt AS (
  SELECT doc_id, gram, COUNT(*) AS c FROM ex GROUP BY doc_id, gram
), top2 AS (
  SELECT doc_id,
         CAST(MAX(c) * 1000000 // SUM(c) AS BIGINT) AS top_bigram_ppm
  FROM cnt GROUP BY doc_id
)
SELECT p.doc_id, p.n_toks, p.dup2_ppm, p.dup3_ppm, p.dup4_ppm,
       t.top_bigram_ppm
FROM per_doc p JOIN top2 t USING (doc_id)
ORDER BY p.dup3_ppm DESC, p.doc_id
LIMIT {_REP_TOPK}
"""


def q231_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-language QUALITY TERTILES (Wenzek et al. 2020:
    bucket each language's corpus into head/middle/tail by a per-doc
    LM-quality score, then budget training data by bucket). The score
    here is the exact-integer stopword-density ppm (q226's gate
    family — the cheap proxy the tertile MACHINERY is demonstrated
    on; swapping in q213's smoothed-LM score changes one column).
    Tertile boundaries are EXACT and tie-stable: they are computed on
    the per-(lang, score) HISTOGRAM (never by ntile/row_number over
    docs, whose tie-splitting is engine-arbitrary) — a score row is
    'head' if it STARTS inside the top third of its language's doc
    count (3·(cum − cnt) < total, cum = docs at or above this score),
    'middle' if inside the top two thirds, else 'tail', so every doc
    with the same (lang, score) lands in the same bucket on both
    engines. NULL lang folds to '' (the q221 discipline).

    Report: (lang, bucket, n_docs, sum_tokens, lo_score_ppm,
    hi_score_ppm) ordered by (lang, bucket).

    100 TB shape: ONE corpus scan partial-aggregating to the
    (lang, score) histogram (≤ 10⁶ ppm values per language), a
    per-language window over that histogram, and a histogram-sized
    re-agg — the q130/q131 histogram-rank discipline applied to
    quantile bucketing; the corpus never shuffles at doc grain."""
    return quality_tertiles_report(
        quality_hist_from(t(spark, sf_dir, "documents"))
    )


def quality_hist_from(docs: DataFrame) -> DataFrame:
    """q231's per-(lang, score_ppm) histogram — merge-closed doc and
    token counts."""
    d = (
        docs.filter(F.col("text").isNotNull())
        .withColumn("_toks", _toks())
        .filter(F.size("_toks") >= 1)
    )
    return (
        d.select(
            F.coalesce(F.col("lang"), F.lit("")).alias("lang"),
            F.expr(
                f"CAST(size(filter(_toks, x -> x IN {_EN_STOP} )) "
                "* 1000000 div size(_toks) AS BIGINT)"
            ).alias("score_ppm"),
            F.size("_toks").cast("long").alias("ntk"),
        )
        .groupBy("lang", "score_ppm")
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum("ntk").cast("long").alias("stoks"),
        )
    )


def quality_tertiles_report(hist: DataFrame) -> DataFrame:
    """q231's histogram-side tertile bucketing + report — everything
    here runs on histogram rows."""
    w = (
        Window.partitionBy("lang")
        .orderBy(F.desc("score_ppm"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("lang")
    h = hist.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "total", F.sum("cnt").over(wt)
    )
    bucket = (
        F.when(3 * (F.col("cum") - F.col("cnt")) < F.col("total"), "head")
        .when(3 * (F.col("cum") - F.col("cnt")) < 2 * F.col("total"), "middle")
        .otherwise("tail")
    )
    return (
        h.withColumn("bucket", bucket)
        .groupBy("lang", "bucket")
        .agg(
            F.sum("cnt").cast("long").alias("n_docs"),
            F.sum("stoks").cast("long").alias("sum_tokens"),
            F.min("score_ppm").alias("lo_score_ppm"),
            F.max("score_ppm").alias("hi_score_ppm"),
        )
        .orderBy("lang", "bucket")
    )


O231 = f"""
WITH d AS (
  SELECT COALESCE(lang, '') AS lang, {TOKS} AS tk FROM documents
  WHERE text IS NOT NULL AND len({TOKS}) >= 1
), hist AS (
  SELECT lang,
         CAST(len(list_filter(tk, x -> x IN {_EN_STOP})) * 1000000
              // len(tk) AS BIGINT) AS score_ppm,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(SUM(len(tk)) AS BIGINT) AS stoks
  FROM d GROUP BY 1, 2
), h AS (
  SELECT *,
         SUM(cnt) OVER (PARTITION BY lang ORDER BY score_ppm DESC
                        ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER (PARTITION BY lang) AS total
  FROM hist
), b AS (
  SELECT lang,
         CASE WHEN 3 * (cum - cnt) < total THEN 'head'
              WHEN 3 * (cum - cnt) < 2 * total THEN 'middle'
              ELSE 'tail' END AS bucket,
         cnt, stoks, score_ppm
  FROM h
)
SELECT lang, bucket, CAST(SUM(cnt) AS BIGINT) AS n_docs,
       CAST(SUM(stoks) AS BIGINT) AS sum_tokens,
       MIN(score_ppm) AS lo_score_ppm, MAX(score_ppm) AS hi_score_ppm
FROM b GROUP BY lang, bucket ORDER BY lang, bucket
"""


def q232_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-SOURCE vocabulary-overlap matrix — the corpus-mixing
    diagnostic run before blending crawls: per source pair, the EXACT
    Jaccard (in ppm) between the sources' distinct-token vocabularies.
    High overlap says the sources duplicate each other's coverage
    (mix budget is wasted); near-zero says they are complementary.
    Report: (source_a, source_b, v_a, v_b, n_common, jaccard_ppm)
    ordered by (source_a, source_b).

    100 TB shape: one corpus scan to the DISTINCT (source, term)
    table (vocabulary-grouped — Heaps-sublinear, the corpus never
    re-shuffles), a term-keyed self-join whose output is bounded by
    |V|·S² for S sources (S is small and fixed), and source-pair-
    sized arithmetic. The exact-set analog of the q219 sketch
    calibrations."""
    return vocab_overlap_report(
        source_term_census_from(t(spark, sf_dir, "documents")).select(
            "source", "term"
        )
    )


def source_term_census_from(docs: DataFrame) -> DataFrame:
    """q232's per-(source, term) census — merge-closed counts over
    |sources| × vocabulary keys: Heaps-sublinear in the corpus,
    never doc-sized."""
    return (
        docs.filter(F.col("text").isNotNull())
        .withColumn("tk", _toks())
        .select("source", F.explode("tk").alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def vocab_overlap_report(sv: DataFrame) -> DataFrame:
    """q232's report tail over the DISTINCT (source, term) table (the
    rename-before-join below handles the self-join ambiguity)."""
    vs = sv.groupBy("source").agg(F.count("*").cast("long").alias("v"))
    inter = (
        sv.select(F.col("source").alias("source_a"), "term")
        .join(sv.select(F.col("source").alias("source_b"), "term"), "term")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    return (
        inter.join(
            vs.select(F.col("source").alias("source_a"), F.col("v").alias("v_a")),
            "source_a",
        )
        .join(
            vs.select(F.col("source").alias("source_b"), F.col("v").alias("v_b")),
            "source_b",
        )
        .select(
            "source_a", "source_b", "v_a", "v_b", "n_common",
            # wide-intermediate rule (q226 discipline): n_common*1e6
            # is safe to ~9.2e12 shared terms as bare BIGINT, but
            # Spark's div wraps silently on overflow, so route the
            # product through DECIMAL(38,0) anyway — one cast, zero
            # ambiguity at any vocabulary size.
            F.expr(
                "CAST(CAST(n_common AS DECIMAL(38,0)) * 1000000 "
                "div (v_a + v_b - n_common) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
        .orderBy("source_a", "source_b")
    )


O232 = f"""
WITH sv AS (
  SELECT DISTINCT source, u.t AS term
  FROM (SELECT source, {TOKS} AS tk FROM documents WHERE text IS NOT NULL),
       LATERAL unnest(tk) AS u(t)
), vs AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS v FROM sv GROUP BY source
), inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM sv a JOIN sv b ON a.term = b.term AND a.source < b.source
  GROUP BY 1, 2
)
SELECT i.source_a, i.source_b, va.v AS v_a, vb.v AS v_b, i.n_common,
       CAST(CAST(i.n_common AS HUGEINT) * 1000000
            // (va.v + vb.v - i.n_common) AS BIGINT)
         AS jaccard_ppm
FROM inter i
JOIN vs va ON va.source = i.source_a
JOIN vs vb ON vb.source = i.source_b
ORDER BY i.source_a, i.source_b
"""


def q233_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document KEYWORD EXTRACTION — top-3 terms by an exact
    integer tf·idf surrogate (score = tf · (N div df), N = corpus doc
    count, df = term document frequency): the metadata-enrichment
    pass that tags every document with its most distinctive terms
    (search facets, topic routing). Float log-idf would rank almost
    identically but hash differently per engine; the integer rarity
    weight N div df keeps the ranking deterministic and
    oracle-exact, with ties broken by (score desc, term asc) —
    q87's BM25 machinery reduced to a corpus-wide extraction (no
    query side, every doc reported).

    Report: (doc_id, rk, term, tf, df_t, score) for rk ≤ 3, ordered
    by (doc_id, rk).

    100 TB shape: the (doc, term) tf table partial-aggregates
    map-side; the df census is vocabulary-grouped and joins back on
    term (the tf table's own key — one exchange each side); the
    top-3 is a per-doc window over the doc-keyed tf stream. Three
    exchanges total, all on uniform keys, nothing driver-side."""
    tf = (
        t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .withColumn("tk", _toks())
        .select("doc_id", F.explode("tk").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    dfc = tf.groupBy("term").agg(F.count("*").cast("long").alias("df_t"))
    nd = tf.agg(F.countDistinct("doc_id").cast("long").alias("nd"))
    scored = (
        tf.join(dfc, "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id", "term", "tf", "df_t",
            F.expr("tf * (nd div df_t)").alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.col("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", F.col("rk").cast("long").alias("rk"),
                "term", "tf", "df_t", "score")
        .orderBy("doc_id", "rk")
    )


O233 = f"""
WITH ex AS (
  SELECT doc_id, u.t AS term
  FROM (SELECT doc_id, {TOKS} AS tk FROM documents WHERE text IS NOT NULL),
       LATERAL unnest(tk) AS u(t)
), tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM ex GROUP BY doc_id, term
), dfc AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df_t FROM tf GROUP BY term
), nd AS (
  SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd FROM tf
), scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df_t, t.tf * (n.nd // d.df_t) AS score
  FROM tf t JOIN dfc d USING (term) CROSS JOIN nd n
), rk AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term) AS rk
  FROM scored
)
SELECT doc_id, CAST(rk AS BIGINT) AS rk, term, tf, df_t, score
FROM rk WHERE rk <= 3 ORDER BY doc_id, rk
"""


_ZIPF_TOPK = 50  # q234's head-profile size


def q234_zipf_head_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus ZIPF HEAD PROFILE — the top-{_ZIPF_TOPK} terms by
    frequency with rank, per-term share and CUMULATIVE share in exact
    ppm: the census a pipeline reads before choosing stopword lists,
    q218-style head cutoffs, or tokenizer special tokens (a healthy
    natural-language corpus concentrates ~20-40% of token mass in
    this head; a flat profile flags synthetic or templated data).

    Report: (rank, term, cnt, share_ppm, cum_share_ppm) ordered by
    rank; rank ties broken by term (deterministic on both engines).

    100 TB shape: one corpus scan to the vocabulary-grouped term
    census (map-side partial agg), a parallel TakeOrdered top-K, a
    1-row total broadcast, and a window over the K report rows (the
    q123 rule: single-partition windows only over report-sized
    frames — the full-vocabulary window stays in the ORACLE, where
    DuckDB pays it once at sf0.01)."""
    return zipf_head_report(
        term_census_from(t(spark, sf_dir, "documents"))
    )


def term_census_from(docs: DataFrame) -> DataFrame:
    """q234's unigram term census — a merge-closed count over the
    Heaps-sublinear vocabulary."""
    return (
        docs.filter(F.col("text").isNotNull())
        .withColumn("tk", _toks())
        .select(F.explode("tk").alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def zipf_head_report(census: DataFrame) -> DataFrame:
    """q234's census-side top-K + shares."""
    tot = census.agg(F.sum("cnt").cast("long").alias("tot"))
    top = (
        census.orderBy(F.desc("cnt"), "term").limit(_ZIPF_TOPK)
    )
    w = Window.orderBy(F.desc("cnt"), "term").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        top.crossJoin(F.broadcast(tot))
        .withColumn("rank", F.row_number().over(
            Window.orderBy(F.desc("cnt"), "term")
        ).cast("long"))
        .withColumn("cum", F.sum("cnt").over(w))
        .select(
            "rank", "term", "cnt",
            F.expr("cnt * 1000000 div tot").alias("share_ppm"),
            F.expr("cum * 1000000 div tot").alias("cum_share_ppm"),
        )
        .orderBy("rank")
    )


O234 = f"""
WITH ex AS (
  SELECT u.t AS term
  FROM (SELECT {TOKS} AS tk FROM documents WHERE text IS NOT NULL),
       LATERAL unnest(tk) AS u(t)
), census AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM ex GROUP BY term
), tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM census
), rk AS (
  SELECT term, cnt,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS rank,
         SUM(cnt) OVER (ORDER BY cnt DESC, term
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM census
)
SELECT CAST(rank AS BIGINT) AS rank, term, cnt,
       CAST(cnt * 1000000 // tot AS BIGINT) AS share_ppm,
       CAST(cum * 1000000 // tot AS BIGINT) AS cum_share_ppm
FROM rk CROSS JOIN tot WHERE rank <= {_ZIPF_TOPK} ORDER BY rank
"""


_NOVELTY_TOPK = 20  # q235's report size


def q235_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NOVELTY SCORING — per NEW doc (doc_id % 3 == 0,
    the q227/q229/q230 delta convention), the fraction of its
    DISTINCT token bigrams never seen in the OLD snapshot, in exact
    ppm: the content-freshness monitor an incremental crawl runs
    next to its dedup tiers (q97/q183/q227 ask "have I seen this
    DOC"; this asks "how much of this doc's LANGUAGE is new" — high
    novelty flags emerging topics or garbage, zero novelty flags a
    crawl stuck re-reading itself). Report: the top-{_NOVELTY_TOPK}
    most-novel docs by (novelty_ppm desc, doc_id) with
    (n_bigrams, n_novel) riding along.

    100 TB shape: the history side collapses to its DISTINCT bigram
    VOCABULARY (Heaps-sublinear — the same never-reshuffle-history
    contract as q183's word table), the delta's distinct bigrams
    LEFT-join it on the bigram key, and the doc-grain agg +
    TakeOrdered are delta-sized. Per-doc bigram dedup is ROW-LOCAL
    (array_distinct before the explode — r12: replaces the old
    corpus-wide DISTINCT exchange with per-row work). Kernels:
    ``bigram_rows_from`` / ``novelty_partials_from`` /
    ``novelty_report``."""
    docs = t(spark, sf_dir, "documents")
    bg = bigram_rows_from(docs)
    old_vocab = (
        bg.filter(F.pmod("doc_id", F.lit(3)) != 0)
        .select("term")
        .distinct()
        .withColumn("seen", F.lit(1))
    )
    delta = docs.filter(F.pmod("doc_id", F.lit(3)) == 0)
    return novelty_report(novelty_partials_from(delta, old_vocab))


def bigram_rows_from(docs: DataFrame) -> DataFrame:
    """q235's per-doc DISTINCT bigram rows — dedup is row-local
    (array_distinct inside the row, then explode), so the table
    needs no corpus-wide exchange."""
    return (
        docs.filter(F.col("text").isNotNull())
        .withColumn("tk", _toks())
        .filter(F.size("tk") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "array_distinct(transform(sequence(1, size(tk) - 1), "
                    "i -> concat(element_at(tk, i), ' ', "
                    "element_at(tk, i + 1))))"
                )
            ).alias("term"),
        )
    )


def novelty_partials_from(delta_docs: DataFrame, old_vocab: DataFrame) -> DataFrame:
    """q235's per-doc (n_bigrams, n_novel) partials: the delta's
    distinct bigrams LEFT-join the (static, Heaps-sublinear) history
    vocabulary on the bigram key, then aggregate per doc."""
    return (
        bigram_rows_from(delta_docs)
        .join(old_vocab, "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0))
            .cast("long").alias("n_novel"),
        )
    )


def novelty_report(partials: DataFrame) -> DataFrame:
    """q235's report tail — exact-ppm novelty + deterministic top-K."""
    return (
        partials.select(
            "doc_id", "n_bigrams", "n_novel",
            F.expr("n_novel * 1000000 div n_bigrams").alias("novelty_ppm"),
        )
        .orderBy(F.desc("novelty_ppm"), "doc_id")
        .limit(_NOVELTY_TOPK)
    )


O235 = f"""
WITH d AS (
  SELECT doc_id, {TOKS} AS tk FROM documents
  WHERE text IS NOT NULL AND len({TOKS}) >= 2
), bg AS (
  SELECT DISTINCT doc_id, tk[g.i] || ' ' || tk[g.i + 1] AS term
  FROM d, LATERAL unnest(generate_series(1, len(tk) - 1)) AS g(i)
), old_vocab AS (
  SELECT DISTINCT term FROM bg WHERE doc_id % 3 <> 0
)
SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(CASE WHEN o.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       CAST(SUM(CASE WHEN o.term IS NULL THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS novelty_ppm
FROM bg b LEFT JOIN old_vocab o USING (term)
WHERE b.doc_id % 3 = 0
GROUP BY b.doc_id
ORDER BY novelty_ppm DESC, b.doc_id
LIMIT {_NOVELTY_TOPK}
"""


def q236_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER-SIZE HISTOGRAM — the dedup AUDIT census read
    after clustering (q67): how many connected components exist at
    each size, and how many docs they hold. The curve is what a
    curation review actually inspects: a fat tail of mega-clusters
    means boilerplate/templates are eating the corpus (and is the
    width-budget evidence the q53/q227 hot-bucket guards cite);
    singletons are the uncontested docs. Report:
    (cluster_size, n_clusters, n_docs) ordered by cluster_size.

    100 TB shape: q67's operator (band join → edge-bound regime
    switch) produces the label table; both histogram aggs are
    label-table-sized with map-side partials — the audit adds two
    cheap exchanges to a clustering that already ran."""
    return cluster_size_report(q67_dedup_components(spark, sf_dir))


def cluster_size_report(comp: DataFrame) -> DataFrame:
    """q236's histogram tail over a (doc_id, component) labeling —
    two label-table-sized aggs."""
    sizes = comp.groupBy("component").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").cast("long").alias("n_clusters"))
        .select(
            "cluster_size", "n_clusters",
            F.expr("cluster_size * n_clusters").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


def q237_incremental_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL component maintenance — the deployment tier
    downstream of q227's pair stream: batch q67/q236 recluster from
    scratch; a real incremental crawl folds each batch's new
    candidate pairs into the STANDING label table. History (doc_id %
    3 != 0, the q227 snapshot convention) is clustered once with the
    shared ``connected_components`` operator; the delta batch's
    pairs (delta×all band probes) then fold in through
    ``operators/graph.merge_components``, which contracts the delta
    edges to LABEL space and merges labels only. The ORACLE is the
    FULL recompute (O67's recursive transitive closure over the
    whole corpus): hash equality proves incremental == full — the
    q147/q227 incremental-equals-batch discipline applied to
    clustering itself.

    100 TB shape: history×history edges are never re-enumerated; the
    label table is scanned (broadcast endpoint probe + broadcast
    remap), never shuffled; the merge sub-problem is bounded by
    |delta pairs| and reuses the edge-count regime switch. Report:
    (doc_id, component) — identical shape to q67."""
    _, merged = _incremental_labels(spark, sf_dir)
    return merged.select(
        F.col("node").alias("doc_id"), F.col("label").alias("component")
    ).orderBy("doc_id")


def _incremental_labels(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """q237/q239's shared construction: (history labeling, merged
    labeling after the delta fold). History = doc_id % 3 != 0 (the
    q227 snapshot convention), delta = % 3 == 0."""
    from ..operators.graph import connected_components, merge_components

    # plan-lifetime band table (see band_table): both the history band
    # join and the delta probe read it
    bands = band_table(minhash_bands(_spread(spark, t(spark, sf_dir, "documents"))))
    hist = bands.filter(F.pmod("doc_id", F.lit(3)) != 0)
    hist_edges = (
        band_pairs(hist, hist, "src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    docs = t(spark, sf_dir, "documents")
    hist_nodes = docs.filter(F.pmod("doc_id", F.lit(3)) != 0).select(
        F.col("doc_id").alias("node")
    )
    labels = connected_components(hist_nodes, hist_edges)
    delta_edges = (
        band_pairs(bands.filter(F.pmod("doc_id", F.lit(3)) == 0), bands, "src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    new_nodes = docs.filter(F.pmod("doc_id", F.lit(3)) == 0).select(
        F.col("doc_id").alias("node")
    )
    merged = merge_components(labels, delta_edges, new_nodes)
    return labels, merged


# oracle = the FULL recompute: equality proves incremental == full
O237 = O67


#: q238's bucket-width budget grid — candidate max_bucket caps
_CAP_GRID = (2, 4, 8, 16)


def q238_capped_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped-LSH RECALL AUDIT — prices a freeze-at-cap hot-bucket
    guard for incremental LSH: for each candidate cap, how many of
    the FULL band-join candidate pairs survive when every band bucket
    keeps only its first ``cap`` members (doc_id arrival order). A
    pair survives at cap c iff SOME
    shared bucket holds both members at rank ≤ c, so the per-pair
    statistic is mincap = MIN over shared buckets of
    GREATEST(rank_a, rank_b), computed once — the cap grid then
    reads off counts without re-joining. Report: (cap, n_pairs_kept,
    n_pairs_lost, recall_ppm). Read next to q236's cluster-size
    histogram: q236 shows WHERE the width budget bites, this shows
    WHAT each budget costs in candidate recall.

    100 TB shape: the same band self-join as q53 (near-dup-sparse
    output), a bucket-keyed rank window (partition width = bucket
    width — the audited quantity itself), one pairs-grain agg, and a
    constant-size cap grid on a broadcast frame."""
    from pyspark.sql.window import Window

    ranked = (
        minhash_bands(_spread(spark, t(spark, sf_dir, "documents")))
        .filter(F.col("sig").isNotNull())
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("sig").orderBy("doc_id")),
        )
    )
    pairs = (
        ranked.select(F.col("doc_id").alias("id_a"), "sig", F.col("rn").alias("rn_a"))
        .join(
            ranked.select(
                F.col("doc_id").alias("id_b"), "sig", F.col("rn").alias("rn_b")
            ),
            "sig",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.min(F.greatest("rn_a", "rn_b")).alias("mincap"))
    )
    caps = spark.createDataFrame([(c,) for c in _CAP_GRID], "cap long")
    return (
        pairs.crossJoin(F.broadcast(caps))
        .groupBy("cap")
        .agg(
            F.sum(F.when(F.col("mincap") <= F.col("cap"), 1).otherwise(0))
            .cast("long").alias("n_pairs_kept"),
            F.sum(F.when(F.col("mincap") > F.col("cap"), 1).otherwise(0))
            .cast("long").alias("n_pairs_lost"),
        )
        .select(
            "cap", "n_pairs_kept", "n_pairs_lost",
            # wide-intermediate rule: the kept*1e6 product rides
            # DECIMAL(38,0); the quotient is ≤ 1e6 so BIGINT is exact
            F.expr(
                "CAST(CAST(n_pairs_kept AS DECIMAL(38,0)) * 1000000 "
                "div (n_pairs_kept + n_pairs_lost) AS BIGINT)"
            ).alias("recall_ppm"),
        )
        .orderBy("cap")
    )


O238 = f"""
WITH sigs AS (
  SELECT doc_id, {_duck_mh(0)} AS mh0, {_duck_mh(1)} AS mh1,
         {_duck_mh(2)} AS mh2, {_duck_mh(3)} AS mh3
  FROM documents
), long AS (
  SELECT doc_id, mh0 AS sig FROM sigs UNION ALL SELECT doc_id, mh1 FROM sigs
  UNION ALL SELECT doc_id, mh2 FROM sigs UNION ALL SELECT doc_id, mh3 FROM sigs
), ranked AS (
  SELECT doc_id, sig,
         ROW_NUMBER() OVER (PARTITION BY sig ORDER BY doc_id) AS rn
  FROM long WHERE sig IS NOT NULL
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         MIN(GREATEST(a.rn, b.rn)) AS mincap
  FROM ranked a JOIN ranked b ON a.sig = b.sig AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), caps AS (
  SELECT * FROM (VALUES {", ".join(f"({c})" for c in _CAP_GRID)}) AS c(cap)
)
SELECT c.cap,
       CAST(COUNT(*) FILTER (p.mincap <= c.cap) AS BIGINT) AS n_pairs_kept,
       CAST(COUNT(*) FILTER (p.mincap > c.cap) AS BIGINT) AS n_pairs_lost,
       CAST(CAST(COUNT(*) FILTER (p.mincap <= c.cap) AS HUGEINT) * 1000000
            // COUNT(*) AS BIGINT) AS recall_ppm
FROM pairs p CROSS JOIN caps c
GROUP BY c.cap ORDER BY c.cap
"""


def q239_component_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-clustering CHURN AUDIT — the operational readout
    after a q237 fold: how much did the delta batch reshape the
    standing clustering? Reports one row: history/delta doc counts,
    how many HISTORY docs changed component label (the blast radius —
    what downstream survivorship must re-evaluate), component counts
    before/after, and how many delta docs landed as singletons
    (pure-new content). Zero relabels + all-singleton deltas says the
    crawl is fresh; heavy relabeling says the delta is stitching old
    clusters together (re-dedup the affected components). Oracle:
    BOTH closures recomputed from scratch (recursive CTEs over the
    history-only and full edge sets) — so the audit's every number is
    hash-checked against first-principles recomputation.

    100 TB shape: rides q237's shared construction (one signature
    cache, label tables never shuffled — the relabel join is
    node-keyed between two label tables, the size census is
    label-table-sized); the report is six 1-row aggs crossJoined on
    broadcast frames."""
    labels, merged = _incremental_labels(spark, sf_dir)
    a = labels.agg(
        F.count("*").cast("long").alias("n_hist_docs"),
        F.countDistinct("label").cast("long").alias("n_comp_hist"),
    )
    b = merged.agg(F.countDistinct("label").cast("long").alias("n_comp_full"))
    nd = merged.filter(F.pmod("node", F.lit(3)) == 0).agg(
        F.count("*").cast("long").alias("n_delta_docs")
    )
    rel = (
        labels.select("node", F.col("label").alias("_hl"))
        .join(merged.select("node", F.col("label").alias("_fl")), "node")
        .agg(
            F.sum(F.when(F.col("_hl") != F.col("_fl"), 1).otherwise(0))
            .cast("long").alias("n_relabeled_hist")
        )
    )
    sizes = merged.groupBy("label").agg(F.count("*").alias("_sz"))
    sing = (
        merged.join(sizes, "label")
        .filter((F.pmod("node", F.lit(3)) == 0) & (F.col("_sz") == 1))
        .agg(F.count("*").cast("long").alias("n_delta_singletons"))
    )
    return (
        a.crossJoin(F.broadcast(nd))
        .crossJoin(F.broadcast(rel))
        .crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(sing))
        .select(
            "n_hist_docs", "n_delta_docs", "n_relabeled_hist",
            "n_comp_hist", "n_comp_full", "n_delta_singletons",
        )
    )


O239 = f"""
WITH RECURSIVE sigs AS (
  SELECT doc_id, {_duck_mh(0)} AS mh0, {_duck_mh(1)} AS mh1,
         {_duck_mh(2)} AS mh2, {_duck_mh(3)} AS mh3
  FROM documents
), long AS (
  SELECT doc_id, mh0 AS sig FROM sigs UNION ALL SELECT doc_id, mh1 FROM sigs
  UNION ALL SELECT doc_id, mh2 FROM sigs UNION ALL SELECT doc_id, mh3 FROM sigs
), edges AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM long a JOIN long b ON a.sig = b.sig AND a.doc_id <> b.doc_id
), hedges AS MATERIALIZED (
  SELECT src, dst FROM edges WHERE src % 3 <> 0 AND dst % 3 <> 0
), hreach(a, b) AS (
  SELECT doc_id, doc_id FROM documents WHERE doc_id % 3 <> 0
  UNION
  SELECT r.a, e.dst FROM hreach r JOIN hedges e ON r.b = e.src
), hlbl AS (
  SELECT a AS doc_id, MIN(b) AS component FROM hreach GROUP BY a
), freach(a, b) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.a, e.dst FROM freach r JOIN edges e ON r.b = e.src
), flbl AS (
  SELECT a AS doc_id, MIN(b) AS component FROM freach GROUP BY a
), fsz AS (
  SELECT component, COUNT(*) AS sz FROM flbl GROUP BY component
)
SELECT
  CAST((SELECT COUNT(*) FROM hlbl) AS BIGINT) AS n_hist_docs,
  CAST((SELECT COUNT(*) FROM flbl WHERE doc_id % 3 = 0) AS BIGINT)
    AS n_delta_docs,
  CAST((SELECT COUNT(*) FROM hlbl h JOIN flbl f USING (doc_id)
        WHERE h.component <> f.component) AS BIGINT) AS n_relabeled_hist,
  CAST((SELECT COUNT(DISTINCT component) FROM hlbl) AS BIGINT) AS n_comp_hist,
  CAST((SELECT COUNT(DISTINCT component) FROM flbl) AS BIGINT) AS n_comp_full,
  CAST((SELECT COUNT(*) FROM flbl l JOIN fsz s ON l.component = s.component
        WHERE l.doc_id % 3 = 0 AND s.sz = 1) AS BIGINT) AS n_delta_singletons
"""


QUERIES = [
    Query("q50_exact_dedup", q50_exact_dedup, O50, "sha256 exact dedup"),
    Query("q51_fingerprint_dedup", q51_fingerprint_dedup, O51, "normalized fingerprint dedup"),
    Query("q52_minhash_signatures", q52_minhash_signatures, O52, "portable MinHash"),
    Query("q53_lsh_candidate_pairs", q53_lsh_candidate_pairs, O53, "LSH band join"),
    Query("q54_ngram_jaccard", q54_ngram_jaccard, O54, "n-gram Jaccard"),
    Query("q55_lang_heuristic", q55_lang_heuristic, O55, "language-ID heuristic"),
    Query("q56_quality_scores", q56_quality_scores, O56, "quality scoring"),
    Query("q57_token_counts", q57_token_counts, O57, "token counting"),
    Query("q58_knn_exact", q58_knn_exact, O58, "exact cosine top-k"),
    Query("q59_centroids", q59_centroids, O59, "embedding centroids"),
    Query("q60_multimodal_stats", q60_multimodal_stats, O60, "multimodal binary stats"),
    Query("q61_simhash", q61_simhash, O61, "64-bit SimHash signatures"),
    Query("q62_simhash_bands", q62_simhash_bands, O62, "SimHash banding near-dup"),
    Query("q63_cosine_near_dup", q63_cosine_near_dup, O63, "embedding-cosine near-dup"),
    Query("q64_ann_hyperplane_lsh", q64_ann_hyperplane_lsh, O64, "hyperplane-LSH bucketed ANN"),
    Query("q65_winnowing_fingerprints", q65_winnowing_fingerprints, O65, "winnowing rolling-hash fingerprints"),
    Query("q66_multimodal_features", q66_multimodal_features, O66, "mapInPandas feature kernel"),
    Query("q67_dedup_components", q67_dedup_components, O67,
          "iterative connected-components dedup clustering"),
    Query("q68_edit_distance", q68_edit_distance, O68, "Levenshtein in-bucket rescore"),
    Query("q76_trigram_lang_id", q76_trigram_lang_id, O76,
          "character-trigram language-ID (profile + argmax)"),
    Query("q77_quantized_knn", q77_quantized_knn, O77,
          "int8-quantized cosine top-k (exact integer dot products)"),
    Query("q81_lsh_rescored_jaccard", q81_lsh_rescored_jaccard, O81,
          "LSH candidates -> exact Jaccard rescore (scale path of q54)"),
    Query("q82_bucket_cosine_pairs", q82_bucket_cosine_pairs, O82,
          "hyperplane-bucket cosine near-dup (scale path of q63)"),
    Query("q83_lsh_edit_rescore", q83_lsh_edit_rescore, O83,
          "LSH candidates -> Levenshtein rescore (scale path of q68)"),
    Query("q84_training_set_select", q84_training_set_select, O84,
          "composed dedup+quality+length training-set selection"),
    Query("q86_stratified_sample", q86_stratified_sample, O86,
          "deterministic hash-gated stratified sampling"),
    Query("q87_bm25_topk", q87_bm25_topk, O87,
          "BM25 keyword search top-k (inverted-index shape)"),
    Query("q88_repetition_ratio", q88_repetition_ratio, O88,
          "within-doc duplicate-shingle repetition signal"),
    Query("q89_token_chunks", q89_token_chunks, O89,
          "context-window chunking (50-token windows, 40 stride)"),
    Query("q90_bigram_pmi", q90_bigram_pmi, O90,
          "bigram PMI collocation mining (quantized)"),
    Query("q93_kmeans_assign", q93_kmeans_assign, O93,
          "k-means assignment step (int8 cosine, exact argmax)"),
    Query("q94_curation_pipeline", q94_curation_pipeline, O94,
          "composed curation funnel: dedup+quality+sample+chunk budget"),
    Query("q95_pack_sequences", q95_pack_sequences, O95,
          "sequence packing via hierarchical prefix sum"),
    Query("q96_decontamination", q96_decontamination, O96,
          "benchmark n-gram decontamination (broadcast eval set)"),
    Query("q97_incremental_dedup", q97_incremental_dedup, O97,
          "incremental crawl dedup vs historical index (3-tier verdict)"),
    Query("q98_multimodal_frames", q98_multimodal_frames, O98,
          "1-to-N video frame sampling through mapInPandas"),
    Query("q91_cluster_representative", q91_cluster_representative, O91,
          "dedup survivorship by quality (richest cluster member)"),
    Query("q99_pii_scrub", q99_pii_scrub, O99,
          "native-regex PII scrub (emails/phones/digit runs)"),
    Query("q100_global_shuffle", q100_global_shuffle, O100,
          "deterministic seeded global shuffle (sharded training order)"),
    Query("q101_temperature_resample", q101_temperature_resample, O101,
          "multilingual temperature resampling weights (alpha=0.7)"),
    Query("q102_tfidf_terms", q102_tfidf_terms, O102,
          "corpus TF-IDF vocabulary ranking (one-shuffle tf+df)"),
    Query("q104_source_quota", q104_source_quota, O104,
          "per-source quota cap (domain cap, top-15 by length)"),
    Query("q120_ticket_weighted_sample", q120_ticket_weighted_sample, O120,
          "ticket-lottery weighted sample (no transcendental math)"),
    Query("q127_prefix_filter_join", q127_prefix_filter_join, O127,
          "exact set-similarity join via prefix filtering (no LSH recall loss)"),
    Query("q128_sorted_neighborhood", q128_sorted_neighborhood, O128,
          "blocked sorted-neighborhood blocking + within-row lead rescore"),
    Query("q125_paragraph_dedup", q125_paragraph_dedup, O125,
          "sub-document paragraph dedup (first-occurrence retention)"),
    Query("q136_trigram_lm", q136_trigram_lm, O136,
          "trigram LM conditionals P(w3|w1w2) (census-sized second agg)"),
    Query("q137_cluster_quality", q137_cluster_quality, O137,
          "Davies-Bouldin cluster quality (one pass + label-sized algebra)"),
    Query("q155_vocab_growth", q155_vocab_growth, O155,
          "Heaps-law vocabulary growth curve (one-pass first-seen census)"),
    Query("q175_token_heavy_hitters", q175_token_heavy_hitters, O175,
          "token heavy hitters (exact; MG-sketch twin in operators/sketch.py)"),
    Query("q177_heavy_hitters_sketch", q177_heavy_hitters_sketch, None,
          "MG-sketch heavy hitters, self-verifying vs the exact census "
          "(rows-only: MG estimates are partitioning-dependent by design)"),
    Query("q180_sentiment_lexicon", q180_sentiment_lexicon, O180,
          "lexicon-scored doc classification (broadcast lexicon, "
          "postings-only explode, exact integer label census)"),
    Query("q179_hybrid_retrieval_rrf", q179_hybrid_retrieval_rrf, O179,
          "hybrid BM25 + cosine retrieval fused by Reciprocal Rank Fusion "
          "(integer floor-div contributions, full-outer truncated-list fuse)"),
    Query("q182_lm_likelihood_filter", q182_lm_likelihood_filter, O182,
          "CCNet-style trigram-LM likelihood filter (ppm-quantized "
          "conditionals, integer scores, 20 least-likely docs)"),
    Query("q183_bloom_incremental_dedup", q183_bloom_incremental_dedup, O183,
          "relational bloom-filter incremental crawl dedup (portable "
          "md5 bit positions, bit_or word table, broadcast probe; "
          "asserts no-false-negative in-plan, reports FP ppm)"),
    Query("q184_recursive_hierarchy", q184_recursive_hierarchy, O184,
          "native WITH RECURSIVE hierarchy walk (Spark 4 fixpoint vs "
          "DuckDB recursion; per-depth census, exact cents)"),
    Query("q185_variant_shredding", q185_variant_shredding, O185,
          "Spark 4 VARIANT semi-structured path (try_parse_json once, "
          "typed try_variant_get; errors-as-data)"),
    Query("q186_simpson_diversity", q186_simpson_diversity, O186,
          "char-distribution repetitiveness gate via the Simpson index "
          "(rational arithmetic — no log, engine-exact)"),
    Query("q187_stratified_split", q187_stratified_split, O187,
          "exact-proportion stratified train/val/test assignment via "
          "seeded-md5 ranking (floor cuts per stratum)"),
    Query("q188_countmin_frequency", q188_countmin_frequency, O188,
          "count-min-sketch token frequencies vs the exact census "
          "(deterministic seeded-md5 cells -> oracle-exact; asserts "
          "est >= true in-plan, reports collision overcount)"),
    Query("q190_containment_join", q190_containment_join, O190,
          "exact set-containment join (asymmetric near-dup: A-prefix "
          "probes B's full index; catches subsumption symmetric "
          "Jaccard cannot; integer filters, prefix-only oracle)"),
    Query("q189_duplicate_spans", q189_duplicate_spans, O189,
          "exact duplicate-span detection (ExactSubstr semantics: "
          "k-gram census + semi-join + interval-union coverage sweep; "
          "catches shared boilerplate doc-level MinHash cannot)"),
    Query("q192_arrow_knn", q192_arrow_knn, O192,
          "Arrow-native int8 kNN via mapInArrow (zero-copy numpy GEMM "
          "kernel, per-batch top-k shard-and-merge; exact-integer dots "
          "+ bit-portable float64 cosine -> oracle-exact)"),
    Query("q201_coverage_selection", q201_coverage_selection, O201,
          "greedy set-cover data selection (3 unrolled submodular "
          "rounds over distinct 3-token shingles; anti-join vs the "
          "covered set + gain census per round; greedy (1-1/e) trace)"),
    Query("q199_bpe_merges", q199_bpe_merges, O199,
          "BPE tokenizer-training loop (3 unrolled merge rounds: "
          "weighted pair census -> argmax -> relational rewrite; only "
          "the word census touches the corpus; cross-engine-identical "
          "single-pass merge application)"),
    Query("q195_audio_segments", q195_audio_segments, O195,
          "overlapping-window audio segmentation (1->N mapInPandas with "
          "batch amplification; exact integer time->byte mapping, "
          "md5-folded segment checksums -> oracle-exact)"),
    Query("q191_kmv_distinct", q191_kmv_distinct, O191,
          "KMV/theta distinct sketch per lang + lossless union row "
          "(portable md5 min-k -> oracle-exact estimates; "
          "WindowGroupLimit-bounded shuffle; reports signed error "
          "vs the exact census)"),
    Query("q203_kmv_set_algebra", q203_kmv_set_algebra, O203,
          "theta-sketch set algebra: |A intersect B| and |A minus B| "
          "per lang pair from the <=K-row sketches alone (exact-below-"
          "theta rule; label-sized after the rank; oracle-exact via "
          "deterministic hashing, signed error vs the exact census)"),
    Query("q204_semantic_dedup_clusters", q204_semantic_dedup_clusters, O204,
          "SemDeDup embedding near-dup clustering: q82's bucketed "
          "cosine edges -> connected components -> keep-one census "
          "(rounded-cosine gate makes edges engine-identical; oracle "
          "replays them through a recursive reachability walk)"),
    Query("q205_phash_near_dup", q205_phash_near_dup, O205,
          "perceptual-hash (aHash) near-duplicate image pairs: Arrow "
          "decode kernel -> 4x16-bit bands -> band-collision candidates "
          "-> exact Hamming rescore (oracle recomputes the grid pixels "
          "from ascii codepoints under an in-plan char==byte assert)"),
    Query("q206_record_linkage", q206_record_linkage, O206,
          "Fellegi-Sunter record-linkage scoring over q128's sorted-"
          "neighborhood candidates: integer millibit log-likelihood "
          "weights, link/possible/non_link verdicts (the classic ER "
          "decision model; within-row comparisons, never a pair join)"),
    Query("q207_fs_em_weights", q207_fs_em_weights, O207,
          "unsupervised EM training of the Fellegi-Sunter (m, u, p) "
          "parameters over the <=16-row agreement-pattern census (4 "
          "field comparators incl. the bigram-overlap string test): 2 "
          "unrolled rounds of exact-integer ppm arithmetic (q199's "
          "loop recipe) — iteration cost independent of corpus size"),
    Query("q208_fs_trained_classify", q208_fs_trained_classify, O208,
          "end-to-end trained record linkage: block -> EM-train (q207) "
          "-> classify every candidate pair by its pattern's exact-ppm "
          "posterior match probability (log-free, oracle-exact; the "
          "<=16-row posterior table broadcasts back onto the pairs)"),
    Query("q209_dct_phash_near_dup", q209_dct_phash_near_dup, O209,
          "DCT-based pHash image near-dup: integer 2-D DCT with the "
          "committed fixed-point cosine table, bits vs the exact AC "
          "median, then q205's shared band-join + Hamming rescore "
          "(production perceptual hash, still oracle-exact)"),
    Query("q210_bpe_tokenize", q210_bpe_tokenize, O210,
          "trained-tokenizer application: q199's 3 learned merges "
          "applied in order to the FULL word census via the shared "
          "merge operator; top-20 token vocabulary report (corpus "
          "touched once, application is census-sized)"),
    Query("q211_jaro_winkler", q211_jaro_winkler, O211,
          "Jaro-Winkler name similarity over SNM pairs as a pure "
          "within-row aggregate() fold (16-bit used mask, nested "
          "lambda window search) in exact ppm integers; oracle = the "
          "same greedy recurrence as a recursive CTE"),
    Query("q213_smoothed_lm_filter", q213_smoothed_lm_filter, O213,
          "interpolated absolute-discounting trigram LM filter (the "
          "smoothed KenLM-style production form of q182): D=0.75 as a "
          "ppm constant, distinct-continuation censuses, one floor "
          "division per level with the quantization order documented; "
          "LM censuses broadcast onto the corpus trigram stream; "
          "pinned vs an independent Python scorer"),
    Query("q214_er_entities", q214_er_entities, O214,
          "entity-resolution endgame: transitive closure of q208's "
          "trained 'link' verdicts into entities (connected "
          "components over the sparse link graph, q204's operator), "
          "reported as the merge census with component-min canonical "
          "ids — the full Splink-style stack composed end-to-end"),
    Query("q212_kmeans_train", q212_kmeans_train, O212,
          "k-means TRAINING: 2 unrolled Lloyd rounds in exact integer "
          "arithmetic (md5-stratum seeds, 2<x,c>-<c,c> argmax, "
          "non-negative-shift floor-mean update) — assignment is an "
          "unrolled scan against literal centroids, the only exchange "
          "is K*64 rows; DuckDB replays both rounds, plus an "
          "independent Python Lloyd pin"),
    Query("q215_golden_records", q215_golden_records, O215,
          "golden-record survivorship (MDM merge): one canonical "
          "record per q214 entity — longest-text representative, "
          "modal source, exact merge checksums; membership broadcasts "
          "onto the corpus scan (corpus never shuffles); oracle "
          "extends q214's recursive closure with the same "
          "deterministic row_number picks"),
    Query("q216_soundex_blocking", q216_soundex_blocking, O216,
          "American Soundex phonetic blocking census over the corpus "
          "vocabulary: one engine-portable string-algebra expression "
          "(no UDF, codegen-resident), pinned on the published "
          "classics; top-20 phonetic buckets with deterministic "
          "example members"),
    Query("q217_corpus_mixer", q217_corpus_mixer, O217,
          "training-mix planner + deterministic resampling: per-source "
          "token census, exact-ppm keep-rate solve against a uniform "
          "mixture target (capped, never upsampled), md5 hash-gate "
          "application at 24-bit resolution; plan and achieved sample "
          "reported side by side"),
    Query("q218_allpairs_cosine", q218_allpairs_cosine, O218,
          "exact weighted-cosine all-pairs join (Bayardo AllPairs): "
          "conservative integer prefix filter (exact +-1-adjusted "
          "isqrt, ceil-div normalized-weight bounds, suffix-bound "
          "window) -> prefix-index probe -> exact integer-square "
          "rescore; zero false negatives, pinned vs brute force"),
    Query("q219_lsh_calibration", q219_lsh_calibration, O219,
          "LSH banding calibration GRID: exact-Jaccard ground truth "
          "(computed once on a deterministic 30% hash-gated sample) "
          "vs the band candidates of every (r x b) layout of one "
          "shared 8-minhash signature pass - (1,4) is the production "
          "q53 config; one confusion-matrix row per layout, the "
          "measured 1-(1-s^r)^b decision table"),
    Query("q220_dim_truncation_recall", q220_dim_truncation_recall, O220,
          "Matryoshka-style dimension-truncation calibration: exact "
          "int8-cosine top-10 at 64 dims vs the first-16-dims ranking "
          "of the same quantized codes, per-query overlap/recall_ppm "
          "and top-1 ids - q219's measure-the-production-kernel "
          "pattern for the ANN family"),
    Query("q221_funnel_ablation", q221_funnel_ablation, O221,
          "curation-funnel ablation census: per-gate fail-alone vs "
          "sequential marginal kill over q84's exact gates plus the "
          "repetition gate - one scan, one sha survivorship exchange, "
          "4-row tall report"),
    Query("q222_dedup_threshold_sweep", q222_dedup_threshold_sweep, O222,
          "dedup threshold-sensitivity sweep: q81's exact-Jaccard "
          "rescored band candidates bucketed over a 5-point tau grid "
          "- per-threshold pair and touched-doc counts, the tuning "
          "curve for choosing a near-dup cutoff"),
    Query("q223_tokenizer_fertility", q223_tokenizer_fertility, O223,
          "tokenizer fertility census: the trained BPE merges applied "
          "through the shared merge operator, corpus-weighted words-"
          "by-token-count distribution + global tokens-per-word and "
          "chars-per-token in exact ppm - the sentencepiece-style "
          "tokenizer evaluation"),
    Query("q224_perceptron_quality", q224_perceptron_quality, O224,
          "perceptron quality-classifier training: 2 unrolled batch "
          "epochs over all-integer document features, oracle-exact - "
          "one narrow scan + one 1-row agg per epoch, the q212 "
          "trained-component recipe for the linear-classifier family"),
    Query("q225_dsir_importance", q225_dsir_importance, O225,
          "DSIR-style importance weights: hashed-bigram target/raw "
          "censuses (fixed 256-bucket space, map-side combined), "
          "linearized likelihood-ratio weight table in exact ppm "
          "broadcast onto the corpus bigram stream, per-doc "
          "importance + top-k - the data-selection scorer family of "
          "Xie et al. 2023"),
    Query("q226_source_quality_lcb", q226_source_quality_lcb, O226,
          "source quality leaderboard by exact-integer Wilson lower "
          "confidence bound (z=2, +-1-adjusted isqrt, pinned "
          "quantization order): one corpus scan to a sources-bounded "
          "(n, k) census, leaderboard math census-side - the "
          "crawl-budget ranking that a raw pass rate gets wrong on "
          "small sources"),
    Query("q227_incremental_lsh_pairs", q227_incremental_lsh_pairs, O227,
          "incremental LSH candidate maintenance: delta batch probes "
          "the (history + delta) band-signature table, emitting only "
          "pairs that touch a new doc - history x history never "
          "enumerates; the near-dup tier of the q97/q183 incremental "
          "crawl family, delta-sized probe work per batch"),
    Query("q228_repetition_profile", q228_repetition_profile, O228,
          "Gopher-style within-doc repetition profile: duplicate "
          "n-gram fractions (n=2,3,4) within-row + top-bigram mass "
          "share via one uniform (doc_id, gram) exchange, exact ppm; "
          "top-20 most repetitive docs - the multi-gate review queue "
          "behind a repetition threshold"),
    Query("q229_embedding_drift", q229_embedding_drift, O229,
          "embedding distribution-drift census between snapshots: "
          "per-dim int8-code means old vs new in exact ppm via the "
          "q212 non-negative shift - one scan to a 2x64-row census, "
          "the encoder/corpus monitoring pass"),
    Query("q230_length_drift_chi2", q230_length_drift_chi2, O230,
          "length-distribution drift as an exact-integer chi-square "
          "census over fixed n_chars buckets (add-1-smoothed, "
          "cross-multiplied to one DECIMAL rational) - the bit-stable "
          "dataset-shift alarm; one scan to a buckets-bounded census, "
          "every division census-side"),
    Query("q231_perplexity_buckets", q231_perplexity_buckets, O231,
          "CCNet-style per-language quality tertiles (head/middle/"
          "tail) with tie-stable boundaries computed on the "
          "(lang, score) histogram, never by row-number over docs - "
          "one scan to a histogram, window + re-agg census-side"),
    Query("q232_source_vocab_overlap", q232_source_vocab_overlap, O232,
          "cross-source vocabulary-overlap matrix: exact Jaccard ppm "
          "between per-source distinct-token sets via one term-keyed "
          "self-join over the Heaps-sublinear (source, term) table"),
    Query("q233_tfidf_keywords", q233_tfidf_keywords, O233,
          "per-doc top-3 keyword extraction by exact integer tf*(N "
          "div df) with (score desc, term) tie-break - q87's BM25 "
          "machinery as a corpus-wide metadata pass; three uniform-"
          "key exchanges, nothing driver-side"),
    Query("q234_zipf_head_profile", q234_zipf_head_profile, O234,
          "top-50 Zipf head census with exact per-term and cumulative "
          "token-mass shares (ppm) - stopword/head-cutoff evidence; "
          "vocab census + parallel TakeOrdered + report-sized window"),
    Query("q235_bigram_novelty", q235_bigram_novelty, O235,
          "incremental novelty scoring: per new doc the ppm of its "
          "distinct bigrams unseen in the old snapshot's bigram "
          "vocabulary (q183's never-reshuffle-history contract); "
          "delta-sized doc agg + TakeOrdered"),
    Query("q236_cluster_size_histogram", q236_cluster_size_histogram, O236,
          "near-dup cluster-size histogram over q67's connected "
          "components - the dedup audit census (mega-cluster tail = "
          "the hot-bucket width-budget evidence); two label-table-"
          "sized aggs on top of the shared graph operator"),
    Query("q237_incremental_components", q237_incremental_components, O237,
          "incremental connected-components maintenance: fold the "
          "delta batch's pairs into the standing label table via "
          "merge_components (label-space contraction, broadcast "
          "remap); oracle = full recompute, hash equality proves "
          "incremental == full"),
    Query("q238_capped_lsh_recall", q238_capped_lsh_recall, O238,
          "capped-LSH recall audit: per width-budget cap, the "
          "candidate pairs kept/lost when every band bucket keeps "
          "its first cap members (a freeze-at-cap policy); per-pair "
          "mincap computed once, the grid "
          "reads off counts"),
    Query("q239_component_churn", q239_component_churn, O239,
          "incremental-clustering churn audit: relabeled-history "
          "blast radius, component counts before/after the fold, "
          "delta singletons; oracle recomputes BOTH closures from "
          "scratch"),
]
